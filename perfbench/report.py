"""Turn one run record (written by the JVM harness) into metrics.

End-to-end metrics come from the untraced window only; per-layer metrics
come from the traced window's spans, Spark jobs and plans. Layers are
the program's modules: a job belongs to the module of the deepest
program frame that submitted it (its call site), or else to the layer of
the span it ran in.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

END_TO_END = {
    "setup_s": "s",
    "headline_s": "s",
    "unit_s": "s",
    "cpu_per_unit_s": "s",
    "heap_peak_mb": "MB",
}

# the request kind each workload's headline_s is taken over
HEADLINE = {"load": "sql.upsert", "store": "serve"}

PER_LAYER = {
    # end-to-end figures of single request kinds, from the trace run's
    # untraced window
    "ops_failed_ratio": "ratio",
    "load.sql_rows_per_s": "rows/s", "load.parquet_rows_per_s": "rows/s",
    "load.sql_upsert_p50_s": "s", "load.parquet_upsert_p50_s": "s",
    "load.space_amp": "ratio",
    "store.serve_p50_s": "s", "store.serve_max_s": "s",
    "store.append_p50_s": "s", "store.delete_p50_s": "s",
    "store.compactions": "count",
    # the traced window
    "trace.loop_wall_s": "s", "trace.self_sum_s": "s",
    "trace.overhead_s": "s", "trace.spans": "count",
    "engine.jobs": "count", "engine.tasks": "count", "engine.task_s": "s",
    "engine.gc_s": "s", "engine.shuffle_write_mb": "MB",
    "engine.spill_mb": "MB", "engine.driver_s": "s",
    "plan.exchanges": "count", "plan.smj": "count", "plan.sort_agg": "count",
    "plan.object_hash_agg": "count", "plan.hash_agg": "count",
    "plan.sort_fallback_tasks": "count",
    "api.calls": "count", "api.wall_s": "s", "api.driver_s": "s",
    "checks.job_s": "s", "types.job_s": "s", "sql.job_s": "s",
    "sql.driver_s": "s", "sources.job_s": "s", "sources.bytes_written": "B",
    "sources.write_amp": "ratio",
    "operators.job_s": "s", "operators.build_s": "s", "operators.exec_s": "s",
    "Materialize.job_s": "s",
    "sources.Maintenance.compact_s": "s", "store.files": "count",
    "store.pending_tombstones": "count",
}
for _m, _u in (("build_s", "s"), ("ensure_s", "s"), ("ensure_jobs", "count"),
               ("query_exec_s", "s"), ("append_s", "s"),
               ("append_bytes_written", "B"), ("delete_s", "s")):
    PER_LAYER[f"operators.IndexStore.{_m}"] = _u
JOB_MODULES = ("checks", "types", "sql", "sources", "operators", "Materialize")


def valid_name(name):
    return bool(NAME_RE.match(name))


def percentile_support(n, beyond=10):
    """Index and level of the highest percentile with at least `beyond`
    samples above it in `n` sorted samples, or None below `beyond + 1`."""
    if n <= beyond:
        return None
    idx = n - beyond - 1
    return idx, (idx + 1) / n


def self_times(spans):
    """Span id -> its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
               for c in kids.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(ivs)
    return out


def union_length(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def module_of_class(cls):
    """`graft.checks.Validations$` -> `checks`; `graft.Materialize$` ->
    `Materialize`; anything outside the program -> None."""
    parts = cls.split(".")
    if len(parts) < 2 or parts[0] != "graft":
        return None
    if len(parts) > 2 and parts[1][:1].islower():
        return parts[1]
    return parts[1].split("$")[0]


def call_site_module(long_form):
    """Module of the deepest program frame in a Spark long call site."""
    for line in long_form.splitlines():
        frame = line.strip()
        if frame.startswith("graft."):
            cls = frame.split("(")[0].rsplit(".", 1)[0]
            return module_of_class(cls)
    return None


def span_layer(name):
    return "bench" if name == "request" else name.split(".")[0]


def attribute_jobs(jobs, spans, plans=()):
    """Job id -> (span or None, module). The job group names the span; a
    job from a thread without the group falls back to the innermost span
    whose window holds the job's start. The module comes from the job's
    call site, else from the call site of the SQL execution it belongs
    to, else from the layer of its span."""
    by_id = {s["id"]: s for s in spans}
    exec_site = {p["exec"]: p["call_site"] for p in plans}
    out = {}
    for j in jobs:
        span = None
        if j["group"].startswith("gb-"):
            span = by_id.get(int(j["group"][3:]))
        if span is None:
            holding = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            span = max(holding, key=lambda s: s["start"]) if holding else None
        mod = (call_site_module(j["call_site"]) or
               call_site_module(exec_site.get(j["exec"], "")))
        if mod is None:
            mod = span_layer(span["name"]) if span else "bench"
        out[j["id"]] = (span, mod)
    return out


def job_wall(j):
    return max(0.0, (j["end"] if j["end"] >= 0 else j["start"]) - j["start"])


def secs(op):
    return (op["end"] - op["start"]) / 1000


def untraced(rec):
    return [o for o in rec["ops"] if not o["traced"]]


def headline(workload, ops):
    """The workload's headline latency: the median SQL upsert (load) or
    the median serve (store)."""
    return statistics.median(
        [secs(o) for o in ops if o["kind"] == HEADLINE[workload]])


def end_to_end(rec):
    ops = untraced(rec)
    return {
        "setup_s": rec["startup_s"],
        "headline_s": headline(rec["workload"], ops),
        "unit_s": sum(secs(o) for o in ops) / rec["units"],
        "cpu_per_unit_s": rec["loop_cpu_s"] / rec["units"],
        "heap_peak_mb": rec["heap_peak_mb"],
    }


def kind_figures(rec):
    """End-to-end figures of single request kinds, from the untraced
    window; 0 where the workload has no such request."""
    ops = untraced(rec)

    def lat(*kinds):
        return [secs(o) for o in ops if o["kind"] in kinds]

    def p50(xs):
        return statistics.median(xs) if xs else 0.0

    bad = (sum(not o["ok"] for o in rec["ops"]) +
           sum(not c["ok"] for c in rec["checks"]))
    out = {"ops_failed_ratio": bad / (len(rec["ops"]) + len(rec["checks"]))}
    facts = rec["facts"]
    for route in ("sql", "parquet"):
        writes = [o for o in ops
                  if o["kind"] in (f"{route}.create", f"{route}.append")]
        t = sum(map(secs, writes))
        out[f"load.{route}_rows_per_s"] = (
            sum(o["rows"] for o in writes) / t if t else 0.0)
        out[f"load.{route}_upsert_p50_s"] = p50(lat(f"{route}.upsert"))
    out["load.space_amp"] = facts.get("space_amp", 0.0)
    out["store.serve_p50_s"] = p50(lat("serve"))
    out["store.serve_max_s"] = max(lat("serve"), default=0.0)
    out["store.append_p50_s"] = p50(lat("append"))
    out["store.delete_p50_s"] = p50(lat("delete"))
    out["store.compactions"] = facts.get("compactions", 0)
    return out


def details(rec):
    """Per-kind latencies, the highest supported tail percentile and span
    totals, for the log."""
    ops = untraced(rec)
    out = {"requests": len(ops)}
    for kind in sorted({o["kind"] for o in ops}):
        out[f"latencies {kind}"] = " ".join(
            f"{secs(o):.3f}" for o in ops if o["kind"] == kind)
    sup = percentile_support(len(ops))
    if sup and sup[1] > 0.5:
        out[f"latency_p{round(100 * sup[1])}_s"] = sorted(map(secs, ops))[sup[0]]
    by_name = {}
    for s in rec["spans"]:
        by_name.setdefault(s["name"], []).append((s["end"] - s["start"]) / 1000)
    for name, ds in sorted(by_name.items()):
        out[f"span {name}"] = f"{len(ds)} calls, {sum(ds):.3f} s"
    return out


def per_layer(rec):
    m = {k: 0.0 for k in PER_LAYER}
    m.update(kind_figures(rec))
    spans = rec["spans"]
    t0, t1 = rec["traced_loop"]
    jobs = [j for j in rec["jobs"] if t0 <= j["start"] <= t1]
    plans = [p for p in rec["plans"] if t0 <= p["start"] <= t1]
    attr = attribute_jobs(jobs, spans, rec["plans"])
    facts = rec["facts"]

    # tracing cost: traced requests against the untraced mean of their
    # kind; the untraced window runs first, so a still-warming JVM biases
    # it towards negative
    base = {}
    for o in rec["ops"]:
        if not o["traced"]:
            base.setdefault(o["kind"], []).append(o["end"] - o["start"])
    over = sum((o["end"] - o["start"]) - statistics.fmean(base[o["kind"]])
               for o in rec["ops"] if o["traced"] and o["kind"] in base)
    selfs = self_times(spans)
    m["trace.loop_wall_s"] = (t1 - t0) / 1000
    m["trace.self_sum_s"] = sum(selfs.values()) / 1000
    m["trace.overhead_s"] = over / 1000
    m["trace.spans"] = len(spans)

    m["engine.jobs"] = len(jobs)
    m["engine.tasks"] = sum(j["tasks"] for j in jobs)
    m["engine.task_s"] = sum(j["run_ms"] for j in jobs) / 1000
    m["engine.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1000
    m["engine.shuffle_write_mb"] = sum(j["shuffle_write"] for j in jobs) / 2**20
    m["engine.spill_mb"] = sum(j["spill"] for j in jobs) / 2**20
    m["engine.driver_s"] = ((t1 - t0) - union_length(
        [(j["start"], j["start"] + job_wall(j)) for j in jobs])) / 1000
    for k in ("exchanges", "smj", "sort_agg", "object_hash_agg", "hash_agg",
              "sort_fallback_tasks"):
        m[f"plan.{k}"] = sum(p[k] for p in plans)

    for j in jobs:
        mod = attr[j["id"]][1]
        if mod in JOB_MODULES:
            m[f"{mod}.job_s"] += job_wall(j) / 1000

    def jobs_under(span):
        """Jobs run inside `span` or any span below it."""
        ids = {span["id"]}
        grew = True
        while grew:
            grew = False
            for s in spans:
                if s["parent"] in ids and s["id"] not in ids:
                    ids.add(s["id"])
                    grew = True
        return [j for j in jobs if attr[j["id"]][0] and attr[j["id"]][0]["id"] in ids]

    def driver_s(span):
        ivs = [(max(j["start"], span["start"]), min(j["start"] + job_wall(j), span["end"]))
               for j in jobs_under(span)]
        return ((span["end"] - span["start"]) - union_length(ivs)) / 1000

    api = [s for s in spans if s["name"] == "api.Graft.dfToTable"]
    m["api.calls"] = len(api)
    m["api.wall_s"] = sum(s["end"] - s["start"] for s in api) / 1000
    m["api.driver_s"] = sum(driver_s(s) for s in api)
    m["sql.driver_s"] = sum(driver_s(s) for s in api
                            if s["tags"].get("route") == "sql"
                            and s["tags"].get("method") == "upsert")
    m["sources.bytes_written"] = sum(j["out_bytes"] for j in jobs
                                     if attr[j["id"]][1] == "sources")
    pq_up = [s for s in api if s["tags"].get("route") == "parquet"
             and s["tags"].get("method") == "upsert"]
    delta_bytes = len(pq_up) * facts.get("delta_rows", 0) * facts.get("row_bytes", 0)
    if delta_bytes:
        m["sources.write_amp"] = sum(j["out_bytes"] for s in pq_up
                                     for j in jobs_under(s)) / delta_bytes

    def mean_dur(name):
        ds = [s["end"] - s["start"] for s in spans if s["name"] == name]
        return statistics.fmean(ds) / 1000 if ds else 0.0

    p = "operators.IndexStore"
    m[f"{p}.build_s"] = facts.get("build_s", {}).get("IndexStore", 0.0)
    m[f"{p}.ensure_s"] = mean_dur(f"{p}.ensure")
    ens = [s for s in spans if s["name"] == f"{p}.ensure"]
    if ens:
        m[f"{p}.ensure_jobs"] = sum(len(jobs_under(s)) for s in ens) / len(ens)
    m[f"{p}.query_exec_s"] = mean_dur(f"{p}.query_exec")
    m[f"{p}.append_s"] = mean_dur(f"{p}.append")
    m[f"{p}.append_bytes_written"] = sum(
        j["out_bytes"] for s in spans if s["name"] == f"{p}.append"
        for j in jobs_under(s))
    m[f"{p}.delete_s"] = mean_dur(f"{p}.delete")
    m["operators.build_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "operators.build") / 1000
    m["operators.exec_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "operators.exec") / 1000
    # a policy compaction is the tail of its ensure: from the first job
    # submitted from under Maintenance to the end of the span
    for s in spans:
        if s["name"].endswith(".ensure"):
            starts = [j["start"] for j in jobs_under(s)
                      if "graft.sources.Maintenance" in j["call_site"]]
            if starts:
                m["sources.Maintenance.compact_s"] += (s["end"] - min(starts)) / 1000
    m["store.files"] = sum(facts.get("files", {}).values())
    m["store.pending_tombstones"] = facts.get("pending_tombstones_per_serve", 0.0)
    return m
