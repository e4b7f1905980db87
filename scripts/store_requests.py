#!/usr/bin/env python3
"""Where each request of a traced benchmark run spent its time.

Usage: python3 scripts/store_requests.py <trace.json> [--top N]
           [--budget KIND=JOBS,...]

<trace.json> is the record a traced run of either workload keeps, e.g.
`.bench_build/perfbench/traces/store-7.json` after
`python3 perfbench/run.py --workload store --seed 7 --seconds 20 --trace 1`,
or `.bench_build/perfbench/traces/load-7.json` after the same command
with `--workload load`. Request kinds are the workload's own: `serve`,
`append`, `delete` on `store`; `sql.create`, `sql.append`,
`sql.upsert`, `parquet.create`, `parquet.append`, `parquet.upsert` on
`load`.

For every request of the traced window (only traced requests carry
spans) it prints the request's kind, wall time, job count, job wall
time (the union of its jobs' intervals) and driver gaps (wall time with
no job running). Below that, the request's jobs are grouped by the
program frame that submitted them: the deepest `graft.` frame of the
job's call site, or, for a job with no program frame (adaptive query
stages, helper threads), the deepest program frame of its SQL
execution's call site. A job whose action the caller ran itself (the
benchmark collecting a query's rows) is grouped under the caller's
frame, marked `caller:`. Each group
shows its job count, job wall time and the driver gap that ran before
its jobs (from the previous job's end, or the request start, to the
job's start), so a frame whose jobs are short but preceded by long
gaps is a frame of driver-side planning or bookkeeping.

A job belongs to the request whose window holds its start time.

`--budget serve=25,delete=18,append=36` (a `store` trace) or
`--budget sql.upsert=2,sql.create=3,parquet.upsert=8` (a `load` trace)
gives each request kind a job budget: every traced request over its kind's budget is listed on
stderr and the script exits 1. Kinds without a budget are not checked.
"""
import argparse
import json
import sys


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


def program_frame(call_site, prefixes=("graft.",)):
    """The deepest frame of a Spark long call site that starts with one
    of `prefixes`, or None."""
    for line in call_site.splitlines():
        frame = line.strip()
        if frame.startswith(prefixes):
            return frame
    return None


def caller_frame(call_site):
    """The deepest frame outside Spark, Scala and the JDK, or None."""
    for line in call_site.splitlines():
        frame = line.strip()
        if frame and not frame.startswith(("org.apache.spark.", "scala.",
                                           "java.", "jdk.", "sun.")):
            return "caller: " + frame
    return None


def job_end(job):
    return job["end"] if job["end"] >= 0 else job["start"]


def frame_of(job, exec_site):
    sql_site = exec_site.get(job["exec"], "")
    return (program_frame(job["call_site"]) or program_frame(sql_site) or
            caller_frame(job["call_site"]) or caller_frame(sql_site) or
            "(no frame)")


def requests(rec):
    """(request span, its jobs sorted by start) in time order."""
    reqs = sorted((s for s in rec["spans"] if s["name"] == "request"),
                  key=lambda s: s["start"])
    jobs = sorted(rec["jobs"], key=lambda j: j["start"])
    return [(r, [j for j in jobs if r["start"] <= j["start"] <= r["end"]])
            for r in reqs]


def report(rec, top):
    exec_site = {p["exec"]: p["call_site"] for p in rec["plans"]}
    for req, jobs in requests(rec):
        wall = (req["end"] - req["start"]) / 1000
        busy = union_length([(j["start"], job_end(j)) for j in jobs]) / 1000
        kind = req["tags"].get("kind", "?")
        print(f"request {req['req']} {kind}: {len(jobs)} jobs, "
              f"wall {wall:.3f} s, job wall {busy:.3f} s, "
              f"driver gaps {wall - busy:.3f} s")
        groups = {}
        prev_end = req["start"]
        for j in jobs:
            g = groups.setdefault(frame_of(j, exec_site), [0, 0.0, 0.0])
            g[0] += 1
            g[1] += (job_end(j) - j["start"]) / 1000
            g[2] += max(0.0, j["start"] - prev_end) / 1000
            prev_end = max(prev_end, job_end(j))
        tail = max(0.0, req["end"] - prev_end) / 1000
        rows = sorted(groups.items(), key=lambda kv: -(kv[1][1] + kv[1][2]))
        print(f"  {'jobs':>4} {'job s':>7} {'gap s':>7}  frame")
        for frame, (n, js, gs) in rows[:top] if top else rows:
            print(f"  {n:>4} {js:>7.3f} {gs:>7.3f}  {frame}")
        if top and len(rows) > top:
            rest = rows[top:]
            print(f"  {sum(r[1][0] for r in rest):>4} "
                  f"{sum(r[1][1] for r in rest):>7.3f} "
                  f"{sum(r[1][2] for r in rest):>7.3f}  "
                  f"({len(rest)} more frames)")
        print(f"  {'':>4} {'':>7} {tail:>7.3f}  (after the last job)")


def parse_budget(text):
    """{kind: max jobs} from `kind=jobs,kind=jobs`."""
    budget = {}
    for item in filter(None, text.split(",")):
        kind, sep, jobs = item.partition("=")
        if not sep or not kind.strip() or not jobs.strip().isdigit():
            raise ValueError(f"bad budget entry {item!r}: want KIND=JOBS")
        budget[kind.strip()] = int(jobs)
    return budget


def over_budget(rec, budget):
    """(request id, kind, jobs, budget) of every request whose job count
    exceeds its kind's budget."""
    over = []
    for req, jobs in requests(rec):
        kind = req["tags"].get("kind", "?")
        if kind in budget and len(jobs) > budget[kind]:
            over.append((req["req"], kind, len(jobs), budget[kind]))
    return over


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("trace")
    ap.add_argument("--top", type=int, default=0,
                    help="show only the N costliest frames per request")
    ap.add_argument("--budget", type=parse_budget, default={},
                    help="job budget per request kind, e.g. "
                         "serve=25,delete=18,append=36; exit 1 when a "
                         "request exceeds its kind's")
    args = ap.parse_args(argv)
    try:
        with open(args.trace) as f:
            rec = json.load(f)
    except (OSError, ValueError) as e:
        print(f"cannot read {args.trace}: {e}", file=sys.stderr)
        return 2
    report(rec, args.top)
    over = over_budget(rec, args.budget)
    for req, kind, jobs, limit in over:
        print(f"over budget: request {req} {kind}: {jobs} jobs > {limit}",
              file=sys.stderr)
    return 1 if over else 0


if __name__ == "__main__":
    sys.exit(main())
