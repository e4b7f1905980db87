#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload load --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and
this harness (`build.py`) and generates the input tables (`gen_data.py`);
both are cached under `.bench_build/perfbench`, keyed by the sources and
the generator. Every run then starts one JVM in a fresh work directory
(fresh Derby database, parquet targets and store directories), removes
it afterwards, and prints one JSON line last on stdout. Progress and the
workload-specific figures go to stderr.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import report  # noqa: E402
from build import CACHE, HERE, build, digest, fail, log, publish, spark_jars  # noqa: E402

JVM_TIMEOUT_S = 170
# data: (scale factor, generator seed) per workload
DATA = {"load": (0.1, 42), "store": (0.01, 42)}
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def data_dir(workload):
    sf, seed = DATA[workload]
    gen = HERE / "gen_data.py"
    out = CACHE / f"data-sf{sf}-seed{seed}-{digest([gen])}"
    if out.is_dir():
        return out
    tmp = CACHE / f"tmp-data-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    r = subprocess.run([sys.executable, str(gen), str(tmp), "--sf", str(sf),
                        "--seed", str(seed)], stdout=sys.stderr)
    if r.returncode != 0:
        fail("input generation failed", 1)
    publish(tmp, out)
    return out


def run_jvm(classes, args, work):
    cpus = min(4, os.cpu_count() or 1)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o)] + [
        "-XX:-UsePerfData", "-Xmx3g", "-Xss4m",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dderby.stream.error.file={work / 'derby.log'}",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false",
        "-cp", f"{classes / 'bench'}:{classes / 'program'}:{spark_jars()}/*",
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(data_dir(args.workload)), "--work", str(work),
        "--out", str(work / "record.json"), "--cpus", str(cpus)]
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         cwd=work, env=env, start_new_session=True)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("stopped", 1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S} s", 1)
    if code != 0:
        fail(f"benchmark JVM exited with {code}", 1)
    return json.loads((work / "record.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build()
    work = CACHE / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        rec = run_jvm(classes, args, work)
        if args.trace:
            # the spans, jobs and plans of a trace run stay for reading
            keep = CACHE / "traces" / f"{args.workload}-{args.seed}.json"
            keep.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(work / "record.json", keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a failed output check counts as a failed operation
    bad_checks = [c for c in rec["checks"] if not c["ok"]]
    failed_ops = [o for o in rec["ops"] if not o["ok"]]
    attempted = len(rec["ops"]) + len(rec["checks"])
    failed = len(failed_ops) + len(bad_checks)
    for c in bad_checks:
        log(f"check failed: {c['name']}: {c['detail']}")
    for k, v in {**report.kind_figures(rec), **report.details(rec)}.items():
        log(f"{k} = {v}")
    if args.trace:
        values, units = report.per_layer(rec), report.PER_LAYER
    else:
        values, units = report.end_to_end(rec), report.END_TO_END
    for k, v in values.items():
        if not report.valid_name(k):
            fail(f"metric name {k!r} is outside [A-Za-z0-9_.-]", 1)
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            fail(f"metric {k} has no value", 1)
    out = {"correct": not bad_checks and not failed_ops,
           "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]}
                       for k, v in values.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
