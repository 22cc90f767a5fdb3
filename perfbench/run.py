#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build|search|ingest|analyze \\
        --seed N --seconds S --trace 0|1

Run from anywhere inside a checkout. The first run compiles the engine and
the benchmark (perfbench/build.py). One JVM then runs the workload at
local[<cores available>]; see perfbench/README.md for what each workload
does and what each metric means.

Standard output: one `name value unit` line per metric, under the names of
the README, then, as the last line, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; `metrics` holds the
end-to-end metrics of BENCHMARK.json with `--trace 0` and its per-layer
metrics with `--trace 1`. The full record (settings, sample counts, tail
percentiles, every metric) is kept under .perfbench/records/, and a traced
run writes its spans beside it. Exit status 0 only when every op and every
output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["build", "search", "ingest", "analyze"]
JVM_SECONDS = 170
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            print(f"perfbench: workload exceeded {JVM_SECONDS} s, stopped", file=sys.stderr)
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    # a terminated run still stops its JVM (run_jvm's finally kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes, digest = build.ensure_built()
    jars = os.path.join(build.spark_jars(), "*")
    cores = len(os.sched_getaffinity(0))

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    records = os.path.join(base, "records")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    record = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json")

    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:NewRatio=1",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, jars]), "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--record", record, "--cores", str(cores)])
    log_path = os.path.join(records, os.path.basename(record)[:-5] + ".log")
    try:
        rc = run_jvm(cmd, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None or not os.path.exists(record):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: no result (exit {rc}); log: {log_path}", file=sys.stderr)
        return 1

    with open(record) as f:
        rec = json.load(f)
    rec["git_commit"] = git_commit()
    rec["source_sha256"] = digest
    with open(record, "w") as f:
        json.dump(rec, f, indent=1)

    named = rec["named_metrics"] if args.trace == 0 else rec["layers"]
    for name, m in named.items():
        print(f"{name} {m['value']} {m['unit']}")
    for kind, n in rec["samples"].items():
        print(f"# {kind}: {n} samples, tail percentile p{rec['tail_percentile'][kind]:g}")
    for msg in rec["failures"]:
        print(f"# FAILED {msg}")

    source = rec["metrics"] if args.trace == 0 else rec["layers"]
    wanted = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        if got is None and args.trace == 1:
            got = {"value": 0.0, "unit": m["unit"]}  # layer not exercised by this workload
        if got is None or got["value"] is None or got["unit"] != m["unit"]:
            print(f"perfbench: metric {m['name']} missing or not numeric: {got}", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0 if rec["correct"] and rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
