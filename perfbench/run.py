#!/usr/bin/env python3
"""The repo's benchmark: the paper's OSM pipeline at published scale and an
incremental dedup/ANN ingest loop.

    python3 perfbench/run.py --workload osm_etl --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source (perfbench/build.py),
runs one workload in one JVM on `local[N]` (N = min(4, nproc)) with one
client thread in a closed loop, checks every answer, and prints one JSON
line: `correct`, `attempted`, `failed` and the metrics — the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The
full record of the run (environment, every operation, and in traced runs
every span with its Spark counts and self time) is written to
`.bench_build/records/`, one file per run, so two records can be diffed
layer by layer. See perfbench/README.md for the workloads and metrics.
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
import stats  # noqa: E402

WORKLOADS = ("osm_etl", "index_ingest")
MAX_CORES = 4
JVM_TIMEOUT_S = 170

# what spark-submit adds for Spark 4 on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_sha():
    try:
        out = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    # SIGTERM raises SystemExit, so subprocess.run kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    raw = os.path.join(work, "raw.json")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir below
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UseDynamicNumberOfCompilerThreads"]
           + [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
              "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--out", raw, "--work", work, "--cores", str(cores)])
    started = time.time()
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                              cwd=work, timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0:
            print(f"perfbench: JVM exited {proc.returncode}", file=sys.stderr)
            return 1
        with open(raw) as fh:
            rec = json.load(fh)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for o in rec["ops"] if not o["ok"])
    record = {
        "env": {
            "git_sha": git_sha(), "source_hash": os.path.basename(classes)[len("classes-"):],
            "nproc": nproc, "spark_cores": rec["cores"], "jvm_flags": rec["jvm_flags"],
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "ext_cpu_share_setup": rec["ext_cpu_share_setup"],
            "steal_share_setup": rec["steal_share_setup"],
            "ext_cpu_share_loop": rec["ext_cpu_share_loop"],
            "steal_share_loop": rec["steal_share_loop"],
            "started_unix": started,
        },
        "workload": a.workload, "inputs": rec["inputs"], "setup_s": rec["setup_s"],
        "setup_phases": rec["setup_phases"], "loop_s": rec["loop_s"],
        "ops": rec["ops"],
    }
    if a.trace:
        metrics, self_ms = stats.per_layer(rec)
        own = stats.self_times(rec["spans"])
        record.update(layers=metrics, self_ms_per_op=self_ms,
                      tracing_overhead_ms=metrics["trace.overhead_ms"],
                      spans=[dict(s, self_ms=own[s["id"]]) for s in rec["spans"]])
        kind = "per_layer"
    else:
        metrics, tail = stats.end_to_end(rec)
        record.update(metrics=metrics, tail=tail, stored_ratios=rec["stored_ratios"])
        kind = "end_to_end"
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)[kind]
    result = {
        "correct": failed == 0,
        "attempted": len(rec["ops"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }
    record["result"] = result
    out_dir = os.path.join(build.BUILD, "records")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(started)}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
