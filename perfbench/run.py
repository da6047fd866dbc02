"""Rollup-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload <rebuild|append|resume|read> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (perfbench/build.py), starts one JVM with a local[4]
Spark session, and prints as its last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. A
per-layer metric the workload does not exercise reads 0. Traced runs also
leave their spans in .bench_build/traces/. See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
RESULT = "PERFBENCH_RESULT "
# the JVM must end within this many seconds of being started
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload: {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classes = build.build()
    work = build.OUT / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a fixed heap: every unit starts with a full GC, after which a growable
    # heap shrinks and the unit runs with a small young generation
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    if args.trace:
        cmd += ["--spans", str(build.OUT / "traces" / f"{args.workload}-seed{args.seed}.jsonl")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    result = None
    try:
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                              env=env, text=True, cwd=work) as proc:
            deadline = time.monotonic() + RUN_TIMEOUT_S
            try:
                out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
            for line in out.splitlines():
                if line.startswith(RESULT):
                    result = json.loads(line[len(RESULT):])
                else:
                    print(line, file=sys.stderr)
            if proc.returncode != 0 or result is None:
                raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = result["metrics"]
    unknown = sorted(set(measured) - {m["name"] for m in wanted})
    if unknown:
        raise SystemExit(f"metrics not declared in BENCHMARK.json: {unknown}")
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            value = measured[m["name"]]
        elif args.trace:
            value = 0.0  # layer not exercised by this workload
        else:
            raise SystemExit(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
