#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program and the
benchmark (perfbench/build.py). Each run starts one JVM driving Spark in
local mode on at most 4 task slots with a fixed 3 GiB heap, sets the
workload up from --seed, measures closed-loop repetitions for about
--seconds, checks every output, and prints one JSON object as its last
stdout line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1 (which also writes a span file under .bench_build/traces/).
Metric names and units come from BENCHMARK.json. All data lives under
.bench_build/ and is removed when the run ends; only span files are kept.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HEAP = "3g"
# A run must end within 180 s. This is the one limit on it: the JVM is
# killed (no result) past it, leaving time to clean up. The longest runs,
# untraced ingest_loop and the traced runs, take up to ~105 s on a 4-core
# host, so a stretch ~1.6x as slow still fits.
RUN_LIMIT_S = 175
# Spark on JDK 17 needs these outside spark-submit (JavaModuleOptions)
ADD_OPENS = [flag for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for flag in ("--add-opens", f"{pkg}=ALL-UNNAMED")]
RESULT_PREFIX = "perfbench-result "


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir():
        print("perfbench: src/main/scala not found; run from the repository root", file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    classes = build.ensure_built(root)
    started = time.monotonic()
    bench = root / build.BUILD_DIR
    work = bench / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    trace_out = bench / "traces" / f"{args.workload}-seed{args.seed}.json"
    classpath = os.pathsep.join(
        [str(classes), str(root / "src" / "main" / "resources"), str(build.spark_jars() / "*")])
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           *ADD_OPENS, "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work), "--trace-out", str(trace_out)]
    # a SIGTERM ends this process through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=root)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S - (time.monotonic() - started))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    results = [ln for ln in lines if ln.startswith(RESULT_PREFIX)]
    for ln in lines:
        if not ln.startswith(RESULT_PREFIX):
            print(ln)
    if proc.returncode != 0 or not results:
        print(f"perfbench: the benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(results[-1][len(RESULT_PREFIX):])
    if set(result["metrics"]) != set(units):
        print("perfbench: metrics differ from BENCHMARK.json: "
              f"{sorted(set(result['metrics']) ^ set(units))}", file=sys.stderr)
        return 1
    metrics = {name: {"value": result["metrics"][name], "unit": unit} for name, unit in units.items()}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
