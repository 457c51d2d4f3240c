#!/usr/bin/env python3
"""Runs one benchmark measurement and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The program and the benchmark are built
from source first (see build.py); one JVM then runs the workload on
``local[<cores>]`` (see perfbench/src/graft/perfbench/Main.scala). The
last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Everything the run writes stays under ``.bench_build``.
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

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # the benchmark writes only under .bench_build
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("fixture_crawl", "polite_crawl", "checkpoint_resume", "dedup_pipeline")
# a run must end within 180 s of its start once the build is done
RUN_LIMIT_S = 170
HEAP = "4g"
# Spark on JDK 17 outside spark-submit needs these (the build.sbt list)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def jvm(classes: Path, main: str, args: list, work: Path, limit_s: float) -> int:
    """Runs one JVM (output to stderr) and waits for it; kills it at the limit."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # no hsperfdata file in the system temp directory
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
           main, *args]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {limit_s:.0f} s", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    root = Path.cwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    start = time.monotonic()
    runs = root / ".bench_build" / "runs"
    if args.self_test:
        work = runs / f"self-test-{os.getpid()}"
        try:
            return jvm(classes, "graft.perfbench.SelfTest", [str(work)], work, RUN_LIMIT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    bench = json.loads((root / "BENCHMARK.json").read_text())
    expected = {m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    work = runs / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    result = work / "result.json"
    try:
        rc = jvm(classes, "graft.perfbench.Main", [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(len(os.sched_getaffinity(0))),
            "--work", str(work), "--refs", str(HERE / "ref"),
            "--traces", str(root / ".bench_build" / "traces"),
            "--result", str(result)], work, RUN_LIMIT_S - (time.monotonic() - start))
        print(f"perfbench: JVM exited after {time.monotonic() - start:.2f} s", file=sys.stderr)
        if rc != 0 or not result.exists():
            print(f"perfbench: run failed (exit code {rc})", file=sys.stderr)
            return 1
        out = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if set(out["metrics"]) != expected:
        print(f"perfbench: metrics {sorted(out['metrics'])} do not match "
              f"BENCHMARK.json {sorted(expected)}", file=sys.stderr)
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM (the finally blocks above)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
