#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload weekly_pipeline --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the engine and the benchmark's
Scala code (perfbench/build.py), runs one JVM at local[nproc] on inputs made from
the seed (weekly_pipeline) or on the sf0.001 testdata tables in perfbench/data
(registry_mix, whose seed only orders the queries), checks every output, and prints one JSON object as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to .bench_out/. Runs put everything
they write under a fresh .bench_tmp/ directory and delete it at exit.
The exit code is non-zero when any op failed or the run could not run.

Options for the benchmark's own tests: --size tiny shrinks weekly_pipeline's
inputs and skips registry_mix's second warm-up pass (its tables are already sf0.001);
--corrupt-oracle NAME makes query NAME's expected result wrong.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("weekly_pipeline", "registry_mix")
DATA = HERE / "data" / "sf0.001"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--size", default="full", choices=("full", "tiny"))
    p.add_argument("--corrupt-oracle", default="")
    return p.parse_args(argv)


def jvm_timeout(seconds: float, trace: bool) -> float:
    """A guard against a hung JVM, not a budget: start-up, set-up and
    warm-up take ~40 s here and the timed phase overruns --seconds by up
    to one cycle; a traced run repeats the set-up and runs at least four
    cycles, so it gets half as much again."""
    return (120 + 3 * seconds) * (1.5 if trace else 1)


def run_jvm(args, classpath, work: pathlib.Path, result: pathlib.Path, trace_out: pathlib.Path):
    jtmp = work / "jtmp"
    jtmp.mkdir(parents=True)
    cmd = [build.java()] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={jtmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", ":".join([str(p) for p in classpath] + [str(build.SPARK_JARS / "*")]),
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace, "--size", args.size,
        "--work", str(work / "w"), "--out", str(result), "--trace-out", str(trace_out),
        "--data", str(DATA)]
    log = work / "jvm.log"
    # bind Spark to the loopback interface even where the host name does not resolve
    env = {"SPARK_LOCAL_IP": "127.0.0.1", "SPARK_LOCAL_HOSTNAME": "localhost", **os.environ}
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=str(work), env=env)
        try:
            code = proc.wait(timeout=jvm_timeout(args.seconds, args.trace == "1"))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
        except BaseException:  # SIGTERM or ^C: stop the JVM before leaving
            proc.kill()
            proc.wait()
            raise
    lines = log.read_text(errors="replace").splitlines()
    for line in lines:
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if code != 0:
        print("\n".join(lines[-40:]), file=sys.stderr)
        raise SystemExit(f"perfbench: the JVM {'timed out' if code is None else f'exited {code}'}")


def main(argv) -> int:
    args = parse(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = pathlib.Path.cwd()
    try:
        classpath = build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    tmp = root / ".bench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    outdir = root / ".bench_out"
    outdir.mkdir(exist_ok=True)
    trace_out = outdir / f"trace-{args.workload}-seed{args.seed}.json"
    try:
        tmp.mkdir(parents=True)
        result = tmp / "result.json"
        try:
            run_jvm(args, classpath, tmp, result, trace_out)
        except SystemExit as e:
            print(e, file=sys.stderr)
            return 3
        r = json.loads(result.read_text())
        failures = list(r["failures"])
        if r["oracle"]:
            # a query whose warm-up op threw wrote no result; it has already failed
            results = pathlib.Path(r["oracle"]["results"])
            written = {p.name for p in results.iterdir()} if results.is_dir() else set()
            verdicts = oracle.check(r["oracle"]["tables"], str(results), r["oracle"]["sql"],
                                    only=written, corrupt_names={args.corrupt_oracle})
            failures += [f"q.{n}: oracle mismatch: {v}" for n, v in verdicts.items() if v]
        failed = len(failures)
        attempted = int(r["attempted"])
        for f in failures:
            print(f"perfbench failed op: {f}", file=sys.stderr)
        print(f"perfbench host: {json.dumps(r['host'])}")
        print(f"perfbench settings: {json.dumps(r['settings'])} cores={r['cores']}")
        print(f"perfbench run: cycles={r['cycles']} timed_ops={r['timed_ops']} "
              f"ops_failed_frac={failed / attempted:.4f} ({failed} of {attempted})")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": r["metrics"]}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
