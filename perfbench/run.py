"""Runs one benchmark run and prints its metrics.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark if needed (see build.py), starts one
JVM with one Spark session at local[nproc], and reads back the run
record it writes. Every metric is printed by name and unit; the last
line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`). Query outputs are checked against
the committed expectations in expected.json.
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
import stats  # noqa: E402

BENCH = build.BENCH
FIXTURES = BENCH / "fixtures" / "sf0.01"
EXPECTED = BENCH / "expected.json"
WORKLOADS = ("queries", "iterative")
# a run must end within 180 s of its start, build excluded
RUN_LIMIT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classpath, work, a):
    cmd = ["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixtures", str(FIXTURES), "--work", str(work),
            "--out", str(work / "record.json"), "--spans", str(work / "spans.json")]
    return cmd


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if not FIXTURES.is_dir():
        print(f"perfbench: fixtures missing at {FIXTURES}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_LIMIT_S

    work = build.OUT / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = open(work / "jvm.log", "w")
    proc = None
    # a terminated benchmark stops its JVM too (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        proc = subprocess.Popen(jvm_command(classpath, work, a), cwd=work,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            return 3
        log.close()
        if rc != 0 or not (work / "record.json").exists():
            tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
            print(f"perfbench: JVM exited with {rc}\n{tail}", file=sys.stderr)
            return rc or 4
        record = json.loads((work / "record.json").read_text())
        results = build.OUT / "results"
        results.mkdir(parents=True, exist_ok=True)
        stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        shutil.copyfile(work / "record.json", results / f"{stem}.record.json")
        if (work / "spans.json").exists():
            shutil.copyfile(work / "spans.json", results / f"{stem}.spans.json")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        if not log.closed:
            log.close()
        shutil.rmtree(work, ignore_errors=True)

    expected = json.loads(EXPECTED.read_text())
    result = stats.summarize(record, expected.get(a.workload, {}))
    for line in stats.report_lines(record, result):
        print(line)
    print(json.dumps(result["contract"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
