"""Benchmark of graft's incremental Method refresh path.

    python3 methodbench/run.py --workload freq_heavy --seed 1 --seconds 20 --trace 0

Runs `graft.pipeline.FrequencyAnalysisMethod` over seeded variant
inputs in one warm Spark session (`local[<cpus>]`) and prints, as the
last line of stdout, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Each run works in a fresh
directory under `.bench_build/` that is deleted at exit; it holds the
inputs, the runs ledger, the outputs and Spark's local, warehouse and
temp dirs. Exits non-zero without a result if the build or any step
fails.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("freq_heavy", "freq_wide")
LIMIT_S = 170

# What spark-submit passes to a JDK 17 driver (the root build.sbt sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    # a terminated benchmark still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"methodbench: build failed: {e}", file=sys.stderr)
        return 2
    # set-up time counts from here: compiling the benchmark is not the program's set-up
    started = time.time()

    build.BUILD_DIR.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="work-", dir=build.BUILD_DIR))
    try:
        return measure(a, classpath, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, classpath, work, started):
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir()
    result = work / "result.json"
    # a fixed heap and soft references that a full collection clears
    # keep collections, and the retained heap they report, alike from
    # run to run; no perf-data file, so nothing is written outside the
    # checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:SoftRefLRUPolicyMSPerMB=0", "-Xss8m",
           "-XX:ReservedCodeCacheSize=1g",
           *[x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           f"-Dderby.system.home={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "methodbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work),
           "--start-ms", str(int(started * 1000)), "--result", str(result)]
    log = work / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()

    lines = log.read_text(errors="replace").splitlines()
    for line in lines:
        if line.startswith("methodbench:"):
            print(line, file=sys.stderr)
    if rc != 0 or not result.exists():
        why = "timed out" if rc is None else f"exit code {rc}"
        print(f"methodbench: run failed ({why}); last log lines:", file=sys.stderr)
        print("\n".join(lines[-40:]), file=sys.stderr)
        return 1
    print(result.read_text().strip())
    return 0


if __name__ == "__main__":
    sys.exit(main())
