#!/usr/bin/env python3
"""graft's benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--smoke]

Run it from anywhere inside a checkout of the repository. It builds
graft and the benchmark (perfbench/build.py), gives the run fresh
directories under .bench_build/runs/ (topics, checkpoints, Spark local
and warehouse dirs, java.io.tmpdir and the LSH index cache), starts one
JVM with GraftSession.build("local[<nproc>]", nproc), and deletes the
directories afterwards.

Workloads (see BENCHMARK.json for why each exists):
  pubsub-live   open loop: 1,000-record batches every 2 s, one durable live
                subscriber; after the measured phase, tail replays, a full
                replay, replaySince and size retention on the same topic
                (checked, and reported on the detail line only)
  suite-packs   closed loop: one query from each of the 19 operator packs on
                generated sf0.01 tables

End-to-end metrics (every workload prints all of them):
  setup_s           median of repeated set-ups (three fresh topics, each with a
                    first batch; or two generations of the tables), plus the
                    warm-up that follows (publishes, or a pass over the queries)
  latency_ms_p50    pubsub-live: a record's due time -> the subscriber sees it;
                    suite-packs: one query, construction to its last row
  throughput_per_s  pubsub-live: records per second of one publish;
                    suite-packs: queries per second over the measured passes

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(spans around every call into a layer, jobs attributed to them). The
last stdout line is the result; the line before it holds every figure
the run took (the workload's own named metrics, self times per span)
with sample counts; a traced run prints its spans before that; the
first line is the run's context (Spark conf, JVM arguments, nproc,
load average). --smoke shrinks every size so a run takes seconds.
The suite's row counts (expected_rows.tsv) are on the detail line as
suite.rows.<query>.
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
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("pubsub-live", "suite-packs")
# Spark 4 on JDK 17 outside spark-submit needs these opens (as in build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()

    t0 = time.monotonic()
    stamp_before = (build.OUT / "stamp").read_text() if (build.OUT / "stamp").exists() else None
    try:
        classes = build.build()
    except (subprocess.CalledProcessError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1
    built = stamp_before != (build.OUT / "stamp").read_text()
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)

    run_root = build.OUT / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_root, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "lsh"):
        (run_root / d).mkdir(parents=True)
    env = dict(os.environ, GRAFT_LSH_CACHE=str(run_root / "lsh"),
               SPARK_LOCAL_DIRS=str(run_root / "spark-local"))
    extra = os.environ.get("SPARK_GRAFT_EXTRA_OPTS", "").split()
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=256"]
           + [x for o in OPENS for x in ("--add-opens", f"java.base/{o}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={run_root / 'tmp'}",
              f"-Dspark.local.dir={run_root / 'spark-local'}",
              f"-Dspark.sql.warehouse.dir={run_root / 'warehouse'}"]
           + extra
           + ["-cp", f"{classes}:{build.spark_jars() / '*'}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--root", str(run_root), "--expected", str(HERE / "expected_rows.tsv")]
           + (["--smoke"] if a.smoke else []))
    try:
        lines, code = run_jvm(cmd, run_root, env, limit)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    if lines is None:
        return 1
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"perfbench: JVM exited {code} without a result", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


def run_jvm(cmd, run_root, env, limit):
    """Run the JVM in its own process group, killed (and waited for) on
    timeout or when this process is told to stop. Returns its non-empty
    stdout lines and exit code, or (None, None) on timeout; on failure
    the tail of its log goes to stderr."""
    log_path = run_root / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10.0, limit))
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {limit:.0f} s", file=sys.stderr)
            return None, None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        tail = log_path.read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
    return [line for line in out.splitlines() if line.strip()], proc.returncode


def _stop(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _stop)
    sys.exit(main())
