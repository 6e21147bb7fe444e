"""CDC-consumer benchmark: one run of one workload.

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  This launcher pins the engine's
environment, gives the run a private scratch directory inside the
checkout (temp files, Spark local dirs, JVM crash logs), runs the
workload in a fresh child process, removes the scratch directory and
every process the run started, and prints the child's result line.
See perfbench/DESIGN.md for the workloads and metrics.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 170
# JVM heap for a 4-core, 15 GB host shared with other work; the
# engine's own default (-Xms16g) cannot be committed there
DRIVER_MEMORY = "3g"
SHUFFLE_PARTITIONS = "4"


def pinned_env(run_dir: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_SHUFFLE_PARTITIONS": SHUFFLE_PARTITIONS,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_DRIVER_JAVA_OPTS": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} "
            f"-XX:ErrorFile={run_dir}/hs_err_pid%p.log -XX:-UsePerfData"
        ),
        "SPARK_EXTRA_CONF": (
            "spark.ui.showConsoleProgress=false;"
            "spark.sql.streaming.numRecentProgressUpdates=1000"
        ),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PERFBENCH_RUN_DIR": run_dir,
        "PERFBENCH_BUILD_DIR": os.path.join(
            os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"
        ),
    })
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def reap(pgid: int) -> None:
    """Stop every process left in the run's process group (JVM, Python
    workers, generators) and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def main() -> int:
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "maxscale_cdc_spark"))
            and os.path.isfile(os.path.join(root, "tests", "oracle_harness.py"))):
        print("perfbench: run from the root of a checkout of the engine "
              "(maxscale_cdc_spark/ and tests/ not found)", file=sys.stderr)
        return 2
    run_dir = os.path.join(root, ".bench_run", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pinned_env(run_dir)
    os.makedirs(env["PERFBENCH_BUILD_DIR"], exist_ok=True)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *sys.argv[1:]],
        env=env, stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
        out = ""
    finally:
        reap(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
