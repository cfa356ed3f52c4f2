"""The repo benchmark: one command, one workload run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. Workloads (closed loop, one driver
process, ``local[k]`` with k = ``SPARK_GRAFT_CPUS`` or the usable cores):

* ``crawl_rounds`` — ``plans.crawl`` into a durable catalog with the
  Bloom seen filter, compaction and snapshot GC, stopped after one
  round and finished by ``plans.resume_crawl``; per-round fixed cost
  dominates. Checked against an uninterrupted crawl of the same seed
  and, for the seeds in ``expected.json``, against pinned checksums.
* ``funnel`` — ``__spark_entry__.queries()["pipeline_funnel"]``, the
  eleven-stage training-data funnel over the sf0.1 documents table
  (``data/``) with seeded doc_ids, checked against its DuckDB oracle.

This process only supervises: it starts ``worker.py`` in its own
process group with a per-run scratch directory (``TMPDIR``,
``spark.local.dir``) under ``.perfbench_run/`` and the checkout root on
``PYTHONPATH`` (the pandas-UDF workers import the package from there),
samples the summed resident memory (PSS) of every process in that
group from ``/proc``, stops whatever the group left running, deletes
the scratch directory and prints the result. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; without a result the
exit code is nonzero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_rounds", "funnel")
# a run may take this long for set-up, warm-up and checks, plus three
# times its --seconds for the timed operations
RUN_ALLOWANCE_S = 120.0
SAMPLE_EVERY_S = 0.5


def group_pids(pgid: int) -> list[int]:
    """Live processes whose process group is ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ...
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(name))
    return out


def rss_mb(pids: list[int]) -> float:
    """Summed resident memory of ``pids`` in MiB, counted as PSS: a page
    shared by n processes (the forked pandas-UDF workers share most of
    theirs) counts 1/n in each, so the sum counts it once."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def stop_group(pgid: int) -> None:
    """TERM, then KILL, every process left in the group; wait until
    none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while group_pids(pgid) and time.time() < deadline:
            time.sleep(0.1)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("webcrawler_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    rundir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # every JVM, the spark-submit launcher included: no hsperfdata
        # files under /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        PERFBENCH_T0=repr(t0),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--rundir", rundir,
    ]
    peak = 0.0
    try:
        child = subprocess.Popen(
            cmd, cwd=rundir, env=env, stdout=sys.stderr,
            start_new_session=True,
        )
        pgid = child.pid
        try:
            while child.poll() is None:
                peak = max(peak, rss_mb(group_pids(pgid)))
                if time.time() - t0 > RUN_ALLOWANCE_S + 3 * a.seconds:
                    print("perfbench: run timed out", file=sys.stderr)
                    break
                time.sleep(SAMPLE_EVERY_S)
        finally:
            stop_group(pgid)
            child.wait()
        try:
            with open(os.path.join(rundir, "result.json")) as f:
                result = json.load(f)
        except (OSError, ValueError):
            print(f"perfbench: worker exited {child.returncode} without a "
                  "result", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(rundir))
        except OSError:
            pass  # another run still uses it, or it is already gone

    # a worker that wrote its result and then lost a teardown race
    # still counts: the result was complete before teardown began
    if not a.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak, "unit": "MiB"}
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
