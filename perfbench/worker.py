"""One benchmark run in one fresh Spark session (started by run.py).

Set-up is timed from the start of ``run.py`` until the Spark session
is ready and the workload's seeded inputs are generated and written, so
it includes the interpreter, the imports and the JVM launch. One
untimed warm-up operation follows (the JVM compiles the plans' code on
first use), then timed operations run back to back, one driver, for
``--seconds``.
Output checks run outside the timed region; an operation that raises
or fails its check counts in ``failed``. The result is written as JSON
to ``<rundir>/result.json``.

With ``--trace 1`` the run reports per-layer metrics instead: see
``traced.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from corpus import seeded_hosts, write_documents, write_seeds  # noqa: E402
import spans  # noqa: E402

DRIVER_MB = 2048

# crawl_rounds: small rounds, every 20th host (by seeded hash) seeded
ROUNDS_WEB = dict(num_hosts=1000, pages_per_host=20, links_per_page=8, body_kb=0)
ROUNDS_SEED_EVERY = 20
# Each round is ~50 Spark jobs whatever its size, and a run crawls twice
# (the uninterrupted reference, then the timed stop + resume), so every
# extra round costs two rounds of run time.
ROUNDS_STOP_AT = 1  # the interrupted crawl stops after this many rounds
ROUNDS_TOTAL = 2  # ...and resume_crawl finishes it at this round count


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def box_cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    n = int(env) if env else len(os.sched_getaffinity(0))
    return max(1, min(n, os.cpu_count() or n))


def box_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def make_session(rundir: str, trace: bool):
    from pyspark.sql import SparkSession

    from webcrawler_spark.session import apply_perf_conf

    k = box_cores()
    tmp = os.path.join(rundir, "tmp")
    driver_mb = min(DRIVER_MB, box_ram_mb() // 2)
    b = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_mb}m")
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed-size heap: peak RSS then tracks the heap actually
            # touched, not when the collector chose to grow the heap
            f"-Xms{driver_mb}m -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(rundir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if trace:
        logdir = os.path.join(rundir, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + logdir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = apply_perf_conf(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _checksums(spark, session) -> dict:
    """Order-independent digests of a crawl's outputs."""
    from pyspark.sql import functions as F

    def digest(df, *cols):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).first()
        return f"{r['n']}:{r['h']}"

    return {
        "seen": digest(session.seen, "url"),
        "text": digest(session.pages_fetched, "url", "text"),
    }


class CrawlRounds:
    name = "crawl_rounds"

    def prepare(self, spark, d: str, seed: int):
        from webcrawler_spark.sources.synthetic_web import build_big_web

        web = build_big_web(spark, partitions=box_cores(), **ROUNDS_WEB)
        web.write.parquet(os.path.join(d, "pages"))
        n = ROUNDS_WEB["num_hosts"]
        hosts = seeded_hosts(n, n // ROUNDS_SEED_EVERY, seed)
        write_seeds(os.path.join(d, "seeds"), hosts,
                    ROUNDS_WEB["pages_per_host"], seed)
        return {
            "pages": spark.read.parquet(os.path.join(d, "pages")),
            "seeds": spark.read.parquet(os.path.join(d, "seeds")),
            "dir": d,
        }

    def config(self, max_rounds: int):
        from webcrawler_spark.engine import CrawlConfig

        return CrawlConfig(
            max_urls_per_host_per_round=3,
            round_window=3.0,
            seen_filter="bloom",
            compact_seen_every=1,
            gc_keep_rounds=2,
            max_rounds=max_rounds,
        )

    def _result(self, s, wall: float, **extra) -> dict:
        st = s.engine.state
        return {"wall": wall, "items": st.total_fetched,
                "urls": st.total_attempted, "rounds": st.round,
                "session": s, **extra}

    def warmup(self, spark, inp) -> dict:
        """The uninterrupted crawl every resumed one must reproduce."""
        from webcrawler_spark.plans import crawl as plans

        root = os.path.join(inp["dir"], "catalog_ref")
        t0 = time.time()
        s = plans.crawl(spark, inp["pages"], inp["seeds"], catalog_root=root,
                        config=self.config(ROUNDS_TOTAL))
        return self._result(s, time.time() - t0, catalog_root=root)

    def op(self, spark, inp, i: int) -> dict:
        """Crawl until round ``ROUNDS_STOP_AT``, then finish it with a
        fresh ``resume_crawl`` on the same durable catalog."""
        from webcrawler_spark.plans import crawl as plans

        root = os.path.join(inp["dir"], f"catalog{i}")
        t0 = time.time()
        plans.crawl(spark, inp["pages"], inp["seeds"], catalog_root=root,
                    config=self.config(ROUNDS_STOP_AT))
        t1 = time.time()
        s = plans.resume_crawl(spark, inp["pages"], root,
                               config=self.config(ROUNDS_TOTAL))
        t2 = time.time()
        return self._result(s, t2 - t0, resume_wall=t2 - t1, catalog_root=root)

    def outputs(self, spark, res) -> dict:
        return {"pages": res["items"], "urls": res["urls"],
                "rounds": res["rounds"], **_checksums(spark, res["session"])}

    def expected(self, inp, seed: int) -> dict | None:
        """Pinned outputs of this seed, if ``expected.json`` has them."""
        with open(os.path.join(HERE, "expected.json")) as f:
            return json.load(f).get(self.name, {}).get(str(seed))

    def check(self, o: dict, ref: dict, expected: dict | None) -> list[str]:
        errs = []
        if o != ref:
            errs.append(f"resumed crawl {o} differs from uninterrupted {ref}")
        if o["rounds"] != ROUNDS_TOTAL:
            errs.append(f"crawl ended after {o['rounds']} rounds")
        if expected and o != expected:
            errs.append(f"outputs {o} differ from pinned {expected}")
        return errs


class Funnel:
    name = "funnel"

    def prepare(self, spark, d: str, seed: int):
        write_documents(d, seed)
        return {"sf": d, "dir": d}

    def warmup(self, spark, inp) -> dict:
        """The first execution compiles every stage's code: not timed."""
        return self.op(spark, inp, -1)

    def op(self, spark, inp, i: int) -> dict:
        import __spark_entry__ as entry

        t0 = time.time()
        row = entry.queries()["pipeline_funnel"](spark, inp["sf"]).collect()[0]
        wall = time.time() - t0
        counts = {k: int(v) for k, v in row.asDict().items()}
        return {"wall": wall, "items": counts["n_raw"], "counts": counts}

    def outputs(self, spark, res) -> dict:
        return res["counts"]

    def expected(self, inp, seed: int) -> dict:
        """The DuckDB replay of the same eleven stages."""
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        try:
            path = os.path.join(inp["sf"], "documents.parquet")
            con.execute(f"create view documents as select * from '{path}'")
            df = con.execute(entry.oracle_sql()["pipeline_funnel"]).fetchdf()
        finally:
            con.close()
        return {k: int(v) for k, v in df.iloc[0].to_dict().items()}

    def check(self, o: dict, ref: dict, expected: dict | None) -> list[str]:
        if o != expected:
            return [f"funnel counts {o} differ from the DuckDB oracle {expected}"]
        return []


WORKLOADS = {w.name: w for w in (CrawlRounds(), Funnel())}


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------


def setup(wl, rundir: str, seed: int, trace: bool, t_process: float):
    """Spark session + inputs generated and written; returns the
    session, its inputs, and the seconds since ``t_process``."""
    spark = make_session(rundir, trace)
    inp = wl.prepare(spark, os.path.join(rundir, "input"), seed)
    return spark, inp, time.time() - t_process


def attempt(what: str, fn, *args, failures: list[str]):
    """``fn(*args)``; None (and the traceback in ``failures``) if it raised."""
    try:
        return fn(*args)
    except Exception:
        failures.append(f"{what} raised:\n{traceback.format_exc()}")
        return None


def run_ops(wl, spark, inp, seconds: float, failures: list[str]):
    """Closed loop: operations back to back for ``seconds``. At least
    one runs; another starts only if, at the pace of the last one, it
    would end within the window, so the measured work is the same from
    run to run."""
    results = []
    t_start = time.time()
    last = 0.0
    while not results or time.time() + last - t_start <= seconds:
        t0 = time.time()
        i = len(results)
        results.append(attempt(f"operation {i}", wl.op, spark, inp, i,
                               failures=failures))
        last = time.time() - t0
    return results


def check_outputs(wl, spark, inp, results, seed, failures) -> int:
    """Output checks (outside the timed region). Returns the number of
    operations that raised or failed their check."""
    failed, outs = 0, []
    for r in results:
        if r is None:
            failed += 1
            continue
        try:
            outs.append(wl.outputs(spark, r))
        except Exception:
            failures.append(f"output read raised:\n{traceback.format_exc()}")
            failed += 1
    expected = wl.expected(inp, seed)
    for o in outs:
        errs = wl.check(o, outs[0], expected)
        if errs:
            failed += 1
            failures.extend(errs)
    return failed


def main() -> int:
    t_process = float(os.environ.get("PERFBENCH_T0", time.time()))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--rundir", required=True)
    a = ap.parse_args()

    wl = WORKLOADS[a.workload]
    trace = bool(a.trace)
    spark, inp, setup_s = setup(wl, a.rundir, a.seed, trace, t_process)
    failures: list[str] = []

    marks = [("setup", time.time())]
    warm = attempt("warm-up", wl.warmup, spark, inp, failures=failures)
    marks.append(("warm-up", time.time()))

    if trace:
        import traced

        traced_run = traced.TracedRun(wl, spark, inp, attempt, failures)
        results = traced_run.results
    else:
        results = run_ops(wl, spark, inp, a.seconds, failures)
        done = [r for r in results if r is not None]
        rates = [r["items"] / r["wall"] for r in done]
        metrics = {
            "items_per_s": {
                "value": statistics.median(rates) if rates else 0.0,
                "unit": "1/s",
            },
            "setup_s": {"value": setup_s, "unit": "s"},
        }
        print(f"[perfbench] {wl.name}: op wall s "
              f"{[round(r['wall'], 3) for r in done]} "
              f"{spans.summarize([r['wall'] for r in done])}, items "
              f"{[r['items'] for r in done]}, setup s {setup_s:.3f}",
              file=sys.stderr)

    marks.append(("operations", time.time()))
    results = [warm] + results
    failed = check_outputs(wl, spark, inp, results, a.seed, failures)
    marks.append(("checks", time.time()))
    for f in failures:
        print(f"[perfbench] FAILED: {f}", file=sys.stderr)
    spark.stop()
    marks.append(("stop", time.time()))
    print("[perfbench] phase s: " + ", ".join(
        f"{name} {t - prev:.1f}"
        for (name, t), prev in zip(marks, [t_process] + [t for _, t in marks])
    ), file=sys.stderr)
    if trace:
        # the event log is complete only once the session has stopped
        metrics = traced_run.metrics()
    out = os.path.join(a.rundir, "result.json")
    with open(out + ".part", "w") as f:
        json.dump({"correct": not failures, "attempted": len(results),
                   "failed": failed, "metrics": metrics}, f)
    os.replace(out + ".part", out)
    return 0


if __name__ == "__main__":
    # flush, then exit explicitly: a JVM-teardown race at interpreter
    # exit can turn a completed run into a nonzero exit code
    code = 1
    try:
        code = main()
    except Exception:
        traceback.print_exc()
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
