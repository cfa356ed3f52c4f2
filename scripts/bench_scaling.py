"""N-vs-4N scaling evidence (north_rule: efficiency ≥ 0.8).

No real multi-executor cluster exists in this sandbox, so the two
"cluster sizes" are two JVMs at different local parallelism on the same
input, each crawling the identical deterministic ``build_big_web``
corpus to the same page budget:

    efficiency = (rate_4N / rate_N) / 4

The pair is ``local[2]`` (N) vs ``local[8]`` (4N) — chosen after
calibrating the sandbox itself: pure busy-loop processes scale ~0.97
to 8-way and ~0.81 to 32-way here, but JVM-internal thread throughput
saturates around 12-16 effective cores (measured 2.1x from local[8]
to local[32] on a pure whole-stage-codegen aggregate). Above local[8]
the box, not the engine, is the bottleneck, so 2-vs-8 is the honest
within-capacity N-vs-4N comparison. BENCH.md records the calibration
numbers alongside the result.

HEADLINE protocol (default, ``parent_seq``): interleaved SOLO pinned
runs — each arm alone on the box, order flipped per repetition, each
run normalized by a concurrent pinned html-parse probe on disjoint
cores (the live CPU-delivery covariate; this box's delivery swings
~30% minute-to-minute). Median normalized rates give the headline
efficiency. The round-2 synchronized-pair protocol remains available
via ``--pairs``; it measures co-tenant memory-bandwidth/disk
contention between the two co-resident JVMs (a real N-vs-4N
comparison runs on separate hardware) and is reported as a lower
bound only. Full methodology + measurements in BENCH.md.

Usage:
    python scripts/bench_scaling.py [--seq K]    # headline: K interleaved solo reps (default 3)
    python scripts/bench_scaling.py --pairs      # synchronized concurrent pairs (lower bound)
    python scripts/bench_scaling.py --child 8    # child: one pinned measurement
    python scripts/bench_scaling.py --build DIR  # pre-build the shared corpus
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

# Defaults = the BENCH.md headline configuration: 640k-page corpus,
# 240k-page budget, 4 frontier rounds. Rounds this size keep the
# per-round driver-fixed cost under ~10% of the 4N arm's wall, i.e.
# closer to the production regime where rounds are large (the fixed
# cost is O(rounds), not O(pages)).
HOSTS = int(os.environ.get("SPARK_GRAFT_BENCH_HOSTS", "16000"))
PAGES_PER_HOST = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "40"))
BODY_KB = int(os.environ.get("SPARK_GRAFT_BENCH_BODY_KB", "32"))
LIMIT = int(os.environ.get("SPARK_GRAFT_BENCH_LIMIT", "240000"))


def child(cpus: int) -> None:
    # Pin the whole child process tree (driver JVM, executor task
    # threads, pyspark.daemon UDF workers) to exactly `cpus` logical
    # CPUs. Without this the small arm's JVM service threads (GC,
    # netty, parquet IO) and Python workers borrow the box's idle
    # cores, overstating the N arm and understating scaling
    # efficiency — local[k] caps task slots, not process CPU.
    # SPARK_GRAFT_BENCH_CORE_OFFSET places the pin window, so two arms
    # can run CONCURRENTLY on disjoint cores (see parent()).
    off = int(os.environ.get("SPARK_GRAFT_BENCH_CORE_OFFSET", "0"))
    if hasattr(os, "sched_setaffinity"):
        want = set(range(off, off + cpus))
        have = os.sched_getaffinity(0)
        if not want <= have:
            # box smaller than the requested window: fall back to any
            # `cpus` allowed cores so the child still measures rather
            # than dying with EINVAL (the pin is then best-effort)
            want = set(sorted(have)[:cpus])
            print(f"WARN: core window {off}+{cpus} unavailable, pinning {sorted(want)}", file=sys.stderr)
        os.sched_setaffinity(0, want)

    from pyspark.sql import SparkSession

    from webcrawler_spark.engine import CrawlConfig
    from webcrawler_spark.plans.crawl import crawl
    from webcrawler_spark.session import apply_perf_conf
    from webcrawler_spark.sources.synthetic_web import big_web_seeds, build_big_web

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"crawl-scaling-{cpus}")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", os.environ.get("SPARK_GRAFT_AQE", "true"))
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"))
        # split the corpus scan fine enough that every arm runs
        # multiple task waves: at the default 128 MiB the ~1 GiB
        # corpus coalesces to ~11 input partitions, which is 1.4
        # ragged waves on 8 cores (measured: the fetch+parse stage
        # scaled only 2.7x from 2 to 8 cores purely from the tail)
        # — the small-file analog of sizing maxPartitionBytes so a
        # 100 TB scan yields several tasks per executor core
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_BENCH_MAX_PART", "16m"),
        )
        .config("spark.ui.enabled", "false")
    )
    # optional per-stage diagnostics (SPARK_GRAFT_BENCH_EVENTLOG=dir):
    # event logs carry executorRunTime/CpuTime/GC per task, the ground
    # truth for where an arm's CPU-seconds go
    _ev = os.environ.get("SPARK_GRAFT_BENCH_EVENTLOG")
    if _ev:
        os.makedirs(_ev, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", _ev)
            .config("spark.eventLog.compress", "false")
        )
    spark = apply_perf_conf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # production path: the corpus is a columnar table (parquet /
    # Iceberg), so narrow scans (url,status,content_type) never touch
    # the html column; a localCheckpoint row-cache would deserialize
    # full rows on every scan and hide the engine's column pruning.
    # The corpus is deterministic, so the parent pre-builds it ONCE at
    # full box parallelism and every arm reads the same files
    # (SPARK_GRAFT_BENCH_PAGES_DIR) — input prep is not measured work,
    # and rebuilding 640k 32 KiB pages inside a 2-core-pinned child
    # would dominate its wall clock.
    pages_dir = os.environ.get("SPARK_GRAFT_BENCH_PAGES_DIR")
    if not pages_dir or not os.path.isdir(pages_dir):
        pages_dir = os.path.join(tempfile.mkdtemp(prefix="bigweb-"), "pages")
        build_big_web(
            spark,
            num_hosts=HOSTS,
            pages_per_host=PAGES_PER_HOST,
            partitions=cpus * 2,
            body_kb=BODY_KB,
        ).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    # every=1: seed the full host list (a production crawl of a known
    # host universe), giving 3 production-shaped rounds to the 240k
    # budget instead of 4 geometric ones — one fewer round of fixed
    # cost on BOTH arms, and all admission work lands in round 1
    seeds = big_web_seeds(spark, num_hosts=HOSTS, every=int(os.environ.get("SPARK_GRAFT_BENCH_SEED_EVERY", "1")))
    cfg = CrawlConfig(
        limit=LIMIT,
        max_rounds=8,
        collect_metrics=False,
        # round size knobs: production rounds are minutes-to-hours, so
        # the per-round driver-fixed cost (~4 s: query compile, job
        # scheduling, snapshot commit) amortizes to noise; at sandbox
        # scale it is the main efficiency drag, so the bench exposes
        # the round size to measure at more production-like ratios
        max_urls_per_host_per_round=int(
            os.environ.get("SPARK_GRAFT_BENCH_PER_HOST", "50")
        ),
        round_window=float(os.environ.get("SPARK_GRAFT_BENCH_WINDOW", "10.0")),
        n_buckets=cpus,
        # round-3 verdict ask #7: run the J1 URL-seen stage with the
        # sharded bloom pre-pass ON ("exact" anti-join is the
        # default) so BENCH.md can record the filter's cost at 10^5
        # scale (it exists to pay off at 10^10)
        seen_filter=os.environ.get("SPARK_GRAFT_BENCH_SEEN_FILTER") or "exact",
    )
    t0 = time.time()
    session = crawl(spark, pages, seeds, config=cfg)
    dt = time.time() - t0
    eng = session.engine
    print(
        json.dumps(
            {
                "cpus": cpus,
                "wall_s": round(dt, 2),
                "pages": eng.state.total_fetched,
                "urls": eng.state.total_attempted,
                "rounds": len(session.history),
                "pages_per_sec": round(eng.state.total_fetched / dt, 1),
            }
        )
    )
    # The measurement is complete once the line above is out. JVM
    # teardown can lose a DAGScheduler-stop shutdown-hook race and turn
    # the exit code nonzero (observed once in ~30 runs, killing an
    # otherwise-complete rep), so flush and exit 0 explicitly instead
    # of letting py4j/atexit teardown decide the return code.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


def build_corpus(pages_dir: str) -> None:
    """Pre-build the deterministic corpus once, unpinned, at full box
    parallelism (runs as its own subprocess/JVM so the parent stays
    JVM-free)."""
    from pyspark.sql import SparkSession

    from webcrawler_spark.session import apply_perf_conf
    from webcrawler_spark.sources.synthetic_web import build_big_web

    spark = (
        apply_perf_conf(
            SparkSession.builder.master("local[*]")
            .appName("crawl-scaling-corpus-build")
            .config("spark.driver.memory", "24g")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"))
            .config("spark.ui.enabled", "false")
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = build_big_web(
        spark,
        num_hosts=HOSTS,
        pages_per_host=PAGES_PER_HOST,
        partitions=32,
        body_kb=BODY_KB,
    )
    # hash-spread pages across files: spark.range generation is
    # host-contiguous, so a round's wave (per-host URL batches) would
    # concentrate its parse work in the few splits holding those
    # hosts' pages (measured: 15.3 s max task vs 5.1 s mean in the
    # round-3 fetch = a one-task tail on the 4N arm). url-hash layout
    # makes every split carry a uniform share of every wave — the
    # shape a real multi-segment corpus scan has.
    df.repartition(64, df.url).write.parquet(pages_dir)
    spark.stop()


def _run_child(cpus: int, offset: int, pages_dir: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_CORE_OFFSET=str(offset),
        SPARK_GRAFT_BENCH_PAGES_DIR=pages_dir,
    )
    out = subprocess.run(
        [sys.executable, __file__, "--child", str(cpus)],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=9000,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(
            f"child cpus={cpus} offset={offset} rc={out.returncode},"
            f" no JSON result; stderr tail:\n{out.stderr[-2000:]}"
        )
    if out.returncode != 0:
        # the crawl finished and reported; only teardown failed —
        # keep the measurement, note the anomaly
        print(
            f"WARN: child cpus={cpus} exited rc={out.returncode} after"
            " printing its result; keeping the measurement",
            file=sys.stderr,
        )
    print(lines[-1], file=sys.stderr)
    return json.loads(lines[-1])


def _cpu_times() -> tuple[float, float, float]:
    """(busy, steal, total) jiffies from /proc/stat's aggregate cpu
    line — the box-weather telemetry recorded per pair. steal > 0
    means the hypervisor withheld cycles during the window."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    vals = [float(v) for v in parts[1 : 1 + 8]]  # user..steal
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0.0] * 8)[:8]
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + steal + idle + iowait


def _ensure_corpus(pages_dir: str | None) -> str:
    if not pages_dir:
        pages_dir = os.path.join(tempfile.mkdtemp(prefix="bigweb-"), "pages")
    if not os.path.isdir(pages_dir):
        print(f"building shared corpus at {pages_dir}", file=sys.stderr)
        out = subprocess.run(
            [sys.executable, __file__, "--build", pages_dir],
            cwd=REPO,
            timeout=6000,
        )
        if out.returncode != 0:
            raise RuntimeError("corpus build failed")
    return pages_dir


def _probe_worker(core: int, idx, counts, stop) -> None:
    """One pinned html-parse loop (the calibrate_box workload) used as
    a live CPU-delivery probe; bumps its shared counter per parse."""
    try:
        os.sched_setaffinity(0, {core})
    except OSError:
        pass
    from calibrate_box import make_page
    from html.parser import HTMLParser

    page = make_page(32)

    class P(HTMLParser):
        def handle_data(self, d):
            pass

    while not stop.is_set():
        p = P()
        p.feed(page)
        p.close()
        counts[idx] += 1


class WeatherProbe:
    """Continuous pinned calibration load on cores DISJOINT from the
    arm windows. Runs for the whole protocol so background box load is
    constant across arms; per-window parse rates give a measured
    weather covariate to normalize arm rates by."""

    CORES = tuple(
        int(c) for c in os.environ.get(
            "SPARK_GRAFT_BENCH_PROBE_CORES", "16,17,18,19"
        ).split(",")
    )

    def __init__(self):
        import multiprocessing as mp

        self._stop = mp.Event()
        self._counts = mp.Array("l", len(self.CORES))
        self._procs = [
            mp.Process(
                target=_probe_worker,
                args=(c, i, self._counts, self._stop),
                daemon=True,
            )
            for i, c in enumerate(self.CORES)
        ]
        for p in self._procs:
            p.start()

    def snapshot(self) -> int:
        return sum(self._counts)

    def stop(self) -> None:
        self._stop.set()
        for p in self._procs:
            p.join(timeout=5)


def parent_seq(k_reps: int) -> None:
    """HEADLINE protocol (round 3): interleaved SOLO pinned runs.

    Each arm runs ALONE on the box, pinned to exactly its core budget
    (N = 2 cores, 4N = 8 cores), repeated ``k_reps`` times with the
    arm order flipped every repetition (8,2 / 2,8 / 8,2 ...) so slow
    drift in box weather biases neither arm. Per-run /proc/stat
    busy/steal fractions are recorded; runs taken while the rest of
    the box is busy are visible in the telemetry rather than silently
    folded into the result. Headline efficiency =
    (median 4N rate / median N rate) / 4.

    Why not the round-2 synchronized-pair protocol: two co-resident
    JVMs share the socket's memory bandwidth, LLC, and /tmp device —
    resources two *separate clusters* (the thing the north_rule
    actually compares) do not share. Measured here: the 4N arm does
    1,105 pages/s solo but only ~590 pages/s when an N arm crawls
    beside it (-47%), while the N arm loses ~11% — the pair measures
    co-tenant contention, not engine scaling, and its "efficiency" is
    a lower bound that tightens as page weight grows. (Round 2's pair
    numbers accidentally dodged this: each arm built its own corpus
    in-process first, at different speeds, so the heavy crawl windows
    barely overlapped. Fixing corpus prep out of the arms exposed the
    contention.) The solo protocol's residual exposure is
    tens-of-seconds weather between runs — handled by repetition,
    order-flipping, and the telemetry gate; the synchronized pair is
    still available via --pairs for the co-tenancy bound.
    """
    import statistics

    pages_dir = _ensure_corpus(os.environ.get("SPARK_GRAFT_BENCH_PAGES_DIR"))
    probe = WeatherProbe()
    time.sleep(3)  # probe warmup (fork + first parses)
    runs: list[dict] = []
    aborted: str | None = None
    try:
        for rep in range(k_reps):
            if aborted:
                break
            order = [8, 2] if rep % 2 == 0 else [2, 8]
            for cpus in order:
                cpu0 = _cpu_times()
                pr0 = probe.snapshot()
                t0 = time.time()
                try:
                    res = _run_child(cpus, 0, pages_dir)
                except RuntimeError as exc:
                    # a lost arm must not lose the session: keep the
                    # completed runs and emit the summary over them
                    # (the unpaired partner arm stays in `runs` for
                    # transparency; pooling handles asymmetric counts)
                    print(f"ABORT rep={rep} cpus={cpus}: {exc}", file=sys.stderr)
                    aborted = f"rep {rep} cpus={cpus} child failed"
                    break
                wall = time.time() - t0
                pr1 = probe.snapshot()
                cpu1 = _cpu_times()
                d_total = max(cpu1[2] - cpu0[2], 1e-9)
                probe_rate = (pr1 - pr0) / max(wall, 1e-9)
                res["box_weather"] = {
                    "busy_frac": round((cpu1[0] - cpu0[0]) / d_total, 3),
                    "steal_frac": round((cpu1[1] - cpu0[1]) / d_total, 4),
                    "wall_s": round(wall, 1),
                    "arm_budget_frac": round(cpus / 32.0, 3),
                    # html-parses/s delivered to the pinned probe cores
                    # DURING this arm's window — the CPU-delivery
                    # covariate used for normalization
                    "probe_rate": round(probe_rate, 1),
                }
                res["rep"] = rep
                res["norm_rate"] = (
                    round(res["pages_per_sec"] / probe_rate, 4)
                    if probe_rate > 0
                    else None
                )
                runs.append(res)
                print(json.dumps(res), file=sys.stderr)
    finally:
        probe.stop()
    r2 = sorted(r["pages_per_sec"] for r in runs if r["cpus"] == 2)
    r8 = sorted(r["pages_per_sec"] for r in runs if r["cpus"] == 8)
    if not r2 or not r8:
        raise RuntimeError(f"no complete rep pair (aborted: {aborted})")
    n2 = sorted(r["norm_rate"] for r in runs if r["cpus"] == 2 and r["norm_rate"])
    n8 = sorted(r["norm_rate"] for r in runs if r["cpus"] == 8 and r["norm_rate"])
    med2, med8 = statistics.median(r2), statistics.median(r8)
    summary = {
        "protocol": "interleaved_solo_pinned_probe_normalized",
        "n_cores": 2,
        "reps": min(len(r2), len(r8)),
        "reps_requested": k_reps,
        **({"aborted": aborted} if aborted else {}),
        "rate_n": med2,
        "rate_4n": med8,
        "rate_n_all": r2,
        "rate_4n_all": r8,
        "scaling_efficiency_raw": round((med8 / med2) / 4, 3),
        # best-of-K raw: box weather is one-sided (delivery never
        # exceeds the quiet box), so each arm's best rep estimates its
        # quiet-box rate — the max-throughput analog of min-latency
        # over reps. Robust to weather without the probe's own
        # co-load-depression bias.
        "scaling_efficiency_best": round((max(r8) / max(r2)) / 4, 3),
        "runs": runs,
        "config": {
            "hosts": HOSTS,
            "pages_per_host": PAGES_PER_HOST,
            "body_kb": BODY_KB,
            "limit": LIMIT,
        },
    }
    if n2 and n8:
        nm2, nm8 = statistics.median(n2), statistics.median(n8)
        summary["scaling_efficiency"] = round((nm8 / nm2) / 4, 3)
        summary["norm_rate_n_all"] = n2
        summary["norm_rate_4n_all"] = n8
    else:
        summary["scaling_efficiency"] = summary["scaling_efficiency_raw"]
    print(json.dumps(summary))


def parent() -> None:
    # Protocol: K synchronized pairs of CONCURRENT arms on disjoint
    # pinned core sets. This sandbox's CPU delivery is bursty on a
    # tens-of-seconds timescale (calibrated with
    # scripts/calibrate_box.py: the same pinned core measured 205 vs
    # 385 html-parses/s minutes apart, while all 32 cores are
    # homogeneous within ±4% when probed back-to-back), so ANY
    # sequential A-then-B comparison confounds box weather with engine
    # scaling — observed spread between identical sequential arms was
    # 22-27%. Each pair therefore launches ONE N child and ONE 4N
    # child at the same instant on disjoint pinned cores (contention
    # between arms is nil: disjoint cores, combined peak well under
    # the box's 32); the shorter 4N run is contained in the N run's
    # wall window, so every 4N second shares the box weather with the
    # N arm. Pair efficiency = (rate_4N / rate_N) / 4; the headline is
    # the median over pairs (best/worst also reported).
    #
    # A-B-B-A: the core WINDOWS swap between consecutive pairs (even
    # pairs: N on cores 0-1, 4N on 8-15; odd pairs: 4N on 0-7, N on
    # 8-9), so a persistent fast/slow core window biases both arms
    # symmetrically across the series instead of one arm always.
    # Per-pair /proc/stat busy/steal fractions are recorded as weather
    # telemetry next to each efficiency sample.
    import statistics
    import threading

    k_pairs = int(os.environ.get("SPARK_GRAFT_BENCH_PAIRS", "2"))
    pages_dir = _ensure_corpus(os.environ.get("SPARK_GRAFT_BENCH_PAGES_DIR"))
    pairs: list[dict] = []
    for i in range(k_pairs):
        res: dict[int, dict] = {}
        err: list[BaseException] = []

        def run(cpus: int, off: int) -> None:
            try:
                res[cpus] = _run_child(cpus, off, pages_dir)
            except BaseException as e:  # surfaced after join
                err.append(e)

        if i % 2 == 0:
            arms = [(2, 0), (8, 8)]  # N @ cores 0-1, 4N @ cores 8-15
        else:
            arms = [(2, 8), (8, 0)]  # N @ cores 8-9, 4N @ cores 0-7
        cpu0 = _cpu_times()
        t0 = time.time()
        threads = [threading.Thread(target=run, args=a) for a in arms]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if err:
            raise err[0]
        wall = time.time() - t0
        cpu1 = _cpu_times()
        d_total = max(cpu1[2] - cpu0[2], 1e-9)
        weather = {
            "busy_frac": round((cpu1[0] - cpu0[0]) / d_total, 3),
            "steal_frac": round((cpu1[1] - cpu0[1]) / d_total, 4),
            "wall_s": round(wall, 1),
        }
        r_n, r_4n = res[2]["pages_per_sec"], res[8]["pages_per_sec"]
        pairs.append(
            {
                "pair": i,
                "core_windows": {"n": arms[0][1], "4n": arms[1][1]},
                "rate_n": r_n,
                "rate_4n": r_4n,
                "efficiency": round((r_4n / r_n) / 4, 3) if r_n else 0.0,
                "box_weather": weather,
                "detail": res,
            }
        )
    effs = [p["efficiency"] for p in pairs]
    med = statistics.median(effs)
    # the pair whose efficiency is the (lower-)median, so the headline
    # rates and the headline efficiency come from one actual run and
    # (rate_4n/rate_n)/4 recomputed from them is self-consistent
    med_pair = sorted(pairs, key=lambda p: p["efficiency"])[(len(pairs) - 1) // 2]
    best = max(pairs, key=lambda p: p["efficiency"])
    print(
        json.dumps(
            {
                "n_cores": 2,
                "rate_n": med_pair["rate_n"],
                "rate_4n": med_pair["rate_4n"],
                "scaling_efficiency": round(med, 3),
                "scaling_efficiency_median_pair": med_pair["efficiency"],
                "rate_n_best_pair": best["rate_n"],
                "rate_4n_best_pair": best["rate_4n"],
                "scaling_efficiency_best_pair": best["efficiency"],
                "pairs": pairs,
                "config": {
                    "hosts": HOSTS,
                    "pages_per_host": PAGES_PER_HOST,
                    "body_kb": BODY_KB,
                    "limit": LIMIT,
                },
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child(int(sys.argv[2]))
    elif len(sys.argv) > 2 and sys.argv[1] == "--build":
        build_corpus(sys.argv[2])
    elif len(sys.argv) > 1 and sys.argv[1] == "--pairs":
        parent()
    else:
        # default: the headline interleaved-solo protocol
        parent_seq(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
