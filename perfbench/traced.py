"""The traced run: per-layer metrics for one operation of a workload.

One untraced operation is timed first; then every layer's public
functions are wrapped in spans (``spans.Tracer``) and one more
operation runs. The relative wall-clock difference between the two is
reported as the tracing overhead; it also holds the JIT warm-up between
two consecutive operations, so it can read below zero. Spark task metrics come from the session's event log,
read after the session stops; tasks are attributed to the innermost
span whose job group submitted their stage.

A layer the workload bypasses reports 0 for its metrics.
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time

import spans

CRAWL_TABLES = ("pages_fetched", "frontier", "seen", "host_state",
                "host_robots", "metrics")
# the two checkpoints every round takes, by call order; any further one
# needs ``CrawlConfig.limit`` or ``hosts_per_round``, which no workload sets
CHECKPOINT_LABELS = ("cand", "sel")
FUNNEL_STAGES = (
    ("cleaning", "c4_line_filter"),
    ("cleaning", "gopher_quality_flags"),
    ("dedup", "near_duplicate_pairs"),
    ("cleaning", "decontaminate"),
    ("langid", "fit_nb_langid"),
    ("langid", "nb_langid"),
    ("textstats", "unigram_logprob"),
    ("mixing", "domain_cap"),
    ("mixing", "mixture_sample"),
    ("packing", "pack_concat_chunks"),
)
# fit + predict are reported together as one stage
STAGE_METRIC = {"fit_nb_langid": "nb_langid"}
SPARK_TOTALS = ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "task_skew", "failed_tasks")
LAYERS = ("plans", "engine", "sparkutil", "tables", "bloom", "operators",
          "unattributed")
SAMPLE_ROWS = 60


def metric_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    s, n, r = "s", "count", "ratio"
    m = {
        "engine.init_s": s, "engine.round_s.p50": s, "engine.round_s.max": s,
        "engine.round_self_s.p50": s,
        "engine.jobs_per_round": n, "engine.fetch_yield": r,
        "plans.resume_overhead_s": s,
    }
    m.update({f"sparkutil.checkpoint_s.{c}": s for c in CHECKPOINT_LABELS})
    m["sparkutil.free_s"] = s
    m.update({f"tables.write_s.{t}": s for t in CRAWL_TABLES})
    m.update({
        "tables.compact_s": s, "tables.gc_s": s, "tables.commit_s": s,
        "tables.bytes_written": "bytes", "tables.files_written": n,
        "bloom.anti_join_s": s, "bloom.anti_join_calls": n,
        "seen.new_link_frac": r,
        "functions.parse_page_us": "us", "functions.parse_page_32k_us": "us",
        "functions.parse_mb_per_s": "MiB/s", "functions.robots_allowed_us": "us",
        "functions.format_link_us": "us",
    })
    m.update({f"operators.{STAGE_METRIC.get(f, f)}_s": s for _, f in FUNNEL_STAGES})
    m["operators.jobs_per_funnel"] = n
    m.update({
        "spark.jobs": n, "spark.tasks": n, "spark.task_s": s, "spark.cpu_s": s,
        "spark.gc_s": s, "spark.shuffle_read_mb": "MiB",
        "spark.shuffle_write_mb": "MiB", "spark.spill_mb": "MiB",
        "spark.task_skew": r, "spark.failed_tasks": n,
    })
    m.update({f"spark.task_s.{layer}": s for layer in LAYERS})
    m.update({"trace.overhead_frac": r, "trace.spans": n})
    return m


# ---------------------------------------------------------------------------
# patching
# ---------------------------------------------------------------------------


def install_crawl(tracer: spans.Tracer) -> None:
    import webcrawler_spark.engine as engine
    import webcrawler_spark.plans.crawl as plans
    import webcrawler_spark.tables as tables

    tracer.wrap(plans, "crawl", "plans.crawl", "plans")
    tracer.wrap(plans, "resume_crawl", "plans.resume_crawl", "plans")
    E = engine.CrawlEngine
    tracer.wrap(E, "run_round", "engine.run_round", "engine")
    tracer.wrap(E, "init_from_seeds", "engine.init_from_seeds", "engine")
    tracer.wrap(E, "resume", "engine.resume", "engine")
    # engine binds these by name at import: patch the engine's names
    tracer.wrap(engine, "checkpoint", "sparkutil.checkpoint", "sparkutil")
    tracer.wrap(engine, "free", "sparkutil.free", "sparkutil")
    tracer.wrap(engine, "anti_join_with_bloom", "bloom.anti_join", "bloom")
    for cls in (tables.MemoryCatalog, tables.ParquetCatalog):
        for m in ("overwrite", "append", "append_delta", "register_empty",
                  "compact"):
            tracer.wrap(cls, m, f"tables.{m}", "tables",
                        label=lambda args, kw: args[1])
        for m in ("commit_round", "gc"):
            tracer.wrap(cls, m, f"tables.{m}", "tables")


def install_funnel(tracer: spans.Tracer, captured: dict) -> None:
    for mod, fn in FUNNEL_STAGES:
        m = importlib.import_module(f"webcrawler_spark.operators.{mod}")

        def keep(args, kwargs, fn=fn):
            captured.setdefault(fn, (args, kwargs))

        tracer.wrap(m, fn, f"operators.{fn}", "operators", on_call=keep)


# ---------------------------------------------------------------------------
# per-layer measurements
# ---------------------------------------------------------------------------


def _sum(ss) -> float:
    return sum(s.duration for s in ss)


def crawl_layers(tracer: spans.Tracer, res: dict, spark, inp) -> dict:
    from pyspark.sql import functions as F

    m: dict = {}
    rounds = tracer.named("engine.run_round")
    round_s = [r.duration for r in rounds]
    m["engine.init_s"] = _sum(tracer.named("engine.init_from_seeds"))
    m["engine.round_s.p50"] = statistics.median(round_s) if round_s else 0.0
    m["engine.round_s.max"] = max(round_s, default=0.0)
    selfs = [spans.self_time(r, tracer.children(r)) for r in rounds]
    m["engine.round_self_s.p50"] = statistics.median(selfs) if selfs else 0.0
    op_s = _sum(tracer.named("plans.crawl")) + _sum(tracer.named("plans.resume_crawl"))
    print(f"[perfbench] traced operation {op_s:.3f} s: rounds {sum(round_s):.3f} s "
          f"({sum(round_s) / max(op_s, 1e-9):.0%}), init "
          f"{m['engine.init_s']:.3f} s", file=sys.stderr)
    m["engine.fetch_yield"] = res["items"] / max(res["urls"], 1)
    resume = tracer.named("plans.resume_crawl")
    m["plans.resume_overhead_s"] = sum(
        r.duration - _sum(c for c in rounds if r.start <= c.start <= r.end)
        for r in resume
    )

    ck = {c: 0.0 for c in CHECKPOINT_LABELS}
    for r in rounds:
        mine = sorted(
            (s for s in tracer.named("sparkutil.checkpoint")
             if s.parent == r.id and s.attrs.get("caller") == "run_round"),
            key=lambda s: s.start,
        )
        for label, s in zip(CHECKPOINT_LABELS, mine):
            ck[label] += s.duration
    for c in CHECKPOINT_LABELS:
        m[f"sparkutil.checkpoint_s.{c}"] = ck[c]
    m["sparkutil.free_s"] = _sum(tracer.named("sparkutil.free"))

    by_id = {s.id: s for s in tracer.spans}
    writes = [
        s for s in tracer.spans
        if s.name in ("tables.overwrite", "tables.append",
                      "tables.append_delta", "tables.register_empty")
        and not (s.parent in by_id and by_id[s.parent].layer == "tables")
    ]
    for t in CRAWL_TABLES:
        m[f"tables.write_s.{t}"] = _sum(s for s in writes if s.attrs.get("label") == t)
    m["tables.compact_s"] = _sum(tracer.named("tables.compact"))
    m["tables.gc_s"] = _sum(tracer.named("tables.gc"))
    m["tables.commit_s"] = _sum(tracer.named("tables.commit_round"))
    n_files = n_bytes = 0
    for dirpath, _, files in os.walk(res["catalog_root"]):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
    m["tables.bytes_written"] = n_bytes
    m["tables.files_written"] = n_files
    bl = tracer.named("bloom.anti_join")
    m["bloom.anti_join_s"] = _sum(bl)
    m["bloom.anti_join_calls"] = len(bl)

    s = res["session"]
    n_links = s.pages_fetched.agg(F.sum("n_links")).first()[0] or 0
    entered = (s.seen.count() + s.engine.cat.read("frontier").count()
               - inp["seeds"].count())
    m["seen.new_link_frac"] = entered / max(n_links, 1)
    m.update(function_costs(spark, inp))
    return m


def _time_each(fn, items) -> float:
    """Mean microseconds per call, single-threaded, after one warm call."""
    fn(*items[0])
    t0 = time.perf_counter()
    for it in items:
        fn(*it)
    return (time.perf_counter() - t0) / len(items) * 1e6


def function_costs(spark, inp) -> dict:
    """``functions`` called directly from the driver process on rows of
    the workload's own web, plus 32 KiB pages of the same generator."""
    from pyspark.sql import functions as F

    from webcrawler_spark.functions.parse import parse_page
    from webcrawler_spark.functions.robots import robots_allowed
    from webcrawler_spark.functions.urltools import format_link, host_of
    from webcrawler_spark.sources.synthetic_web import build_big_web

    pages = inp["pages"]
    rows = (pages.filter(F.col("content_type").startswith("text/html"))
            .orderBy("url").limit(SAMPLE_ROWS).select("url", "html").collect())
    sample = [(bytes(r["html"]), host_of(r["url"])) for r in rows]
    big = build_big_web(spark, num_hosts=2, pages_per_host=SAMPLE_ROWS // 2,
                        body_kb=32, partitions=1)
    big_rows = big.filter(F.col("content_type").startswith("text/html")).collect()
    big_sample = [(bytes(r["html"]), host_of(r["url"])) for r in big_rows]
    robots = [r["html"].decode() for r in
              pages.filter(F.col("url").endswith("/robots.txt"))
              .orderBy("url").limit(8).select("html").collect()]
    parsed = [parse_page(h, host) for h, host in sample]
    links = [(u, host) for (_, host), p in zip(sample, parsed) for u in p[3]]
    out = {
        "functions.parse_page_us": _time_each(parse_page, sample),
        "functions.parse_page_32k_us": _time_each(parse_page, big_sample),
        "functions.format_link_us": _time_each(format_link, links),
        "functions.robots_allowed_us": _time_each(
            robots_allowed,
            [(u, robots[i % len(robots)]) for i, (u, _) in enumerate(links)],
        ),
    }
    mb = sum(len(h) for h, _ in big_sample) / 2**20
    out["functions.parse_mb_per_s"] = mb / (
        out["functions.parse_page_32k_us"] * len(big_sample) / 1e6
    )
    return out


def funnel_layers(captured: dict) -> dict:
    """Each stage's public function on that stage's own (materialized)
    input, output forced with ``count()``."""
    from pyspark.sql import DataFrame

    def materialize(v):
        if isinstance(v, DataFrame):
            return v.localCheckpoint(eager=True)
        return v

    def force(v):
        for x in v if isinstance(v, tuple) else (v,):
            if isinstance(x, DataFrame):
                x.count()

    m: dict = {}
    for mod, fn in FUNNEL_STAGES:
        name = f"operators.{STAGE_METRIC.get(fn, fn)}_s"
        m.setdefault(name, 0.0)
        if fn not in captured:
            continue
        args, kwargs = captured[fn]
        args = [materialize(a) for a in args]
        kwargs = {k: materialize(v) for k, v in kwargs.items()}
        f = getattr(importlib.import_module(f"webcrawler_spark.operators.{mod}"), fn)
        t0 = time.time()
        force(f(*args, **kwargs))
        m[name] += time.time() - t0
    return m


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class TracedRun:
    """Holds what the traced operation left behind until the session
    has stopped and its event log is complete."""

    def __init__(self, wl, spark, inp, attempt, failures: list[str]):
        """``attempt(what, fn, *args, failures=...)`` runs one operation
        and records a failure instead of raising."""
        self.wl = wl
        self.app_id = spark.sparkContext.applicationId
        self.logdir = os.path.join(os.path.dirname(inp["dir"]), "eventlog")
        untraced = attempt("untraced operation", wl.op, spark, inp, 0,
                           failures=failures)
        self.tracer = spans.Tracer(spark.sparkContext)
        captured: dict = {}
        if wl.name == "funnel":
            install_funnel(self.tracer, captured)
        else:
            install_crawl(self.tracer)
        self.t0 = time.time()
        try:
            traced = attempt("traced operation", wl.op, spark, inp, 1,
                             failures=failures)
        finally:
            self.t1 = time.time()
            self.tracer.unwrap_all()
        self.results = [untraced, traced]
        self.layers: dict = {}
        if untraced is not None and traced is not None:
            self.layers["trace.overhead_frac"] = traced["wall"] / untraced["wall"] - 1
            if wl.name == "funnel":
                self.layers.update(funnel_layers(captured))
            else:
                self.layers.update(crawl_layers(self.tracer, traced, spark, inp))

    def metrics(self) -> dict:
        """Per-layer metrics; call after the session has stopped."""
        units = metric_units()
        m = {n: 0.0 for n in units}
        m.update(self.layers)
        m["trace.spans"] = len(self.tracer.spans)
        path = os.path.join(self.logdir, self.app_id)
        if not os.path.exists(path):
            print(f"[perfbench] no event log at {path}: spark.* read 0",
                  file=sys.stderr)
        else:
            with open(path) as f:
                jobs, tasks, stage_group = spans.read_event_log(f)
            jobs = [j for j in jobs if self.t0 <= j.submit <= self.t1]
            tasks = spans.tasks_of_jobs(jobs, tasks)
            tot = spans.task_totals(tasks)
            tot["jobs"] = len(jobs)
            for k in SPARK_TOTALS:
                m[f"spark.{k}"] = tot[k]
            layer_of = {s.id: s.layer for s in self.tracer.spans}
            by_layer: dict = {}
            for sid, ts in spans.attribute_tasks(
                tasks, stage_group, self.tracer.spans
            ).items():
                layer = layer_of.get(sid, "unattributed")
                by_layer.setdefault(layer, []).extend(ts)
            for layer in LAYERS:
                m[f"spark.task_s.{layer}"] = sum(
                    t.run_s for t in by_layer.get(layer, [])
                )
            rounds = self.tracer.named("engine.run_round")
            per_round = [
                sum(1 for j in jobs if r.start <= j.submit <= r.end)
                for r in rounds
            ]
            if per_round:
                m["engine.jobs_per_round"] = statistics.median(per_round)
            if self.wl.name == "funnel":
                m["operators.jobs_per_funnel"] = len(jobs)
        return {k: {"value": v, "unit": units[k]} for k, v in m.items()}
