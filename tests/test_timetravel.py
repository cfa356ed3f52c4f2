"""First-class time travel: read_as_of / snapshots / fork-resume.

The manifest already kept every committed snapshot (test_resume.py
checks that by hand); these tests cover the public API over it and the
north_rule's "resumption from ANY snapshot" via as_of_round forking.
"""

from __future__ import annotations

import pytest

from webcrawler_spark.engine import CrawlConfig, CrawlEngine
from webcrawler_spark.sources.synthetic_web import build_pages, seeds_df
from webcrawler_spark.tables import ParquetCatalog


@pytest.fixture(scope="module")
def pages(spark):
    return build_pages(spark).localCheckpoint()


def test_read_as_of_floor_semantics(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))
    df1 = spark.range(3).toDF("id")
    cat.append("t", df1)
    cat.commit_round(1, {"r": 1})
    cat.append("t", spark.range(5).toDF("id"))
    cat.commit_round(4, {"r": 4})

    assert cat.read_as_of("t", 1).count() == 3
    assert cat.read_as_of("t", 2).count() == 3      # floor: newest <= 2
    assert cat.read_as_of("t", 4).count() == 8
    assert cat.read_as_of("t", 99).count() == 8
    assert cat.read_as_of("missing", 4) is None
    with pytest.raises(ValueError):
        cat.read_as_of("t", 0)                      # before first commit

    snaps = cat.snapshots()
    assert [s["round"] for s in snaps] == [1, 4]
    assert snaps[0]["tables"] == ["t"]


def test_fork_resume_from_earlier_snapshot(spark, pages, tmp_path_factory):
    """Open the catalog as-of round 2 of a 4+-round crawl, resume, run
    to completion: the fork must converge to the uninterrupted run AND
    must not clobber the data dirs of the rounds it forked away."""
    cfg = CrawlConfig(max_rounds=40)

    ref = CrawlEngine(spark, pages, config=cfg)
    ref.run(seeds_df(spark))
    ref_seen = {(r["url"], r["fetched"]) for r in ref.seen().collect()}

    root = str(tmp_path_factory.mktemp("catalog"))
    eng1 = CrawlEngine(
        spark, pages, catalog=ParquetCatalog(spark, root), config=cfg
    )
    eng1.run(seeds_df(spark))  # full durable run, one snapshot per round
    snaps = ParquetCatalog(spark, root).snapshots()
    committed = [s["round"] for s in snaps if s["round"] >= 0]
    assert len(committed) >= 3
    mid, last = committed[len(committed) // 2], committed[-1]
    full_seen_last = ParquetCatalog(spark, root).read_as_of("seen", last).count()
    del eng1

    # time travel: reopen as of the mid-crawl snapshot and fork
    cat2 = ParquetCatalog(spark, root, as_of_round=mid)
    # manifest row `round` = last COMPLETED round; state carries next
    assert cat2.load_state()["round"] == mid + 1
    eng2 = CrawlEngine(spark, pages, catalog=cat2, config=cfg)
    eng2.resume()
    assert eng2.state.round == mid + 1
    eng2.run()

    assert {(r["url"], r["fetched"]) for r in eng2.seen().collect()} == ref_seen

    # the deterministic fork recomputes identical rounds, and the
    # forked-away originals stay readable (new dirs were allocated
    # above the historical max seq): round numbers duplicate across
    # branches, read_as_of picks the latest, counts must agree
    assert (
        ParquetCatalog(spark, root).read_as_of("seen", last).count()
        == full_seen_last
    )


def _jobs_in(spark, group: str, fn):
    """Run ``fn`` under a job group; returns (result, job ids it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_register_empty_is_schema_only(spark, tmp_path):
    """A durable empty table gets no data dir; its schema rides the
    manifest row, so a reopened catalog reads it back as an empty frame
    of that schema (latest and as-of), without a Spark job."""
    import os

    root = str(tmp_path)
    schema = spark.createDataFrame([], "url string, n long").schema
    cat = ParquetCatalog(spark, root)
    cat.register_empty("t", spark.createDataFrame([], schema))
    cat.commit_round(-1, {})
    assert not os.path.exists(os.path.join(root, "t"))

    cat2 = ParquetCatalog(spark, root)
    for i, read in enumerate(
        (lambda: cat2.read("t"), lambda: cat2.read_as_of("t", -1))
    ):
        df, jobs = _jobs_in(spark, f"empty-read-{i}", read)
        assert jobs == []
        assert df.schema == schema
        assert df.count() == 0


def test_catalog_reads_run_no_schema_inference_job(spark, tmp_path):
    """Every write records its schema, so read / read_as_of (also after
    a reopen) and the readers overwrite / append_delta return are plan
    construction only: no parquet schema-inference job."""
    root = str(tmp_path)
    df = spark.range(4).selectExpr("id", "cast(id as string) as s")
    _, write_jobs = _jobs_in(
        spark, "plain-write", lambda: df.write.parquet(str(tmp_path / "x"))
    )
    cat = ParquetCatalog(spark, root)
    for i, write in enumerate(
        (lambda: cat.overwrite("t", df), lambda: cat.append_delta("t", df))
    ):
        reader, jobs = _jobs_in(spark, f"cat-write-{i}", write)
        assert len(jobs) == len(write_jobs)  # the write's own jobs only
        assert reader.schema == spark.read.parquet(str(tmp_path / "x")).schema
    cat.commit_round(0, {})

    for i, read in enumerate(
        (
            lambda: cat.read("t"),
            lambda: cat.read_as_of("t", 0),
            lambda: ParquetCatalog(spark, root).read("t"),
        )
    ):
        got, jobs = _jobs_in(spark, f"cat-read-{i}", read)
        assert jobs == []
        assert got.count() == 8


def test_pre_upgrade_manifest_resumes(spark, pages, tmp_path_factory):
    """A manifest written before rows carried ``schemas`` still resumes
    (its tables are read with schema inference) to the identical
    crawl."""
    import json
    import os

    cfg = CrawlConfig(max_rounds=40)
    ref = CrawlEngine(spark, pages, config=cfg)
    ref.run(seeds_df(spark))
    ref_seen = {(r["url"], r["fetched"]) for r in ref.seen().collect()}

    root = str(tmp_path_factory.mktemp("catalog"))
    eng1 = CrawlEngine(
        spark, pages, catalog=ParquetCatalog(spark, root), config=cfg
    )
    eng1.init_from_seeds(seeds_df(spark))
    eng1.run_round()
    eng1.run_round()
    del eng1

    path = os.path.join(root, "manifest.json")
    with open(path) as f:
        m = json.load(f)
    for row in m["rounds"]:
        assert row.pop("schemas")
    with open(path, "w") as f:
        json.dump(m, f)

    eng2 = CrawlEngine(
        spark, pages, catalog=ParquetCatalog(spark, root), config=cfg
    )
    eng2.resume()
    eng2.run()
    assert {(r["url"], r["fetched"]) for r in eng2.seen().collect()} == ref_seen
