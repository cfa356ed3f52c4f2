"""End-to-end training-data pipeline funnel: eleven stages composed in
production order, one survivor count per stage (round-3 verdict ask
#6). The DuckDB oracle replays the whole chain; here we pin the
structural invariants at the smallest scale."""

import pytest

import __spark_entry__ as e

SF = "/root/testdata/sf0.001"
# Spark jobs of one warm exact-tier execution at SF (a cut lowers the pin)
FUNNEL_JOBS = 76


@pytest.fixture(scope="module")
def row(spark):
    return e.queries()["pipeline_funnel"](spark, SF).first()


def test_funnel_job_budget(spark, row):
    """Each stage is computed once and counted by the job that
    checkpoints it, so one execution (after ``row`` has compiled every
    stage) submits at most FUNNEL_JOBS jobs."""
    sc = spark.sparkContext

    def last_job():
        # spark.ui.retainedJobs truncates the id list: count jobs by
        # the newest id, not by the ids listed
        return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)

    j0 = last_job()
    e.queries()["pipeline_funnel"](spark, SF).collect()
    jobs = last_job() - j0
    assert jobs <= FUNNEL_JOBS, jobs


def test_stage_counts_monotone(row):
    order = [
        "n_raw", "n_c4", "n_gopher", "n_exact", "n_neardup",
        "n_decontam", "n_lang", "n_quality", "n_cap", "n_mix",
    ]
    vals = [row[c] for c in order]
    assert all(a >= b for a, b in zip(vals, vals[1:])), vals
    assert row["n_raw"] > 0 and row["n_mix"] >= 0


def test_planted_duplicates_are_cut(row):
    # mirrors (%37) enter at n_raw and cannot survive the exact stage;
    # the gap raw->exact must be at least the planted-mirror count that
    # got through c4+gopher (weak lower bound: > 0 whenever any doc
    # with doc_id % 37 == 0 survives the gates)
    assert row["n_exact"] <= row["n_gopher"]
    assert row["n_neardup"] <= row["n_exact"]


def test_quality_gate_keeps_two_thirds(row):
    # CCNet head+middle: top ceil(2n/3) of the scored set; scored set
    # can be smaller than n_lang (docs with zero in-model tokens drop)
    assert row["n_quality"] <= -(-2 * row["n_lang"] // 3)


def test_packing_accounting(row):
    # chunks = ceil(total_ws_tokens / 128); with any mix survivors the
    # BPE count is at least the whitespace count is at least one
    if row["n_mix"] > 0:
        assert row["n_chunks"] >= 1
        assert row["n_bpe_tokens"] >= row["n_chunks"]


def test_quality_tier_parity_on_cut_boundary(spark, row):
    """The approx (scale) tier replaces stage 7's count() + global
    top-k with an approx-quantile threshold filter. Parity law on the
    cut boundary: the approx survivor set is a SUPERSET of the exact
    one (ties at the threshold all survive instead of being split by
    doc_id), every downstream count is therefore >= its exact twin,
    and the stage-7 keep fraction stays ~2/3."""
    approx = e._q_pipeline_funnel(spark, SF, quality_tier="approx").first()
    # stages 1-6 are tier-independent: identical counts
    for c in ["n_raw", "n_c4", "n_gopher", "n_exact", "n_neardup",
              "n_decontam", "n_lang"]:
        assert approx[c] == row[c], c
    # stage 7+: approx keeps every exact survivor plus threshold ties
    assert approx["n_quality"] >= row["n_quality"]
    # and the cut is still a cut, not a pass-through
    assert approx["n_quality"] <= approx["n_lang"]
    if row["n_lang"] >= 3:
        assert approx["n_quality"] < approx["n_lang"] or row[
            "n_quality"
        ] == row["n_lang"]


def test_oracle_matches_at_sf0001(spark, row):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"parquet_scan('{SF}/documents.parquet')"
    )
    orc = con.execute(e.oracle_sql()["pipeline_funnel"]).fetchone()
    cols = [
        "n_raw", "n_c4", "n_gopher", "n_exact", "n_neardup", "n_decontam",
        "n_lang", "n_quality", "n_cap", "n_mix", "n_chunks", "n_bpe_tokens",
    ]
    assert {c: row[c] for c in cols} == dict(zip(cols, orc))
