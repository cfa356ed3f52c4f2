"""Graph operators: connected components, duplicate clustering, PageRank.

A 100 TB dedup does not stop at near-duplicate *pairs*: pairs chain
(A~B, B~C) into clusters, and the pipeline must pick one canonical
document per cluster. That is a connected-components problem over the
pair graph. Likewise a crawl frontier wants a host-importance signal
(PageRank over the host link graph) to prioritize what to fetch next —
the reference crawler's priority heap (Worker.py:49,149-152) orders
hosts only by politeness-delay recency; rank-aware ordering is the
standard scale-up of that idea.

Both operators are batch-iterative DataFrame loops, same execution
model as the crawl engine's round loop:

* ``connected_components`` — alternating large-star / small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC 2014): O(log n) rounds, each round two hash aggregates and two
  shuffle joins keyed on node id. No ``collect_list`` — a mega-cluster
  hub never materializes its neighbor list in one task; its rows stay
  spread across partitions and AQE's skew-join splits the hot key.
* ``pagerank`` — power iteration expressed as join + aggregate, with
  dangling-node mass folded back uniformly each step. Contributions
  shuffle once per iteration on dst; the rank table is one row per
  node.

Iterative-loop hygiene (found the hard way in this repo — BENCH.md):
intermediate state is materialized every ``checkpoint_every``
iterations via persist+count (InMemoryRelation keeps honest size
stats, so joins over the materialized state stay broadcastable —
localCheckpoint's LogicalRDD inherits pessimistic join-product stats
and silently de-optimizes later rounds); at production scale pass
``checkpoint_dir`` to round-trip through parquet instead, which both
truncates lineage durably and gives real file stats to AQE.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from webcrawler_spark import sparkutil

# ---------------------------------------------------------------------------
# connected components (large-star / small-star)
# ---------------------------------------------------------------------------


def _canon(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges as (u, v) with v < u; self loops dropped."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _edge_checksum(edges: DataFrame, canonical: bool = False) -> tuple[int, int]:
    """(count, order-independent hash-sum) of the canonical edge set.

    The convergence predicate. ``canonical=True`` skips the
    re-canonicalization shuffle when the input is already a distinct
    (u, v) v<u set — true for every ``_small_star`` output — so the
    checksum is a single scan + scalar aggregate.
    """
    # bit_xor, not sum: order-independent, cannot overflow under ANSI
    # mode, and sound as a set checksum because the edges are distinct
    row = (
        (edges if canonical else _canon(edges))
        .select(F.xxhash64(F.col("u").cast("string"), F.col("v").cast("string")).alias("h"))
        .agg(F.count("*").alias("n"), F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("h"))
        .first()
    )
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small; connect each small neighbor (and u) to
    the minimum of u's small neighborhood."""
    directed = _canon(edges)  # (u, v) with v < u
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    attached = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        attached.union(self_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
    checkpoint_every: int = 1,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    minimum node id in the node's connected component.

    Alternates large-star / small-star until the canonical edge set is
    unchanged (count + order-independent hash checksum — one tiny
    aggregate action per round). Converges in O(log n) rounds; every
    round is two shuffles on node id, nothing is collected.
    """
    spark = edges.sparkSession
    work = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    work = _canon(work)

    held: DataFrame | None = None

    def _materialize(df: DataFrame, it: int) -> tuple[DataFrame, tuple[int, int]]:
        # localCheckpoint, not persist: the loop state must have its
        # LOGICAL PLAN truncated each round, or Catalyst re-analyzes a
        # tree that grows by two joins + two aggregates per iteration
        # (on top of a possibly-huge upstream plan like the LSH→Jaccard
        # pipeline) and driver-side planning quickly dwarfs execution —
        # measured 8× slower with persist() on the sandbox. The
        # pessimistic LogicalRDD stats are harmless here: star rounds
        # join on node id and neither side should broadcast anyway.
        #
        # The checkpoint is LAZY and the round's convergence checksum
        # is the action that materializes it, so "truncate lineage"
        # and "test convergence" cost ONE job per round, not two.
        nonlocal held
        if checkpoint_dir is not None:
            path = os.path.join(checkpoint_dir, f"cc_{it}")
            df.write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
            return out, _edge_checksum(out, canonical=True)
        out = sparkutil.checkpoint_lazy(df)
        cs = _edge_checksum(out, canonical=True)
        sparkutil.seal(out)
        sparkutil.free(held)
        held = out
        return out, cs

    # materialize the input ONCE: edges often arrive as an expensive
    # upstream plan (e.g. the LSH→Jaccard pipeline) that must not be
    # recomputed by every star round + checksum action
    work, prev = _materialize(work, -1)
    if prev[0] == 0:
        sparkutil.free(held)
        schema_node = edges.schema[src].dataType
        return spark.createDataFrame([], f"node {schema_node.simpleString()}, component {schema_node.simpleString()}")

    converged = False
    for it in range(max_iter):
        # _small_star output is a distinct (u, v) v<u set, so the
        # checksum can skip the re-canonicalization shuffle
        work = _small_star(_large_star(work))
        if (it + 1) % checkpoint_every == 0:
            work, cur = _materialize(work, it)
        else:
            cur = _edge_checksum(work, canonical=True)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: checksum did not converge within"
            f" max_iter={max_iter} star rounds; components may be"
            f" incomplete (raise max_iter)",
            RuntimeWarning,
            stacklevel=2,
        )

    # converged edge set is a star forest: (u=node, v=root) with root < node
    stars = _canon(work)
    comps = stars.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        stars.select(F.col("v").alias("node"), F.col("v").alias("component"))
    ).distinct()
    result = comps.localCheckpoint(eager=True) if checkpoint_dir is None else comps
    sparkutil.free(held)
    return result


# ---------------------------------------------------------------------------
# duplicate clustering over near-dup pairs
# ---------------------------------------------------------------------------


def duplicate_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    rows_per_band: int = 1,
) -> DataFrame:
    """(doc_id, component) for EVERY document: near-duplicate pairs
    (LSH candidates → Jaccard verify, see dedup.near_duplicate_pairs)
    chained into clusters; docs in no pair form singleton clusters.

    component = min doc id of the cluster — the canonical survivor a
    training-data pipeline keeps. ``rows_per_band`` passes through to
    the LSH stage (the S-curve knob; the default 1 is what the oracle
    replays).
    """
    from webcrawler_spark.operators.dedup import near_duplicate_pairs

    pairs = near_duplicate_pairs(
        docs, id_col, text_col, n, bands, threshold, rows_per_band
    )
    cc = connected_components(pairs.select("a", "b"), "a", "b")
    return (
        docs.select(F.col(id_col))
        .join(cc, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )


def drop_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Keep one canonical doc (minimum id) per near-duplicate cluster."""
    clusters = duplicate_clusters(docs, id_col, text_col, n, bands, threshold)
    keep = clusters.where(F.col(id_col) == F.col("component")).select(id_col)
    return docs.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# PageRank (host-graph frontier prioritization)
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    alpha: float = 0.85,
    n_iter: int = 10,
    checkpoint_every: int = 2,
) -> DataFrame:
    """(node, rank) after ``n_iter`` power iterations over the directed
    edge set; ranks sum to 1.

    rank'(v) = (1-α)/N + α·(Σ_{u→v} rank(u)/outdeg(u) + dangling/N)

    Per iteration: one shuffle (the dst aggregate) plus a tiny 1-row
    dangling-mass aggregate crossJoined back in (kept distributed — no
    per-iteration driver action). The edge+degree table is computed
    once and cached; at cluster scale it should be written bucketed by
    src so every iteration's join is co-located and shuffle-free.
    """
    # materialize the static side ONCE (persist, not localCheckpoint —
    # InMemoryRelation keeps honest size stats, see BENCH.md): edges may
    # be an expensive upstream plan, and deg/nodes are touched by every
    # iteration
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg")).persist()
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    e_deg = e.join(deg, "src").persist()

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    held: DataFrame | None = None
    for it in range(n_iter):
        contrib = (
            e_deg.join(ranks, e_deg["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = (
            ranks.join(deg, ranks["node"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit((1.0 - alpha) / n)
                    + F.lit(alpha)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dangling") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
        if (it + 1) % checkpoint_every == 0 and (it + 1) < n_iter:
            # truncate the plan (localCheckpoint), don't just cache:
            # each iteration nests ~5 joins/aggregates and unbounded
            # plan depth turns driver planning into the bottleneck
            new_held = sparkutil.checkpoint(ranks)
            sparkutil.free(held)
            held = new_held
            ranks = new_held
    out = ranks.localCheckpoint(eager=True)
    sparkutil.free(held)
    e.unpersist()
    e_deg.unpersist()
    deg.unpersist()
    nodes.unpersist()
    return out


# ---------------------------------------------------------------------------
# anchor-text consolidation
# ---------------------------------------------------------------------------


def anchor_text_topk(
    edges: DataFrame,
    k: int = 3,
    dst_col: str = "dst",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-target top-k anchor texts by inbound count:
    (dst, anchor, n_inlinks, rank).

    The classic web-corpus side signal (anchor text describes the
    *target* page better than the target's own boilerplate; used for
    retrieval corpora and quality weighting). Input is the extracted
    link table (src, dst, anchor) the parse stage produces.

    Plan shape at 100 TB: one hash aggregate on (dst, anchor) — the
    partial/map-side combine collapses repeated boilerplate anchors
    before the shuffle — then a per-dst window over the already
    aggregated (≤ distinct-anchor) rows. No self-joins; a mega-hub dst
    is bounded by its distinct anchor strings, not its in-degree, and
    the deterministic (count desc, anchor asc) order makes the output
    engine-reproducible.
    """
    agg = edges.groupBy(dst_col, anchor_col).agg(
        F.count("*").alias("n_inlinks")
    )
    w = Window.partitionBy(dst_col).orderBy(
        F.desc("n_inlinks"), F.asc(anchor_col)
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(dst_col, anchor_col, "n_inlinks", "rank")
    )


# ---------------------------------------------------------------------------
# OPIC — Adaptive On-line Page Importance Computation (Abiteboul,
# Preda & Cobena, WWW 2003, public). The crawl-native importance
# signal: unlike PageRank it is designed to be accumulated WHILE
# crawling (cash flows with each fetch), so a frontier can order hosts
# by cash without waiting for a converged offline rank.
# ---------------------------------------------------------------------------


def opic(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    checkpoint_every: int = 2,
) -> DataFrame:
    """(node, cash, history, importance) after ``n_iter`` synchronous
    OPIC rounds (the batch-fair schedule: every page is processed once
    per round, which the paper's fairness condition admits).

    Per round, in this exact float op order (the DuckDB oracle unrolls
    the same expressions):

        history' = history + cash
        contrib(q) = Σ_{p→q} cash(p) / outdeg(p)      (one dst shuffle)
        dangling D = Σ_{outdeg(p)=0} cash(p)           (1-row aggregate)
        cash'(q) = coalesce(contrib, 0) + D / n

    Total cash stays 1 and total history grows by exactly 1 per round,
    so the paper's importance estimate is
    ``(history + cash) / (n_iter + 1)`` — no driver-side normalization
    scan needed.

    Plan shape matches :func:`pagerank`: the edge+degree static side is
    persisted once; each round costs one shuffle plus a 1-row dangling
    crossJoin; loop state is localCheckpoint-truncated every
    ``checkpoint_every`` rounds (the measured-8× planning lesson, see
    connected_components). At cluster scale write the edge table
    bucketed by src so every round's join is co-located.

    Reference parity note: the reference crawler's frontier (Host.py's
    priority heap) has no importance signal; this is the standard
    public algorithm a 10^10-URL frontier would rank hosts with.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg")).persist()
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()
        return nodes.select(
            "node",
            F.lit(0.0).alias("cash"),
            F.lit(0.0).alias("history"),
            F.lit(0.0).alias("importance"),
        )
    e_deg = e.join(deg, "src").persist()

    state = nodes.select(
        "node", F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("history")
    )
    held: DataFrame | None = None
    for it in range(n_iter):
        contrib = (
            e_deg.join(state, e_deg["src"] == state["node"])
            .select(F.col("dst").alias("node"), (F.col("cash") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = (
            state.join(deg, state["node"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("cash"), F.lit(0.0)).alias("dangling"))
        )
        state = (
            state.withColumn("history", F.col("history") + F.col("cash"))
            .select("node", "history")
            .join(contrib, "node", "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.coalesce(F.col("contrib"), F.lit(0.0))
                    + F.col("dangling") / F.lit(float(n))
                ).alias("cash"),
                "history",
            )
        )
        if (it + 1) % checkpoint_every == 0 and (it + 1) < n_iter:
            new_held = sparkutil.checkpoint(state)
            sparkutil.free(held)
            held = new_held
            state = new_held
    out = state.select(
        "node",
        "cash",
        "history",
        ((F.col("history") + F.col("cash")) / F.lit(float(n_iter + 1))).alias(
            "importance"
        ),
    ).localCheckpoint(eager=True)
    sparkutil.free(held)
    e.unpersist()
    e_deg.unpersist()
    deg.unpersist()
    nodes.unpersist()
    return out


# ---------------------------------------------------------------------------
# HITS — Hyperlink-Induced Topic Search (Kleinberg, JACM 1999, public).
# The hub/authority dual of PageRank: a page is a good AUTHORITY when
# good hubs link to it, a good HUB when it links to good authorities.
# For a crawl corpus this is the classic directory-vs-content signal
# (link farms score as hubs, canonical pages as authorities) and a
# second frontier-prioritization axis beside pagerank/opic.
# ---------------------------------------------------------------------------


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """(node, hub, authority) after ``n_iter`` mutual-reinforcement
    iterations, each score L1-normalized (sums to 1; Kleinberg's
    fixpoint is norm-invariant, and the L1 choice keeps the update a
    plain sum so a SQL oracle can replay it bit-for-bit):

        auth'(v) = Σ_{u→v} hub(u)   / Σ auth'      (one dst aggregate)
        hub'(u)  = Σ_{u→v} auth'(v) / Σ hub'       (one src aggregate)

    Plan shape at 100 TB: two shuffles per iteration (the dst and src
    aggregates) plus two 1-row normalization aggregates crossJoined
    back — no driver action per iteration. The edge set is persisted
    once; at cluster scale write it bucketed by src (and a dst-keyed
    copy) so both joins are co-located. Plans are localCheckpoint-
    truncated every iteration (the pagerank lesson, doubled: HITS
    references each intermediate twice per iteration, so lineage
    compounds ~4×/iter and driver planning dominates without
    per-iteration truncation).

    Nodes with no in-edges have authority 0; no out-edges ⇒ hub 0
    (pure sinks/sources stay in the output — a crawl wants the zero
    explicitly, not a missing row).

    No reference analog (the reference crawler ranks hosts by arrival
    priority only, Worker.py heap semantics); this extends the rebuilt
    graph tier (pagerank/opic/anchor_text_topk).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )

    # one combined (node, hub, authority) state frame, eagerly
    # checkpointed EVERY iteration: within an iteration a_raw feeds
    # both its normalizer and the authority join, and auth feeds both
    # h_raw and the output — left as lineage those double references
    # compound ~4× per iteration and driver planning dominates wall
    # time (measured 41.8 s → 5-ish s at sf0.1 for a 20-node graph);
    # per-iteration truncation caps the plan at one iteration deep
    state = sparkutil.checkpoint(
        nodes.select("node", F.lit(1.0).alias("hub"), F.lit(0.0).alias("authority"))
    )
    for _ in range(n_iter):
        a_raw = (
            e.join(state.select("node", "hub"), e["src"] == F.col("node"))
            .select(F.col("dst").alias("node"), F.col("hub").alias("h"))
            .groupBy("node")
            .agg(F.sum("h").alias("a_raw"))
        )
        sa = a_raw.agg(F.sum("a_raw").alias("s"))
        auth = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(sa)
            .select(
                "node",
                (F.coalesce(F.col("a_raw"), F.lit(0.0)) / F.col("s")).alias(
                    "authority"
                ),
            )
        )
        h_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .select(F.col("src").alias("node"), F.col("authority").alias("a"))
            .groupBy("node")
            .agg(F.sum("a").alias("h_raw"))
        )
        sh = h_raw.agg(F.sum("h_raw").alias("s"))
        hubs = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(sh)
            .select(
                "node",
                (F.coalesce(F.col("h_raw"), F.lit(0.0)) / F.col("s")).alias("hub"),
            )
        )
        new_state = sparkutil.checkpoint(hubs.join(auth, "node"))
        sparkutil.free(state)
        state = new_state
    out = state.select("node", "hub", "authority")
    e.unpersist()
    nodes.unpersist()
    return out
