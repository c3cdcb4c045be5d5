"""Stage 5 — transitive closure via iterative large-star / small-star.

The reference clusters with a driver-memory BFS over the match graph
(/root/reference/src/classifying.py:2184-2284, edges filtered at
min_edge_confidence 0.65). That caps at what one Python process holds. Here we
run the alternating large-star/small-star connected-components algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SOCC'14)
directly on the edges DataFrame — O(log n) rounds, each round two
shuffle-aggregations, lineage truncated by ``localCheckpoint`` per round so
the plan doesn't grow with iterations.

Node ids are hashed to longs for cheap min() comparisons — directly in the
edge projection (r6: the previous id->nid map join cost two shuffles of the
edge set before the loop even started; ``xxhash64`` is deterministic, so the
surrogate is a projection, not a join). The string ids are restored by a
final join against the caller's id universe.

Convergence (r6): a round's output is checked directly for the star-forest
fixpoint property — every node has exactly one parent AND no parent is
itself a child — instead of comparing content signatures across rounds.
The signature form needed one full EXTRA round (stars + checkpoint) after
convergence just to observe stability; the forest test reads the same
checkpointed blocks with two small aggregates and stops the loop at the
round that reached the forest. Star forest <=> fixpoint of the alternation
(forest => both stars are identities; the previous code already relied on
the converse — "after convergence, small-star output is a star forest").
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolver_spark.config import MIN_EDGE_CONFIDENCE


def _with_nbr_min(nbrs: DataFrame) -> DataFrame:
    """Attach m = min(v) over u's neighborhood (clamped by u itself) to every
    (u, v) row — the kernel both stars share.

    Two-level min, celebrity-safe: the per-u minimum comes from a
    ``groupBy(u).agg(min(v))`` whose map-side partial aggregation reduces the
    shuffle to ONE row per (mapper, u) — a node of any degree never funnels
    its neighborhood through one reduce task to compute the min. The tiny min
    table then joins back onto the neighbor rows. A ``Window.partitionBy(u)``
    (the previous form) instead BUFFERS the entire hottest neighborhood in a
    single task's WindowExec — star graphs start exactly that way (a
    celebrity node holds its whole component as direct neighbors), so the
    buffered form is the non-scalable shape even though degrees shrink as
    rounds progress. The join still places all of u's rows in one partition,
    but it streams them (sort-merge over a 1-row-per-key build side) rather
    than materializing them.
    """
    mins = nbrs.groupBy("u").agg(F.min("v").alias("_mn"))
    return nbrs.join(mins, "u").select(
        "u", "v", F.least(F.col("_mn"), F.col("u")).alias("m")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min neighborhood
    label (including u itself).

    No trailing ``distinct()`` (r6): the output feeds ``_small_star``, whose
    per-u ``min`` ignores multiplicity and whose own trailing ``distinct``
    canonicalizes the round's result — so the round's OUTPUT is identical
    with or without an intra-round dedup, and dropping it removes one
    exchange per round. Duplicate rows here are bounded by the edge count
    (each undirected edge emits at most one (v, m) row per direction rule);
    only exact-duplicate (v, m) pairs across different u's would have been
    collapsed, and those ride the same shuffle either way."""
    nbrs = edges.select("u", "v").union(edges.select(F.col("v"), F.col("u")))
    return (
        _with_nbr_min(nbrs)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u to the min label."""
    # orient edges so u >= v
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    withm = _with_nbr_min(oriented)
    out = withm.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        withm.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _is_star_forest(e: DataFrame) -> bool:
    """True iff (u, v) rows form a star forest: every u has exactly ONE
    parent row and no parent v is itself a child u. Exactly the fixpoint of
    the large-star/small-star alternation (see module docstring); both
    violations are possible independently mid-loop, so both are tested —
    one count() job over the round's already-checkpointed output."""
    dup_parents = (
        e.groupBy("u")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > 1)
        .select(F.lit(1).alias("_one"))
    )
    internal = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.v") == F.col("b.u"), "left_semi")
        .select(F.lit(1).alias("_one"))
    )
    return dup_parents.unionByName(internal).count() == 0


def _hashed_edges(edges: DataFrame) -> DataFrame:
    """(src, dst) string edges -> distinct (u, v) 64-bit surrogate pairs;
    self-loops drop here. A surrogate collision would merge two clusters
    (see ``_label_components`` for the expected count)."""
    return (
        edges.select(F.xxhash64("src").alias("u"), F.xxhash64("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _converged_star_roots(
    e: DataFrame, max_iter: int, reliable_every: int
) -> DataFrame:
    """Run the star alternation on materialized (u, v) edges until the star
    forest fixpoint; returns (u, v) = (node, root) rows, localCheckpointed in
    the CALLER's session. Raises ``RuntimeError`` when ``max_iter`` rounds end
    short of the fixpoint: an unconverged forest is not a clustering. ``e``
    must be materialized (localCheckpointed) — the loop must never
    re-evaluate an arbitrary upstream plan.

    The loop runs in a CHILD session (same SparkContext, private SQL conf):
    shuffle sizing and the AQE toggle below must not leak into — or race
    with — concurrent queries on the caller's session. The materialized
    edges cross sessions via a GLOBAL temp view — a logical-plan handle
    over the already-checkpointed blocks, no data movement and no Python
    row round-trip.
    """
    sess = e.sparkSession
    if reliable_every and sess.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "reliable_every requires sparkContext.setCheckpointDir(...)"
        )
    spark = sess.newSession()
    n_edges = e.count()
    view = f"er_cc_edges_{uuid.uuid4().hex}"
    e.createOrReplaceGlobalTempView(view)
    e = spark.table(f"global_temp.{view}")
    # Size the loop's shuffles to the edge volume: each round is several tiny
    # shuffles, and running them at the session default (sized for the full
    # corpus) pays per-task overhead x partitions x rounds for nothing. The
    # match graph is orders of magnitude smaller than the pair set.
    default_parts = int(sess.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(4, min(default_parts, n_edges // 100_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    # AQE's per-stage runtime re-planning (extra jobs, statistics collection,
    # plan re-optimization on the single-threaded driver) is pure overhead
    # for a loop whose shuffles are already sized explicitly — measured ~40%
    # of the per-round wall at small edge counts. Child-session-scoped.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    if loop_parts < default_parts:
        e = e.coalesce(loop_parts).localCheckpoint()
    out_view = f"er_cc_out_{uuid.uuid4().hex}"
    try:
        for rnd in range(max_iter):
            # one lineage cut per round: large-star feeds small-star
            # unmaterialized; reliable checkpoint every K rounds if configured
            e = _small_star(_large_star(e))
            if reliable_every and (rnd + 1) % reliable_every == 0:
                e = e.checkpoint()
            else:
                e = e.localCheckpoint()
            if _is_star_forest(e):
                break
        else:
            raise RuntimeError(
                f"connected components did not converge in {max_iter} rounds"
            )
        # hand the converged star forest back to the caller's session,
        # materialized there BEFORE the finally block drops the temp views —
        # the returned plan must not reference a dropped view, and dropping
        # them unpins the loop's edge blocks from executor storage
        # (long-lived sessions running repeated incremental closures would
        # otherwise accumulate one pinned edge set + view per call).
        e.createOrReplaceGlobalTempView(out_view)
        roots = sess.table(f"global_temp.{out_view}").localCheckpoint()
    finally:
        sess.catalog.dropGlobalTempView(view)
        sess.catalog.dropGlobalTempView(out_view)
    return roots


def _label_components(ids: DataFrame, roots: DataFrame) -> DataFrame:
    """Label an (id) universe with its component = lexicographically minimal
    member id. ``roots`` is the converged star forest over xxhash64(id)
    surrogates; ids absent from it are their own root (singletons).

    Every id, singletons included, is hashed to a 64-bit ``xxhash64``. Two
    ids that share a surrogate land in one component, so a collision merges
    their clusters without an error. At n ids about n^2 / 2^65 colliding
    pairs are expected: ~0.03 at 10^9 ids, but ~68 at 5 * 10^10 ids, which
    is within the 100-TB target's record count."""
    labeled = (
        ids.select("id", F.xxhash64("id").alias("_nid"))
        .join(
            roots.select(
                F.col("u").alias("_nid"), F.col("v").alias("_root")
            ),
            "_nid",
            "left",
        )
        .select("id", F.coalesce("_root", "_nid").alias("_root"))
    )
    names = labeled.groupBy("_root").agg(F.min("id").alias("component"))
    return labeled.join(names, "_root").select("id", "component")


def connected_components(
    ids: DataFrame,
    edges: DataFrame,
    max_iter: int = 50,
    reliable_every: int = 0,
) -> DataFrame:
    """Label the caller's distinct ``ids(id: string)`` with their connected
    component over ``edges(src: string, dst: string)`` -> (id, component).

    component = lexicographically-minimal member id of the node's component
    (deterministic cluster labels); an id no edge touches labels itself.
    Edge endpoints outside ``ids`` get no output row. ``edges`` is scanned
    once (the surrogate projection), so the caller's plan needs no lineage
    cut; the loop runs over the checkpointed surrogates.

    ``reliable_every``: every K rounds, cut lineage with a RELIABLE
    ``checkpoint()`` (requires ``sparkContext.setCheckpointDir``) instead of
    ``localCheckpoint()``. localCheckpoint stores blocks on executors only —
    on a real cluster an executor loss mid-loop kills the job; reliable
    checkpoints land on the checkpoint filesystem and survive. 0 (default)
    keeps the pure local-mode fast path; at cluster scale pass e.g. 5.
    """
    e = _hashed_edges(edges).localCheckpoint()
    roots = _converged_star_roots(e, max_iter, reliable_every)
    return _label_components(ids, roots)


def cluster_records(
    records: DataFrame,
    scored: DataFrame,
    min_edge_confidence: float = MIN_EDGE_CONFIDENCE,
    reliable_every: int = 0,
) -> DataFrame:
    """Strict clustering (reference _generate_clusters_strict,
    src/classifying.py:2184-2284): filter edges by confidence, then label
    every record with its component — records with no surviving edge form
    their own cluster.

    ``reliable_every`` is forwarded to the CC loop — the pipeline threads
    ``EngineConfig.cc_reliable_every`` through here so cluster deployments
    get fault-tolerant lineage cuts (see that config knob and
    scripts/submit_job.py --checkpoint-dir)."""
    edges = scored.where(
        F.col("is_match") & (F.col("proba") >= F.lit(min_edge_confidence))
    ).select(F.col("left").alias("src"), F.col("right").alias("dst"))
    return connected_components(
        records.select(F.col("conv_id").alias("id")),
        edges,
        reliable_every=reliable_every,
    ).select(F.col("id").alias("conv_id"), F.col("component").alias("cluster_id"))
