"""Connected components over an edge list — duplicate-CLUSTER labeling.

Pair-emitting dedup operators (minhash_lsh_pairs, simhash_hamming_pairs,
embedding_cosine_pairs) stop at candidate PAIRS; a real dedup pass must
collapse pairs into clusters and elect one survivor per cluster (keeping one
doc per transitive near-dup group — the reference has no graph notion at all;
its corpus-level dedup is Python set arithmetic, marmot/evaluation/
evaluation_utils.py [R — SURVEY.md §0]).

Algorithm: iterative MIN-LABEL PROPAGATION. Every node starts labeled with
itself; each round a node's label becomes the min over its own and all
neighbors' labels; convergence = a fixpoint (no label changed). Each round is
one equi-join (edges x labels, both keyed by node id) plus one groupBy(id) —
two hash exchanges on the node id, both AQE-coalescible, nothing driver-side
except the 1-row convergence probe.

Scale posture (100 TB): rounds = graph DIAMETER. Near-duplicate clusters are
dense (a web boilerplate cluster is near-clique), so diameters are small
single digits and this shape is the practical default — the same join pattern
at any corpus size, edge lists shuffle only (a, b, label) triples. For
adversarial LONG-CHAIN graphs (quote-chains do occur in web dedup) pass
``mode="star"``: the alternating large-star/small-star algorithm (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC 2014),
O(log^2 n) rounds regardless of diameter, same output contract. Both modes
materialize every round (marmot_spark/materialize.py) so the plan does not
deepen with iteration count — same treatment as operators/bpe.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marmot_spark.materialize import materialize, release


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 30,
    mode: str = "min_label",
) -> DataFrame:
    """Label every node of the undirected graph with its component's MIN node
    id. Returns (id, comp). Deterministic for any edge order (min is
    commutative); self-loops are dropped; isolated nodes do not appear in an
    edge list, so callers wanting singleton clusters union them in afterward.

    ``mode``: "min_label" (default — rounds = diameter, the right choice for
    near-clique dup clusters) or "star" (alternating large-star/small-star,
    O(log^2 n) rounds — the escape hatch for chain-shaped graphs whose
    diameter exceeds any sane ``max_iter``).

    Raises RuntimeError if ``max_iter`` rounds pass without convergence —
    a silent early stop would mislabel components.
    """
    if mode == "star":
        return _connected_components_star(edges, src, dst, max_iter)
    if mode != "min_label":
        raise ValueError(f"unknown mode {mode!r}: expected 'min_label' or 'star'")
    und = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    labels = materialize(und.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("comp")
    ))
    try:
        for _ in range(max_iter):
            prop = und.join(labels.withColumnRenamed("id", "a"), "a").select(
                F.col("b").alias("id"), "comp"
            )
            new = materialize(
                labels.unionByName(prop)
                .groupBy("id")
                .agg(F.min("comp").alias("comp"))
            )
            # convergence probe: min-label only ever DECREASES, so one changed
            # row existing is the exact "not yet fixpoint" predicate; limit(1)
            # stops the scan at the first hit
            changed = (
                new.join(labels.withColumnRenamed("comp", "__old"), "id")
                .filter(F.col("comp") < F.col("__old"))
                .limit(1)
                .count()
            )
            release(labels)
            labels = new
            if changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "graph diameter exceeds max_iter (use mode='star' for chain graphs)"
        )
    except BaseException:
        release(labels)
        raise
    finally:
        release(und)


def _large_star(e: DataFrame) -> DataFrame:
    """One LARGE-STAR round (Kiveris et al. SoCC'14): for every node u with
    m = min(N(u) + {u}), re-point each strictly-LARGER neighbor v > u at m.
    Strictly-larger is what guarantees monotone progress (edges only ever
    move toward smaller ids) and keeps the edge count non-increasing."""
    nbrs = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = nbrs.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        nbrs.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One SMALL-STAR round: orient every edge toward its larger endpoint
    (key u = max, neighbors all <= u), take m = min neighbor, and re-point u
    AND each of its smaller neighbors at m."""
    o = (
        e.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    mins = o.groupBy("a").agg(F.min("b").alias("m"))
    pointed = o.join(mins, "a").select(F.col("b").alias("a"), F.col("m").alias("b"))
    selfed = mins.select("a", F.col("m").alias("b"))
    return (
        pointed.unionByName(selfed)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _connected_components_star(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int,
) -> DataFrame:
    """Alternating large-star/small-star connected components — O(log^2 n)
    rounds independent of diameter (the chain-graph escape hatch). Same
    output contract as min-label: (id, comp) with comp = component min id.

    Each round is large-star + small-star (2 groupBy + 2 join exchanges on
    node ids, all hash-partitioned — no SinglePartition anywhere).
    Convergence = the small-star output is a fixpoint (set-equal to the
    previous round's edges): at that point the graph is a disjoint union of
    stars rooted at each component's minimum. The fixpoint probe costs one
    extra action per round: set equality = |new| == |cur| AND new \\ cur
    empty (one anti-join ``limit(1)`` — equal-size sets with no new element
    are identical). Each star pass reads its input several times
    (symmetrize union + groupBy-join back), so an unmaterialized round plan
    grows ~5x per round (Catalyst analysis measured 11s -> 21s -> >500s by
    round 3 on a 40-node chain).

    The returned frame reads the materialized node inventory and final edge
    set, so neither is released.
    """
    cur = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # node inventory up front: star rounds contract edges, and a component
    # reduced to its root alone must still be labeled
    nodes = materialize(
        cur.select(F.col("a").alias("id"))
        .unionByName(cur.select(F.col("b").alias("id")))
        .distinct()
    )
    try:
        prev_n = cur.count()
        for _ in range(max_iter):
            new = materialize(_small_star(_large_star(cur)))
            n = new.count()
            grew = n != prev_n or new.join(cur, ["a", "b"], "left_anti").limit(1).count()
            release(cur)
            cur, prev_n = new, n
            if not grew:
                stars = cur.select(F.col("a").alias("id"), F.col("b").alias("comp"))
                return (
                    nodes.join(stars, "id", "left")
                    .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
                )
        raise RuntimeError(
            f"connected_components(mode='star') did not converge in {max_iter} "
            "rounds — expected O(log^2 n); check for pathological input"
        )
    except BaseException:
        release(cur)
        release(nodes)
        raise


def keep_best(
    comps: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    comp_col: str = "comp",
    score_col: str = "score",
) -> DataFrame:
    """Survivor election — finish the dedup pass ``connected_components``
    starts: per duplicate cluster keep exactly one member, the one with the
    highest ``score_col`` (quality score, doc length, recency…), smallest id
    on ties. "Keep the best copy, drop the rest" is the policy the public
    curation pipelines apply after near-dup clustering (keep-longest in Lee
    et al. 2022; keep-highest-quality in Penedo et al. 2023 RefinedWeb).

    ``comps`` is (id_col, comp_col) — the ``connected_components`` output;
    ``scores`` is (id_col, score_col) — any per-doc signal. Returns
    (id_col, comp_col, keep_id, is_kept): every input row, its cluster's
    elected survivor, and the boolean drop decision.

    Plan: one equi-join to attach scores (both sides keyed by id), one
    groupBy(comp) max over a (score, -id) struct — the argmax and the
    min-id tie-break in a single exchange keyed by cluster — and one
    cluster-keyed join back (cluster table is clusters-sized, broadcast by
    AQE when small). No window over an unpartitioned frame, no collect.
    """
    scored = comps.join(
        scores.select(F.col(id_col), F.col(score_col).alias("__s")), id_col
    )
    best = scored.groupBy(comp_col).agg(
        F.max(F.struct(F.col("__s"), (-F.col(id_col)).alias("__negid"))).alias("__b")
    ).select(comp_col, (-F.col("__b.__negid")).alias("keep_id"))
    return (
        scored.join(best, comp_col)
        .select(
            id_col,
            comp_col,
            F.col("keep_id").cast("long").alias("keep_id"),
            (F.col(id_col) == F.col("keep_id")).alias("is_kept"),
        )
    )
