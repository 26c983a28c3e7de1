"""Distributed IBM Model 1 alignment training (EM) + Viterbi alignment.

The stage BEFORE everything alignment-shaped in this engine: marmot consumes
word alignments produced by an aligner (fast_align/GIZA-class [R —
SURVEY.md §0 util/alignments.py]); `train_ibm1` learns the classic IBM-1
lexical translation table t(f|e) by expectation-maximization over parallel
token-id sentences, `viterbi_align` turns it into per-sentence links, and
`alignment.symmetrize_alignments` (grow-diag-final) combines the two
directional passes — the complete fast_align-style pipeline in one DAG.

Spark shape (the same iterative-aggregation family as BPE/k-means):

  E step  per sentence, all (e, f) co-occurring pairs are generated by two
          chained explodes (a NARROW columnar fan-out of ~len_src x len_tgt
          rows per sentence — that quadratic blow-up IS IBM-1, paid as scan
          width, never as driver state), joined to the current t-table
          (shuffle hash join on (e, f); the table is co-occurrence-bounded,
          vocabulary-shaped), normalized per target-token instance with ONE
          groupBy (sent, f_pos) + join back (the posterior denominator).
  M step  expected counts groupBy (e, f), then per-e normalization via a
          vocab-sized groupBy (e) joined back — t_{k+1}.

  The pair stream and each iteration's t-table are ``materialize``-d
  (lineage truncated — see marmot_spark/materialize.py) and the superseded
  round is released; float probabilities mean parity with a reference is
  allclose-class, not hash-exact — exactly the contract the north rule
  names for feature values.

Initialization: uniform over each e's co-occurring f set (standard
practical IBM-1 with co-occurrence-restricted support). NULL alignment is
modeled with source id NULL_ID prepended to every source sentence
(include_null=True), letting target words align to nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marmot_spark.materialize import materialize, release

NULL_ID = -1


def _prior_weight(include_null: bool, diagonal_lambda: float, p_null: float | None):
    """fast_align-style alignment prior as a Column expression over
    (s_pos, f_pos, src len __le, tgt len __lf).

    diagonal_lambda == 0 and p_null is None -> constant 1.0 (exactly IBM-1:
    the prior cancels out of the per-(sent, f_pos) posterior normalization).
    Otherwise the Dyer et al. 2013 reparameterized-IBM-2 shape: the NULL word
    takes fixed mass p0 (default 0.08, fast_align's default) and real source
    position i gets (1-p0) * exp(-lambda * |i/n - j/m|) — the diagonal-
    favoring prior, with i, j 1-based over the real (un-prepended) lengths.
    lambda stays FIXED on this path (the standard cheap variant, count-only
    M step); ``train_fast_align`` is the full algorithm with the tension
    re-estimated each round.
    """
    if diagonal_lambda == 0.0 and p_null is None:
        return F.lit(1.0)
    p0 = 0.08 if p_null is None else p_null
    # with the NULL prepend, real source tokens sit at s_pos 1..le (already
    # 1-based); without it they sit at 0..le-1
    i = F.col("s_pos") if include_null else (F.col("s_pos") + 1)
    diag = F.exp(
        -F.lit(float(diagonal_lambda))
        * F.abs(
            i.cast("double") / F.col("__le").cast("double")
            - (F.col("f_pos") + 1).cast("double") / F.col("__lf").cast("double")
        )
    )
    if include_null:
        return F.when(F.col("s_pos") == 0, F.lit(float(p0))).otherwise(
            F.lit(1.0 - p0) * diag
        )
    return diag


def _sentence_pairs(
    df: DataFrame,
    src_col: str,
    tgt_col: str,
    include_null: bool,
    diagonal_lambda: float = 0.0,
    p_null: float | None = None,
) -> DataFrame:
    """(sent, e, f, f_pos, w): every source-token x target-position pair with
    its alignment-prior weight (1.0 in the IBM-1 case)."""
    src = F.col(src_col)
    if include_null:
        src = F.concat(F.array(F.lit(NULL_ID).cast("int")), src)
    return (
        df.select(
            F.col("__sent"),
            src.alias("__src"),
            F.col(tgt_col).alias("__tgt"),
            F.size(src_col).alias("__le"),
            F.size(tgt_col).alias("__lf"),
        )
        .select("__sent", "__src", "__le", "__lf", F.posexplode("__tgt").alias("f_pos", "f"))
        .select(
            "__sent", "f_pos", "f", "__le", "__lf",
            F.posexplode("__src").alias("s_pos", "e"),
        )
        .select(
            "__sent", "f_pos", "f", "e",
            _prior_weight(include_null, diagonal_lambda, p_null).alias("w"),
        )
    )


def _stable_keyed(
    df: DataFrame, src_col: str, tgt_col: str, id_col: str | None
) -> DataFrame:
    """(__sent, src, tgt) with a cluster-stable sentence key — see
    ``train_ibm1``'s id_col contract for why monotonically_increasing_id
    is rejected here."""
    if id_col is not None:
        return df.select(
            F.col(id_col).cast("string").alias("__sent"), F.col(src_col), F.col(tgt_col)
        )
    from pyspark.sql import Window

    h = F.xxhash64(F.col(src_col), F.col(tgt_col))
    w = Window.partitionBy(h).orderBy(F.lit(1))
    return df.select(F.col(src_col), F.col(tgt_col)).select(
        F.concat_ws(
            "#", h.cast("string"), F.row_number().over(w).cast("string")
        ).alias("__sent"),
        F.col(src_col), F.col(tgt_col),
    )


def train_ibm1(
    df: DataFrame,
    src_col: str = "src_tokens",
    tgt_col: str = "tgt_tokens",
    n_iter: int = 5,
    include_null: bool = True,
    id_col: str | None = None,
    diagonal_lambda: float = 0.0,
    p_null: float | None = None,
) -> DataFrame:
    """Learn the IBM-1 translation table over parallel int-token sentences.

    Returns (e, f, t) with sum_f t(f|e) = 1 per e. ``df`` needs the two
    array<int> columns; sentences with an empty side contribute nothing.

    ``diagonal_lambda`` / ``p_null``: fast_align's reparameterized-IBM-2
    alignment prior (Dyer et al. 2013) — see ``_prior_weight``. The E-step
    posterior becomes delta propto w(i,j,n,m) * t(f|e); the M step is
    unchanged (counts re-normalized per e). Defaults (0, None) are exactly
    IBM-1: the constant prior cancels in the posterior normalization. The
    prior adds ZERO new shuffles — w is a narrow column computed inside the
    existing pair fan-out.

    ``id_col``: optional STABLE per-row id (an existing doc_id). When absent,
    a stable id is derived as (xxhash64(src, tgt), row_number among identical
    rows): recomputing a lost/evicted block can only permute ids among
    bit-identical sentences, which leaves every per-(sent, f_pos) EM
    denominator unchanged. (monotonically_increasing_id was rejected here:
    its values depend on partition layout, so a recomputed block could re-key
    DISTINCT sentences mid-EM and corrupt the posteriors on a real cluster.)
    """
    keyed = _stable_keyed(df, src_col, tgt_col, id_col)
    base = keyed.filter((F.size(src_col) > 0) & (F.size(tgt_col) > 0))
    pairs = materialize(_sentence_pairs(
        base, src_col, tgt_col, include_null, diagonal_lambda, p_null
    ))

    # t_0: uniform over each e's co-occurring f support
    support = pairs.select("e", "f").distinct()
    fanout = support.groupBy("e").agg(F.count(F.lit(1)).alias("__n"))
    t = materialize(support.join(fanout, "e").select(
        "e", "f", (F.lit(1.0) / F.col("__n")).alias("t")
    ))

    try:
        for _ in range(n_iter):
            scored = pairs.join(t, ["e", "f"]).withColumn("__s", F.col("w") * F.col("t"))
            denom = scored.groupBy("__sent", "f_pos").agg(F.sum("__s").alias("__z"))
            posterior = scored.join(denom, ["__sent", "f_pos"]).select(
                "e", "f", (F.col("__s") / F.col("__z")).alias("__c")
            )
            counts = posterior.groupBy("e", "f").agg(F.sum("__c").alias("__cnt"))
            totals = counts.groupBy("e").agg(F.sum("__cnt").alias("__tot"))
            t_new = materialize(counts.join(totals, "e").select(
                "e", "f", (F.col("__cnt") / F.col("__tot")).alias("t")
            ))
            release(t)
            t = t_new
        return t
    except BaseException:
        release(t)
        raise
    finally:
        release(pairs)


def _pairs_with_h(
    df: DataFrame, src_col: str, tgt_col: str, include_null: bool
) -> DataFrame:
    """Like ``_sentence_pairs`` but carrying the LAMBDA-INDEPENDENT parts of
    the diagonal prior instead of a baked weight: ``h`` = |i/n - j/m| (0 on
    the NULL row), ``__isnull``, and the (n, m, j) shape columns the tension
    M step groups on. Materializing THIS stream lets the prior weight be
    re-derived each EM round as a narrow column from the current lambda —
    the pair fan-out is paid once even though lambda moves."""
    src = F.col(src_col)
    if include_null:
        src = F.concat(F.array(F.lit(NULL_ID).cast("int")), src)
    i = F.col("s_pos") if include_null else (F.col("s_pos") + 1)
    isnull = (F.col("s_pos") == 0) if include_null else F.lit(False)
    h = F.abs(
        i.cast("double") / F.col("__le").cast("double")
        - (F.col("f_pos") + 1).cast("double") / F.col("__lf").cast("double")
    )
    return (
        df.select(
            F.col("__sent"),
            src.alias("__src"),
            F.col(tgt_col).alias("__tgt"),
            F.size(src_col).alias("__le"),
            F.size(tgt_col).alias("__lf"),
        )
        .select("__sent", "__src", "__le", "__lf", F.posexplode("__tgt").alias("f_pos", "f"))
        .select(
            "__sent", "f_pos", "f", "__le", "__lf",
            F.posexplode("__src").alias("s_pos", "e"),
        )
        .select(
            "__sent", "f_pos", "f", "e", "__le", "__lf",
            F.when(isnull, F.lit(0.0)).otherwise(h).alias("h"),
            isnull.alias("__isnull"),
        )
    )


def _solve_lambda(rows, target: float, lo: float = 1e-3, hi: float = 64.0) -> float:
    """Tension M step, driver-side: find lambda with
    E_model(lambda)[h] == target (= the posterior-weighted mean distance).

    ``rows`` are the per-(n, m, j) sufficient statistics (wgt = sum of real-
    link posteriors landing on that shape). E_model(lambda) =
    sum_shapes wgt * softmax_i(-lambda*h_i)[h_i] with h_i = |i/n - j/m|,
    i = 1..n — strictly decreasing in lambda (its derivative is minus the
    posterior variance of h), so bisection finds the unique root. This is
    exactly the stationary condition of fast_align's tension gradient
    (Dyer et al. 2013 eq. for d/dlambda of the expected log prior); solving
    the root beats the paper's 8 fixed gradient steps and is deterministic.
    """
    import numpy as np

    groups: dict[tuple[int, int], list] = {}
    wsum = 0.0
    for r in rows:
        groups.setdefault((r["__le"], r["__lf"]), []).append((r["f_pos"], r["wgt"]))
        wsum += r["wgt"]
    if wsum <= 0.0:
        return lo

    def model_exp(lam: float) -> float:
        tot = 0.0
        for (n, m), js in groups.items():
            i = np.arange(1, n + 1, dtype=np.float64) / n
            jpos = np.array([(fp + 1) / m for fp, _ in js], dtype=np.float64)
            wgt = np.array([w for _, w in js], dtype=np.float64)
            hmat = np.abs(i[None, :] - jpos[:, None])
            e = np.exp(-lam * hmat)
            tot += float((wgt * (e * hmat).sum(axis=1) / e.sum(axis=1)).sum())
        return tot

    if model_exp(lo) <= target:  # even the flattest prior can't reach it
        return lo
    if model_exp(hi) >= target:  # posteriors already sharper than lambda=hi
        return hi
    for _ in range(60):
        mid = (lo + hi) / 2.0
        if model_exp(mid) > target:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


def train_fast_align(
    df: DataFrame,
    src_col: str = "src_tokens",
    tgt_col: str = "tgt_tokens",
    n_iter: int = 5,
    include_null: bool = True,
    id_col: str | None = None,
    lambda_init: float = 4.0,
    p_null: float = 0.08,
    max_shape_rows: int = 100_000,
) -> tuple[DataFrame, float]:
    """fast_align proper (Dyer et al. 2013): the diagonal-prior EM of
    ``train_ibm1(diagonal_lambda=...)`` with the tension lambda RE-ESTIMATED
    every round instead of fixed — returns ``(t_table, learned_lambda)``;
    feed both to ``viterbi_align(..., diagonal_lambda=learned_lambda)``.

    Per round, after the count M step, lambda is set to the exact root of
    the tension gradient (see ``_solve_lambda``): posterior-weighted mean
    |i/n - j/m| == the prior's expectation of the same quantity. The
    sufficient statistics are ONE extra groupBy over the already-materialized
    posterior stream, keyed by the sentence SHAPE (n, m, j) — shape-bounded,
    not corpus-bounded — then a guarded driver collect (raises above
    ``max_shape_rows`` distinct shapes; web-scale MT corpora have <= a few
    thousand distinct (n, m) under standard length caps). The pair fan-out
    is materialized WITHOUT the prior baked in (``_pairs_with_h``), so the
    moving lambda re-enters each round as a narrow codegen column — zero
    extra shuffles versus the fixed-lambda trainer.
    """
    keyed = _stable_keyed(df, src_col, tgt_col, id_col)
    base = keyed.filter((F.size(src_col) > 0) & (F.size(tgt_col) > 0))
    pairs = materialize(_pairs_with_h(base, src_col, tgt_col, include_null))

    support = pairs.select("e", "f").distinct()
    fanout = support.groupBy("e").agg(F.count(F.lit(1)).alias("__n"))
    t = materialize(support.join(fanout, "e").select(
        "e", "f", (F.lit(1.0) / F.col("__n")).alias("t")
    ))

    lam = float(lambda_init)
    try:
        for _ in range(n_iter):
            if include_null:
                w = F.when(F.col("__isnull"), F.lit(float(p_null))).otherwise(
                    F.lit(1.0 - p_null) * F.exp(-F.lit(lam) * F.col("h"))
                )
            else:
                w = F.exp(-F.lit(lam) * F.col("h"))
            scored = pairs.join(t, ["e", "f"]).withColumn("__s", w * F.col("t"))
            denom = scored.groupBy("__sent", "f_pos").agg(F.sum("__s").alias("__z"))
            posterior = materialize(scored.join(denom, ["__sent", "f_pos"]).select(
                "e", "f", "__le", "__lf", "f_pos", "h", "__isnull",
                (F.col("__s") / F.col("__z")).alias("__c"),
            ))
            try:
                stats = (
                    posterior.filter(~F.col("__isnull"))
                    .groupBy("__le", "__lf", "f_pos")
                    .agg(F.sum("__c").alias("wgt"), F.sum(F.col("__c") * F.col("h")).alias("gh"))
                )
                rows = [r.asDict() for r in stats.limit(max_shape_rows + 1).collect()]
                if len(rows) > max_shape_rows:
                    raise ValueError(
                        f"> {max_shape_rows} distinct (n, m, j) sentence shapes; cap "
                        "sentence lengths upstream or raise max_shape_rows (the "
                        "tension M step collects shape-bounded statistics)"
                    )
                counts = posterior.groupBy("e", "f").agg(F.sum("__c").alias("__cnt"))
                totals = counts.groupBy("e").agg(F.sum("__cnt").alias("__tot"))
                t_new = materialize(counts.join(totals, "e").select(
                    "e", "f", (F.col("__cnt") / F.col("__tot")).alias("t")
                ))
            finally:
                release(posterior)
            lam = _solve_lambda(rows, target=sum(r["gh"] for r in rows))
            release(t)
            t = t_new
        return t, lam
    except BaseException:
        release(t)
        raise
    finally:
        release(pairs)


def viterbi_align(
    df: DataFrame,
    ttable: DataFrame,
    src_col: str = "src_tokens",
    tgt_col: str = "tgt_tokens",
    id_col: str = "doc_id",
    out_col: str = "links",
    include_null: bool = True,
    diagonal_lambda: float = 0.0,
    p_null: float | None = None,
) -> DataFrame:
    """Per-sentence IBM-1/2 Viterbi alignment: each target position t picks
    argmax_e w(i,j,n,m) * t(f_t | e) over its own source tokens (+NULL),
    where w is the same fast_align diagonal prior as training (constant 1.0
    at the IBM-1 defaults — see ``_prior_weight``). Returns the input plus
    ``out_col`` = array<struct<s:int,t:int>> (NULL-aligned positions are
    omitted — they have no source link). Ties break toward the SMALLEST
    source position (deterministic: max_by over a (score, -s_pos) struct).

    Shape: the same two-explode pair stream joined to the broadcast-or-
    shuffled t-table, one groupBy (sent, f_pos) argmax, one groupBy (sent)
    re-assembly — no per-row python anywhere.
    """
    src = F.col(src_col)
    if include_null:
        src = F.concat(F.array(F.lit(NULL_ID).cast("int")), src)
    base = df.select(
        F.col(id_col).alias("__id"), src.alias("__src"), F.col(tgt_col).alias("__tgt"),
        F.size(src_col).alias("__le"), F.size(tgt_col).alias("__lf"),
    )
    pairs = (
        base.select("__id", "__le", "__lf", F.posexplode("__tgt").alias("f_pos", "f"), F.col("__src"))
        .select("__id", "f_pos", "f", "__le", "__lf", F.posexplode("__src").alias("s_pos", "e"))
    )
    null_off = 1 if include_null else 0
    w = _prior_weight(include_null, diagonal_lambda, p_null)
    scored = pairs.join(ttable, ["e", "f"], "left").select(
        "__id", "f_pos", "e",
        (F.col("s_pos") - F.lit(null_off)).alias("s_idx"),
        (w * F.coalesce(F.col("t"), F.lit(0.0))).alias("t"),
    )
    best = scored.groupBy("__id", "f_pos").agg(
        F.max_by(
            F.struct(F.col("e"), F.col("s_idx")),
            F.struct(F.col("t"), (-F.col("s_idx")).alias("__tie")),
        ).alias("__b")
    )
    links = (
        best.filter(F.col("__b.e") != NULL_ID)
        .groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__b.s_idx").cast("int").alias("s"),
                        F.col("f_pos").cast("int").alias("t"),
                    )
                )
            ).alias(out_col)
        )
    )
    return df.join(
        links.withColumnRenamed("__id", id_col), id_col, "left"
    ).withColumn(out_col, F.coalesce(F.col(out_col), F.array().cast("array<struct<s:int,t:int>>")))
