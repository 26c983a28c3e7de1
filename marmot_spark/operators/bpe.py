"""Distributed BPE merge training over int token-id sequences
(SURVEY.md §2 extension — token-pipeline ops).

The reference consumes pre-tokenized text and never trains a tokenizer
(marmot/util/simple_corpus.py [R — SURVEY.md §0] whitespace-splits); a
training-data pipeline does: byte-pair-encoding learns, for ``n_merges``
rounds, the most frequent ADJACENT token pair and fuses it into a new id.
This is the classic iterative-aggregation Spark shape (like k-means in
similarity.py):

  per round: one partial-aggregated pair-count shuffle (keys = distinct
  adjacent pairs, vocabulary-sized, NOT corpus-sized) + a driver top-1
  (TakeOrdered, no global sort), then a NARROW columnar rewrite of every
  sequence applying the merge (a single ``F.aggregate`` fold — no UDF, no
  shuffle, no per-row Python).

Merge application is greedy left-to-right within each sequence (after a
fusion the new token does not re-pair with the next input token in the same
round) — the standard single-pass semantics; overlapping runs like
``a a a`` under rule (a,a) merge disjointly.

Determinism: ties on count break by (a asc, b asc); new ids are
``new_id_base + round``. Bit-stable across partitionings because pair counts
are exact integers.

Scale notes: each round's rewrite is materialized (lineage truncated — see
marmot_spark/materialize.py) and the previous round released — without this
the lazy plan re-derives round k from round 0 (O(n_merges^2) work and a
plan-depth blowup). Pair counting shuffles only (pair, count) rows — the
corpus itself never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marmot_spark.materialize import materialize, release


def pair_counts(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Adjacent-pair frequencies over all sequences: (a, b, cnt)."""
    toks = F.col(tokens_col)
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.get(toks, i).alias("a"), F.get(toks, i + 1).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def apply_merge(tokens, a: int, b: int, new_id: int):
    """Column expression: greedy left-to-right fusion of (a, b) -> new_id.

    A fold with state (out array, pending token): each input either completes
    a merge with the pending token, or flushes the pending token and becomes
    pending itself. Pure Catalyst HOF — JVM-side, no shuffle.
    """
    sentinel = -2_147_483_648  # "no pending token" (outside any real id space)
    init = F.struct(
        F.array().cast("array<int>").alias("out"),
        F.lit(sentinel).cast("int").alias("pend"),
    )

    def step(acc, t):
        merged = (acc.getField("pend") == F.lit(int(a))) & (t == F.lit(int(b)))
        return F.struct(
            F.when(
                merged,
                F.concat(acc.getField("out"), F.array(F.lit(int(new_id)).cast("int"))),
            )
            .when(
                acc.getField("pend") == F.lit(sentinel), acc.getField("out")
            )
            .otherwise(F.concat(acc.getField("out"), F.array(acc.getField("pend"))))
            .alias("out"),
            F.when(merged, F.lit(sentinel).cast("int")).otherwise(t).alias("pend"),
        )

    def finish(acc):
        return F.when(
            acc.getField("pend") == F.lit(sentinel), acc.getField("out")
        ).otherwise(F.concat(acc.getField("out"), F.array(acc.getField("pend"))))

    return F.aggregate(tokens, init, step, finish)


def train_bpe_merges(
    df: DataFrame,
    tokens_col: str = "tokens",
    n_merges: int = 8,
    new_id_base: int = 1_000_000,
    min_count: int = 2,
) -> list[dict]:
    """Learn ``n_merges`` BPE merges; returns the ordered merge table
    [{rank, a, b, new_id, cnt}]. Stops early when no pair reaches
    ``min_count``. Each round's rewrite is materialized (one job per round),
    so plan depth and replay stay one round deep."""
    cur = materialize(df.select(F.col(tokens_col).alias("__t")))
    merges: list[dict] = []
    try:
        for rank in range(n_merges):
            top = (
                pair_counts(cur, "__t")
                .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
                .limit(1)
                .collect()
            )
            if not top or int(top[0]["cnt"]) < min_count:
                break
            a, b, cnt = int(top[0]["a"]), int(top[0]["b"]), int(top[0]["cnt"])
            new_id = new_id_base + rank
            merges.append({"rank": rank, "a": a, "b": b, "new_id": new_id, "cnt": cnt})
            nxt = materialize(cur.select(apply_merge(F.col("__t"), a, b, new_id).alias("__t")))
            release(cur)
            cur = nxt
    finally:
        release(cur)
    return merges


def bpe_encode(
    df: DataFrame, merges: list[dict], tokens_col: str = "tokens", out_col: str | None = None
) -> DataFrame:
    """Apply a learned merge table to a corpus (rank order — the same greedy
    semantics as training). Narrow map; n_merges chained HOF folds."""
    out_col = out_col or tokens_col
    col = F.col(tokens_col)
    for m in sorted(merges, key=lambda m: m["rank"]):
        col = apply_merge(col, m["a"], m["b"], m["new_id"])
    return df.withColumn(out_col, col)
