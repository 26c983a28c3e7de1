"""Leakage-safe feature encoders: expanding target encoding, exact decay
features, chained (multi-table) point-in-time as-of joins, temporal splits
with an embargo gap, and per-group caps.

These are the feature-store operators a training pipeline layers on top of
the as-of/window core: every encoder here is *strictly past-only* (the frame
ends at ``-1 PRECEDING``), so the zero-temporal-leakage contract the north
star demands for the as-of backfill extends to the derived features. The
reference toolkit computes its per-token context features in a single
process with no notion of event time [recalled public qe-team/marmot,
LREC 2016 — no file:line possible, the checkout is empty]; the leakage-safe
expanding-statistics form is the standard distributed recast (see e.g. the
"time-travel" semantics of feature stores).

Exactness contract: every encoder takes INTEGER-quantized inputs (cents /
micro units) and emits BIGINT outputs computed with integer arithmetic only
(truncating ``div``), so a DuckDB mirror of the same formula hash-matches
bit-for-bit — the repo-wide oracle discipline. Spark's ``div`` and DuckDB's
``//`` both truncate toward zero (verified on negatives), so the mirror is
safe over the full BIGINT domain, not just positives.

Plan shape: the expanding/decay encoders are pure window functions over
``partitionBy(key).orderBy(ts, *extra)`` — when composed with other windowed
features on the SAME (key, order) spec (w4's lag/lead, a4's rolling counts)
Catalyst fuses them into ONE WindowExec on one Exchange, so adding an
encoder to an existing per-entity feature pass costs zero extra shuffles.
The smoothing prior is a 1-row aggregate broadcast-joined back (never a
driver collect in the hot path).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marmot_spark.functions.splits import split_hash_col

__all__ = [
    "target_encode_past",
    "decay_features",
    "asof_chain",
    "temporal_split_embargo",
    "cap_per_group",
]


def target_encode_past(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    label: str,
    *,
    order_extra: Sequence[str] = (),
    prior_weight: int = 10,
    out_prefix: str = "te_",
) -> DataFrame:
    """Expanding (strictly-past) target encoding of ``label`` per ``key``.

    Adds three columns:

    * ``{p}cnt``  — number of PRIOR events of this key (frame ends at -1),
    * ``{p}sum``  — BIGINT sum of the prior labels (0 when none),
    * ``{p}smooth_q`` — the m-smoothed mean in micro-label units,
      ``(sum*1e6 + m*prior_q) div (cnt + m)`` with
      ``prior_q = (global_sum*1e6) div global_cnt`` — the classic
      empirical-Bayes target encoder, integer-exact.

    ``label`` must already be integer-quantized (e.g. cents). The first
    event of every key gets cnt=0/sum=0/smooth_q=prior_q: no information
    from the current or any future row ever reaches the encoding — the
    leakage test permutes future labels and asserts prefix invariance.

    Scale: one Exchange on ``key`` (shared with any same-spec window), one
    1-row aggregate broadcast for the prior. No per-row Python.
    """
    if prior_weight < 1:
        raise ValueError("prior_weight must be >= 1 (it is the smoothing denominator floor)")
    keys = [key] if isinstance(key, str) else list(key)
    p = out_prefix
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(ts).asc()] + [F.col(c).asc() for c in order_extra])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # integer div (not `/`): sum*1e6 can exceed 2^53, where double division
    # would round before the cast and diverge from the oracle's `//`
    prior = df.agg(
        F.expr(
            f"(CAST(sum({label}) AS BIGINT) * 1000000L) "
            f"div greatest(count({label}), 1L)"
        ).alias(f"{p}prior_q")
    )
    out = (
        df.join(F.broadcast(prior))
        .withColumn(f"{p}cnt", F.count(label).over(w))
        .withColumn(f"{p}sum", F.coalesce(F.sum(label).over(w), F.lit(0)).cast("long"))
    )
    # integer smoothing: (sum*1M + m*prior_q) div (cnt + m). Spark `/` on
    # longs is double division — use `div` (truncating integer division,
    # matching DuckDB `//`).
    return out.withColumn(
        f"{p}smooth_q",
        F.expr(
            f"({p}sum * 1000000L + {int(prior_weight)}L * {p}prior_q) "
            f"div ({p}cnt + {int(prior_weight)}L)"
        ),
    )


def decay_features(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    value: str,
    *,
    k: int = 8,
    order_extra: Sequence[str] = (),
    out_col: str = "decay_q",
) -> DataFrame:
    """Exact exponentially-decayed sum of the last ``k`` PRIOR values.

    ``decay_q = sum_{j=1..k} lag(value, j) * 2^(k-j)`` — the most recent
    past event carries weight ``2^(k-1)``, halving per step back (a dyadic
    EWMA numerator; divide by ``2^k - 1`` downstream for the normalized
    rate). Dyadic weights are the trick that keeps this ORACLE-EXACT: every
    weight is a power of two, ``value`` is integer-quantized, so the whole
    feature is BIGINT arithmetic — no float accumulation order to disagree
    on between engines. A general ``alpha^j`` EWMA needs either per-row
    state (a recurrence — not window-expressible without pow() overflow) or
    float tolerance; at k=8 the dyadic ladder covers 99.6% of the mass of
    alpha=0.5 exactly.

    Strictly past-only (lags start at j=1): composable with
    ``target_encode_past`` under the same leakage contract. The k lag
    columns compile into the SAME WindowExec as any other feature on the
    identical (key, order) spec — zero extra shuffles, whole-stage codegen.
    """
    if not 1 <= k <= 62:
        raise ValueError("k must be in [1, 62] (2^k must fit BIGINT)")
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(ts).asc()] + [F.col(c).asc() for c in order_extra]
    )
    acc: Column = F.lit(0).cast("long")
    for j in range(1, k + 1):
        acc = acc + F.coalesce(F.lag(F.col(value).cast("long"), j).over(w), F.lit(0)) * F.lit(
            1 << (k - j)
        )
    return df.withColumn(out_col, acc)


def asof_chain(
    left: DataFrame,
    left_ts: str,
    specs: Sequence[dict],
    **common,
) -> DataFrame:
    """Chained point-in-time join: one event spine, MANY feature tables.

    The feature-store shape: ``left`` is the spine (entity, ts) and each
    spec is one upstream feature table joined as-of independently —
    ``{"right": df, "on": key, "right_ts": col, "payload": [cols],
    "tie_break": col, "ts_out": name, ...}`` (any remaining
    :func:`asof_join` kwarg may ride in the spec or in ``**common``). Each
    table contributes the latest row at-or-before the spine timestamp;
    tables never see each other, so adding a feature source is O(one more
    sort-merge), and a payload-name collision across tables is rejected up
    front rather than surfacing as a mid-plan analysis error. Each step's
    ``matched_ts`` is renamed to ``ts_out`` (default ``matched_ts_{i}``) so
    the per-table match instants survive the chain without colliding.

    Scale: each as-of is the engine's salted range-partitioned kernel; the
    spine is re-sorted per table only when the join key differs (same-key
    chains reuse the Exchange under AQE).
    """
    from marmot_spark.operators.asof import asof_join

    seen: set[str] = set(left.columns)
    for i, s in enumerate(specs):
        for c in list(s["payload"]) + [s.get("ts_out", f"matched_ts_{i}")]:
            if c in seen:
                raise ValueError(f"payload column {c!r} collides across the chain")
            seen.add(c)
    out = left
    for i, s in enumerate(specs):
        kw = dict(common)
        kw.update({
            k: v for k, v in s.items()
            if k not in ("right", "on", "right_ts", "payload", "ts_out")
        })
        out = asof_join(
            out, s["right"], s["on"], left_ts, s["right_ts"], list(s["payload"]), **kw
        ).withColumnRenamed("matched_ts", s.get("ts_out", f"matched_ts_{i}"))
    return out


def temporal_split_embargo(
    df: DataFrame,
    ts: str,
    train_end,
    test_start,
    *,
    out_col: str = "split_time",
) -> DataFrame:
    """Time-based train/test split with an embargo gap.

    ``train`` strictly before ``train_end``; ``test`` at/after
    ``test_start``; rows inside ``[train_end, test_start)`` get
    ``embargo`` — excluded from BOTH sides so that features with lookback
    (rolling windows, decay sums, target encodings) computed on test rows
    cannot overlap raw train-period events: the purged/embargoed split of
    financial ML, and the split a leakage-free as-of pipeline must use.
    ``train_end``/``test_start`` are timestamp literals or column exprs;
    ``test_start >= train_end`` is the caller's contract (checked when both
    are plain literals).
    """
    if isinstance(train_end, str) and isinstance(test_start, str) and test_start < train_end:
        raise ValueError("test_start must be >= train_end (embargo cannot be negative)")
    t = F.col(ts)
    return df.withColumn(
        out_col,
        F.when(t < F.lit(train_end).cast("timestamp"), F.lit("train"))
        .when(t >= F.lit(test_start).cast("timestamp"), F.lit("test"))
        .otherwise(F.lit("embargo")),
    )


def cap_per_group(
    df: DataFrame,
    group: str | Sequence[str],
    k: int,
    id_col: str,
    *,
    seed: int = 0,
    out_col: str = "cap_keep",
) -> DataFrame:
    """Deterministic per-group cap: keep at most ``k`` rows per group.

    The web-curation staple (cap documents per domain/source so one giant
    host cannot dominate the mixture): rows are ranked inside each group by
    a content hash of the id — a content-stable shuffle, not arrival order,
    so reruns and resumed checkpoints elect the SAME survivors — and rows
    with rank > k get ``{out_col} = false``. Tie-break on the id itself
    makes the rank total even under hash collisions.

    The rank hash is the engine's cross-engine string-fold hash
    (functions/splits.py::split_hash_col — 10k buckets, ties broken by the
    id), exactly mirrorable in DuckDB SQL for oracle pairing.

    Scale: one Exchange on ``group`` + one WindowExec; for groups at web
    cardinality (1e8 domains) the window is the right plan — no group is
    ever materialized, and skewed giant groups cost O(group size) sort
    inside one partition, bounded by AQE skew splitting on the Exchange.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    groups = [group] if isinstance(group, str) else list(group)
    h = split_hash_col(id_col, seed=seed)
    w = Window.partitionBy(*groups).orderBy(h.asc(), F.col(id_col).asc())
    return df.withColumn(out_col, F.row_number().over(w) <= F.lit(int(k)))
