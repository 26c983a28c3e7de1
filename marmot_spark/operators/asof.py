"""Point-in-time AS-OF join (per-token label backfill, SURVEY.md J2).

Semantics: for each left row, attach the payload of the LAST right row with
``right_ts <= left_ts`` (inclusive) for the same key — i.e. zero temporal
leakage: a right row at ``left_ts + 1us`` must never be selected. Ties on
``right_ts`` within a key break deterministically by ``tie_break`` (largest
wins, e.g. ``label_seq``). Optional ``tolerance_us``: a match older than
``left_ts - tolerance_us`` is treated as no-match (null payload) — the batch
analogue of a streaming watermark / max-staleness bound.

Reference semantics re-expressed: marmot backfills phrase/sentence-level tags
onto each token of the span (marmot/representations/
segmentation_representation_generator.py, marmot/experiment/context_utils.py
[R — SURVEY.md §0]); the north rule recasts that positional backfill as a
point-in-time as-of join.

Spark has no native AS-OF join; a raw inequality join is O(n*m). Two
scale-correct strategies are provided (tests assert they agree and match
DuckDB's ASOF JOIN):

* ``strategy="window"`` (default): union both sides with a side flag, then
  ``last(payload, ignorenulls=True)`` over a window partitioned by
  ``(key [, salt])`` ordered by ``(ts, side, tie)``. One shuffle, stays
  entirely in the JVM (whole-stage codegen), and AQE handles partition
  coalescing. This is a linear merge — the sort-merge as-of join expressed
  declaratively so Catalyst owns the physical execution.

* ``strategy="merge"``: the explicit Arrow-batched kernel — co-partition both
  sides by ``(key, salt)``, ``sortWithinPartitions(key, salt, ts, side,
  tie)``, then a vectorized grouped forward-fill over sorted Arrow batches in
  ``mapInPandas`` (pandas ops only — never per-row Python), with carry state
  across batch boundaries within a partition. This is the fallback shape for
  engines where the window exec spills (very wide payloads), and the form the
  north star describes.

Skew: a hot key (one doc_id = 30% of rows) would pin one task. Pass
``hot_keys=[...]`` (e.g. ``hot_keys=detect_hot_keys(left, key)``): left rows
of hot keys salt by TIME-RANGE chunk of the key's [min, max] ts; each right
row lands only in its own chunk, and each later chunk also receives ONE
carried label — the latest right row strictly before the chunk boundary —
so every salted group holds exactly the state its as-of lookups need. The
as-of result is unchanged, only the parallelism changes, and replication is
O(n_salts) rows per hot key (skew-aware repartitioning in the spirit of DS2,
PAPERS.md). Non-hot keys use salt=0. Salting needs a single join key and
TimestampType timestamps.

The whole default (``strategy="window"``) join stays in the JVM, salting
included: the (hot key x chunk boundary) relation the carries need is a
literal relation built from Column expressions, never a Python-list
``createDataFrame`` (classic PySpark ships such a list through a PythonRDD,
so every run would fork Python workers for a few dozen rows; see
``_boundary_carries``).
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from marmot_spark.operators.windows import _chunk_of_expr, _spans_us, entity_time_bounds, ntz_to_ts

_SIDE = "__asof_side"
_SALT = "__asof_salt"
_TS = "__asof_ts"
_TIE = "__asof_tie"
_MATCH_TS = "__asof_match_ts"


def detect_hot_keys(df: DataFrame, key: str, threshold: float = 0.05) -> list:
    """Keys owning more than ``threshold`` of rows — ONE plan-build job.

    NOTE: the job executes ``df``'s upstream plan once at plan-build time
    (the total rides the grouped counts via a reused exchange — no second
    scan). For repeated or derived inputs it is cheaper to detect once on the
    rawest equivalent frame and pass the result as ``asof_join(hot_keys=)``,
    as the flagship does with its single plan-build collect.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("__c"))
    # ONE job: the total is an aggregate OVER the grouped counts, joined back
    # as a broadcast scalar — Catalyst reuses the counts exchange
    # (ReusedExchange, pinned by test_plan_audit), so the upstream plan is
    # scanned once instead of twice (count + filtered collect). The filter is
    # distributed and returns <= 1/threshold keys by construction.
    total = F.broadcast(
        counts.agg(F.sum("__c").alias("__t")).withColumn("__j", F.lit(0))
    )
    rows = (
        counts.withColumn("__j", F.lit(0))
        .join(total, "__j")
        .filter(F.col("__c") >= F.lit(float(threshold)) * F.col("__t"))
        .select(key)
        .collect()
    )
    return [r[0] for r in rows]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    tie_break: str | None = None,
    tolerance_us: int | None = None,
    strategy: str = "window",
    hot_keys: Sequence | None = None,
    n_salts: int = 16,
    hot_bounds_us: dict | None = None,
) -> DataFrame:
    """Left as-of join: left columns + ``payload`` columns from right.

    Payload columns are null where no right row with ``right_ts <= left_ts``
    (within tolerance) exists for the key.

    ``hot_keys`` are range-salted into ``n_salts`` time chunks (module
    docstring). The per-key chunk bounds come from one tiny agg over the hot
    left rows — or pass ``hot_bounds_us``, a ``{key: (min_us, max_us)}``
    dict in the ``entity_time_bounds`` format (integer micros) computed on
    the CHEAPEST equivalent frame, e.g. the raw scan:
    collecting bounds from a derived ``left`` re-executes the whole upstream
    plan at plan-build time, and chunk balance — never correctness — is all
    the bounds affect. Hot keys need a single join key and TimestampType
    ``left_ts``/``right_ts``; anything else raises ``ValueError`` while the
    plan is built.
    """
    keys = [on] if isinstance(on, str) else list(on)
    # parquet naive timestamps arrive as TIMESTAMP_NTZ under a default Spark 4
    # session; normalize so micros math / interval comparisons resolve
    left = ntz_to_ts(left, left_ts)
    right = ntz_to_ts(right, right_ts)
    # a right row with NULL ts can never satisfy right_ts <= left_ts (SQL
    # comparison semantics; DuckDB ASOF agrees) — drop before the merge
    right = right.filter(F.col(right_ts).isNotNull())
    hot_keys = list(hot_keys or [])

    left_cols = left.columns
    for c in payload:
        if c in left_cols:
            raise ValueError(f"payload column {c!r} collides with a left column")

    # ---- salt assignment ----------------------------------------------------
    l_salt = r_salt = F.lit(0)
    carry_rhs = None
    if hot_keys:
        if len(keys) != 1:
            raise ValueError("asof_join hot_keys salting supports a single join key")
        if not all(dict(df.dtypes)[c].startswith("timestamp") for df, c in ((left, left_ts), (right, right_ts))):
            raise ValueError("asof_join hot_keys salting requires TimestampType timestamps")
        key = keys[0]
        hot = F.col(key).isin(hot_keys)
        if hot_bounds_us is None:
            hot_bounds_us = entity_time_bounds(left.filter(hot), key, left_ts)
        else:
            usable = {
                k: v for k, v in hot_bounds_us.items()
                if k in set(hot_keys) and v[0] is not None and v[1] is not None
            }
            missing = [k for k in hot_keys if k not in usable]
            if missing:
                # correctness is bounds-independent, but these keys silently
                # fall back to one chunk — surface the degraded parallelism
                warnings.warn(
                    f"asof_join hot_keys {missing} have no usable entry in "
                    "hot_bounds_us; they will not be range-salted (single chunk)",
                    stacklevel=2,
                )
            hot_bounds_us = usable
        spans = _spans_us(hot_bounds_us, n_salts)

        def salt(ts):
            chunk = _chunk_of_expr(F.unix_micros(F.col(ts)), hot_bounds_us, spans, n_salts, key)
            return F.when(hot, chunk).otherwise(F.lit(0))

        l_salt, r_salt = salt(left_ts), salt(right_ts)
        carry_rhs = _boundary_carries(
            right, key, right_ts, list(payload), tie_break, hot_bounds_us, n_salts
        )

    tie_l = F.lit(0).cast("long")  # left rows sort AFTER right rows at equal ts via _SIDE
    tie_r = F.col(tie_break).cast("long") if tie_break else F.lit(0).cast("long")

    # each union side is ONE projection in union_cols order: every withColumn
    # builds and analyzes a new Dataset at plan-build time
    ltypes, rtypes = dict(left.dtypes), dict(right.dtypes)

    def null_of(c, dtype):
        return F.lit(None).cast(dtype).alias(c)

    union_cols = left_cols + list(payload) + [_SALT, _SIDE, _TS, _TIE, _MATCH_TS]
    lhs = left.select(
        *left_cols,
        *[null_of(c, rtypes[c]) for c in payload],
        l_salt.alias(_SALT), F.lit(1).alias(_SIDE), F.col(left_ts).alias(_TS),
        tie_l.alias(_TIE), null_of(_MATCH_TS, rtypes[right_ts]),
    )
    # the right side carries its own key / ts / payload / tie columns; any
    # other left column is NULL on right rows
    r_own = set(keys + [right_ts] + list(payload) + ([tie_break] if tie_break else []))
    rhs = right.select(
        *[F.col(c) if c in r_own else null_of(c, ltypes[c]) for c in left_cols],
        *payload,
        r_salt.alias(_SALT), F.lit(0).alias(_SIDE), F.col(right_ts).alias(_TS),
        tie_r.alias(_TIE), F.col(right_ts).alias(_MATCH_TS),
    )
    merged = lhs.unionByName(rhs)
    if carry_rhs is not None:
        mtypes, c_own = dict(merged.dtypes), set(carry_rhs.columns)
        merged = merged.unionByName(carry_rhs.select(
            *[F.col(c) if c in c_own else null_of(c, mtypes[c]) for c in union_cols]
        ))

    if strategy == "window":
        w = (
            Window.partitionBy(*keys, _SALT)
            .orderBy(F.col(_TS).asc(), F.col(_SIDE).asc(), F.col(_TIE).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # pack (payload..., match_ts) into ONE struct that is non-null exactly
        # on right rows: last(ignorenulls) then returns the matched ROW's
        # values — a genuine NULL payload inside the newest match stays NULL
        # (per-column last() would skip it and leak an older value). One
        # window expression instead of len(payload)+1 is also cheaper.
        fill = list(payload) + [_MATCH_TS]
        pack = F.when(
            F.col(_SIDE) == 0, F.struct(*[F.col(c).alias(c) for c in fill])
        )
        out = merged.withColumn("__asof_pack", F.last(pack, ignorenulls=True).over(w))
        out = out.filter(F.col(_SIDE) == 1).select(*[
            F.col("__asof_pack").getField(c).alias(c) if c in fill else F.col(c)
            for c in union_cols
        ])
    elif strategy == "merge":
        out = _merge_kernel(merged, keys, payload)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    def fresh(c):
        # a match older than left_ts - tolerance_us is no match
        if tolerance_us is None:
            return F.col(c)
        stale = F.col(_MATCH_TS) < F.col(_TS) - F.expr(f"INTERVAL {tolerance_us} MICROSECOND")
        return F.when(stale, F.lit(None)).otherwise(F.col(c))

    return out.select(
        *left_cols, *[fresh(c).alias(c) for c in payload], fresh(_MATCH_TS).alias("matched_ts")
    )


def _boundary_carries(
    right: DataFrame,
    key: str,
    right_ts: str,
    payload: list,
    tie_break: str | None,
    hot_bounds_us: dict,
    n_salts: int,
) -> DataFrame | None:
    """One carried label per (hot key, later chunk): the latest right row
    STRICTLY before the chunk boundary. O(n_salts) carry rows per hot key —
    vs O(labels x n_salts) when every label replicates to every salt.

    Shape matters for plan DEPTH, not just row counts: an earlier version
    found the carries with a recursive as-of lookup (union + sort + window —
    ~6 sequential stages + a broadcast round-trip on the critical path, paid
    at plan-fixed latency regardless of data size). This form is a broadcast
    of the (hot_keys x n_salts) boundary instants into the hot labels + one
    ``max_by`` aggregation — 2 stages, map-side partial agg, no sort. Same
    result: per (key, boundary) the row with max (ts, tie) among rows
    strictly before the boundary.

    The boundary relation (<= hot keys x (n_salts - 1) rows; ``detect_hot_keys``
    caps hot keys at 1/threshold) is a JVM literal relation, ``inline`` of an
    array of literal structs over a one-row range, with the key cast to the
    right side's key type. A Python-list ``createDataFrame`` of the same rows
    reads through a PythonRDD, one extra 4-task stage per run that forks
    Python workers: after 3 flagship runs (30 boundary rows each) the
    driver's process tree held 5 ``pyspark.daemon`` processes of ~62 MB
    resident each (4-vCPU host, ``local[4]``), and the flagship benchmark's
    peak RSS read 1602 MB against 1266 MB with the literal relation (medians
    of 12 runs each); with the literal relation the tree holds none.
    """
    spans = _spans_us(hot_bounds_us, n_salts)
    key_type = dict(right.dtypes)[key]
    # integer micros: <= boundary-1us == strictly < boundary
    brows = [
        F.struct(F.lit(k).cast(key_type).alias(key), F.lit(c).cast("int").alias("__carry_salt"),
                 F.lit(mnus + c * spans[k] - 1).cast("long").alias("__bus"))
        for k, (mnus, _) in hot_bounds_us.items() for c in range(1, n_salts)
    ]
    if not brows:
        return None
    bdf = right.sparkSession.range(1, numPartitions=1).select(F.inline(F.array(*brows)))
    rhot = (
        right.filter(F.col(key).isin(list(hot_bounds_us)))
        .withColumn("__rus", F.unix_micros(F.col(right_ts)))
        .withColumn("__otie", (F.col(tie_break) if tie_break else F.lit(0)).cast("long"))
    )
    best = (
        rhot.join(F.broadcast(bdf), key)
        .filter(F.col("__rus") <= F.col("__bus"))
        .groupBy(key, "__carry_salt")
        .agg(
            F.max_by(
                F.struct(F.col(right_ts).alias("__ots"), F.col("__otie").alias("__tie"),
                         *[F.col(c).alias(c) for c in payload]),
                F.struct(F.col("__rus"), F.col("__otie")),
            ).alias("__best")
        )
    )
    return best.select(
        F.col(key),
        F.col("__carry_salt").alias(_SALT),
        F.lit(0).alias(_SIDE),
        F.col("__best.__ots").alias(_TS),
        F.col("__best.__tie").alias(_TIE),
        F.col("__best.__ots").alias(_MATCH_TS),
        *[F.col(f"__best.{c}").alias(c) for c in payload],
    )


def _merge_kernel(merged: DataFrame, keys: list[str], payload: Sequence[str]) -> DataFrame:
    """Explicit sorted-merge kernel: co-partition (into
    ``spark.sql.shuffle.partitions``), sort, grouped ffill per Arrow batch."""
    fill_cols = list(payload) + [_MATCH_TS]
    grp_cols = keys + [_SALT]
    n_parts = int(merged.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part = merged.repartition(n_parts, *grp_cols).sortWithinPartitions(
        *grp_cols, F.col(_TS).asc(), F.col(_SIDE).asc(), F.col(_TIE).asc()
    )
    schema = part.schema

    def ffill_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Forward-fill by ROW POINTER, not per-column ffill: the pointer of the
        # last right row (side=0) within the group is filled forward, then all
        # fill columns gather from that row — so a newest match whose payload
        # is genuinely NULL delivers NULL instead of leaking an older value.
        carry_key: tuple | None = None
        carry_vals: dict | None = None  # last match's row values, or None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            first_key = tuple(pdf.iloc[0][grp_cols])
            prepended = False
            if carry_key is not None and first_key == carry_key and carry_vals is not None:
                synth = pdf.iloc[[0]].copy()
                for c, v in carry_vals.items():
                    synth[c] = v
                synth[_SIDE] = 0  # acts as the carried-in match row
                pdf = pd.concat([synth, pdf], ignore_index=True)
                prepended = True
            n = len(pdf)
            ptr = pd.Series(
                np.where(pdf[_SIDE].to_numpy() == 0, np.arange(n, dtype="float64"), np.nan)
            )
            ptr = ptr.groupby([pdf[c].reset_index(drop=True) for c in grp_cols],
                              sort=False, dropna=False).ffill()
            has_match = ptr.notna().to_numpy()
            src = np.where(has_match, ptr.to_numpy(), 0).astype("int64")
            pdf = pdf.reset_index(drop=True)
            for c in fill_cols:
                gathered = pdf[c].take(src).reset_index(drop=True)
                pdf[c] = gathered.where(has_match)
            if bool(has_match[-1]):
                carry_vals = {c: pdf.iloc[-1][c] for c in fill_cols}
            else:
                carry_vals = None
            carry_key = tuple(pdf.iloc[-1][grp_cols])
            if prepended:
                pdf = pdf.iloc[1:]
            yield pdf[pdf[_SIDE] == 1]

    return part.mapInPandas(ffill_partition, schema=schema)


# 2100-01-01 UTC in micros: reversal pivot keeping reflected instants inside
# Spark's valid timestamp range for any realistic event time
_FWD_PIVOT_US = 4_102_444_800_000_000


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    tie_break: str | None = None,
    tolerance_us: int | None = None,
    strategy: str = "window",
    hot_keys: Sequence | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """FORWARD as-of join: for each left row, the EARLIEST right row with
    ``right_ts >= left_ts`` (pandas merge_asof direction='forward'; the
    backfill dual — e.g. "next label after this observation").

    Implemented by time reflection: both sides map ts -> PIVOT - ts and run
    through the backward kernel — every backward property (strategies,
    tolerance, hot-key salting, null handling, struct-packed payload) carries
    over unchanged, because reflection is an order-reversing isometry of the
    time line. ``matched_ts`` is reflected back to the original instant.
    Ties at identical right_ts resolve by MAX ``tie_break`` (same rule as
    backward). ``hot_keys`` are range-salted on the REFLECTED timestamps,
    with bounds from the backward kernel's own agg over the reflected left
    rows (``hot_bounds_us`` is stated in original time, so it is not taken).
    """
    left = ntz_to_ts(left, left_ts)
    right = ntz_to_ts(right, right_ts)
    piv = F.lit(_FWD_PIVOT_US)
    l2 = left.withColumn("__rev_lts", F.timestamp_micros(piv - F.unix_micros(F.col(left_ts))))
    r2 = right.withColumn("__rev_rts", F.timestamp_micros(piv - F.unix_micros(F.col(right_ts)))).drop(right_ts)
    out = asof_join(
        l2, r2, on=on, left_ts="__rev_lts", right_ts="__rev_rts",
        payload=payload, tie_break=tie_break, tolerance_us=tolerance_us,
        strategy=strategy, hot_keys=hot_keys, n_salts=n_salts,
    )
    return out.withColumn(
        "matched_ts", F.timestamp_micros(piv - F.unix_micros(F.col("matched_ts")))
    ).drop("__rev_lts")


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    tie_break: str | None = None,
    tolerance_us: int | None = None,
    strategy: str = "window",
    hot_keys: Sequence | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """NEAREST as-of join: for each left row, the right row minimizing
    ``|right_ts - left_ts|`` (pandas merge_asof direction='nearest'). Equal
    distance on both sides resolves to the BACKWARD (earlier) match — the
    leakage-safe side — and a right row exactly at ``left_ts`` is that case
    (distance 0 both ways, backward wins; both directions pick the same row
    under the shared MAX-``tie_break`` rule). ``tolerance_us`` bounds the
    distance symmetrically, as in pandas.

    Implemented by composing the two verified directional kernels — backward
    then forward on the backward's output — and selecting per row with a
    codegen'd CASE over the two matched timestamps. Two sort shuffles instead
    of one; the single-pass alternative (union both sides, keep prev AND next
    right row per left row in one window) saves a shuffle but forfeits reuse
    of the directional kernels' salting/tolerance/null machinery, so
    composition is the maintained form. All strategy/skew options forward to
    both kernels unchanged.
    """
    b = asof_join(
        left, right, on=on, left_ts=left_ts, right_ts=right_ts, payload=payload,
        tie_break=tie_break, tolerance_us=tolerance_us, strategy=strategy,
        hot_keys=hot_keys, n_salts=n_salts,
    )
    ren = {c: f"__bwd_{c}" for c in list(payload) + ["matched_ts"]}
    for old, new in ren.items():
        b = b.withColumnRenamed(old, new)
    f2 = asof_join_forward(
        b, right, on=on, left_ts=left_ts, right_ts=right_ts, payload=payload,
        tie_break=tie_break, tolerance_us=tolerance_us, strategy=strategy,
        hot_keys=hot_keys, n_salts=n_salts,
    )
    dist_b = F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col("__bwd_matched_ts"))
    dist_f = F.unix_micros(F.col("matched_ts")) - F.unix_micros(F.col(left_ts))
    use_b = F.col("__bwd_matched_ts").isNotNull() & (
        F.col("matched_ts").isNull() | (dist_b <= dist_f)
    )
    out = f2
    for c in list(payload) + ["matched_ts"]:
        out = out.withColumn(c, F.when(use_b, F.col(f"__bwd_{c}")).otherwise(F.col(c)))
    return out.drop(*ren.values())
