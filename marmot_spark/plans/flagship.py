"""The flagship feature pipeline — ONE construction site for the engine's
headline DAG, consumed by both gates so they cannot drift:

* ``bench.py::flagship_pipeline`` (sf0.1-scale, chunked + salted knobs on)
* ``__spark_entry__.entry`` (sf0.001 driver smoke, serial knobs)

Semantics: sessionize + trailing rolling count per entity, as-of label
backfill, then per-token +/-k context windows — the LLM-pipeline shape of
"attach sequence-level features to every token".

Scale shape (the properties the plan-audit suite pins on the bench gate):

* FEATURES ON A NARROW PROJECTION. Every feature is a pure function of the
  narrow key tuple (keys..., ts): RANGE frames give equal-ts rows equal
  counts, sessionize merges gap-0 rows, the as-of match depends only on
  (key, ts). So features are computed on ``wide.select(keys, ts)`` — tiny
  exchanges — deduped on that tuple, and equi-joined back to the token-
  bearing scan. The wide ``tokens`` arrays (~85% of scan bytes) NEVER enter
  a shuffle.
* ONE plan-build collect. All per-entity chunk bounds, the per-hot-key as-of
  salt ranges AND the scan row count the join-back regime needs come from
  one aggregate over the narrow scan, grouped by (entity, hot key) in their
  native key types and folded on the driver into the two
  ``entity_time_bounds``-format maps and one summed count; each operator
  collecting its own (or a separate ``wide.count()``) would re-execute the
  upstream plan at plan-build time. The serial branch (no chunks, no hot
  keys) has no aggregate and runs ``wide.count()`` alone.
* SHARED chunk exchange. ``with_time_chunk`` emits one (entity, chunk)
  column that both chunked operators partition by, so sessionize reuses
  rolling_count's exchange.
* CONDITIONAL join-back. Under ``broadcast_max_rows`` (at most one feature
  row per sequence — the scan row count is an exact upper bound) the narrow
  side is force-broadcast; above it a driver broadcast is an OOM
  scale-killer, so the join degrades to a shuffle-hash join (narrow side
  builds the hash table; the wide rows are never sorted). On a cluster with
  the table bucketed by key this becomes a storage-partitioned join with
  zero wide-side shuffle.
* COMPACT feature payload. session ids and rolling counts fit int32 by
  construction and every byte is paid once per exploded token row.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marmot_spark.materialize import materialize
from marmot_spark.operators.asof import asof_join
from marmot_spark.operators.windows import (
    explode_with_context,
    ntz_to_ts,
    rolling_count,
    sessionize,
    with_time_chunk,
)


def flagship_features(
    wide: DataFrame,
    labels: DataFrame,
    *,
    keys: Sequence[str],
    ts_col: str,
    entity_col: str,
    asof_on: str,
    right_ts: str,
    payload: Sequence[str],
    tie_break: str,
    rolling_window_s: int = 7200,
    session_gap_s: float = 3600.0,
    order_extra: Sequence[str] | None = None,
    n_chunks: int = 1,
    hot_keys: Sequence | None = None,
    n_salts: int = 16,
    broadcast_max_rows: int = 5_000_000,
    k_context: int = 2,
    extra_keep: Sequence[str] = (),
) -> DataFrame:
    """Build the flagship DAG over ``wide`` (must carry ``keys``, ``ts_col``,
    ``tokens`` and any ``extra_keep`` columns; ``entity_col`` and ``asof_on``
    must be in ``keys``) and ``labels`` (``asof_on``, ``right_ts``,
    ``payload``, ``tie_break``).

    ``n_chunks > 1`` turns on the chunked scale path (shared chunk exchange,
    one-collect bounds); ``hot_keys`` turns on range-salting for the as-of
    (bounds ride the same single collect). Returns the exploded per-token
    frame: keys + ts + session_id + rolling_docs + payload + context lags/
    leads + ``extra_keep``.
    """
    # NTZ ts (naive parquet under a default Spark 4 session) breaks the
    # unix_micros order key on the serial branch; a no-op for TIMESTAMP input
    wide = ntz_to_ts(wide, ts_col)
    keys = list(keys)
    order_extra = list(order_extra) if order_extra is not None else [keys[0]]
    narrow = wide.select(*keys, ts_col)
    hot_keys = list(hot_keys) if hot_keys else []

    chunked = n_chunks > 1
    bounds = hot_bounds_us = n_rows = None
    if chunked or hot_keys:
        # ONE collect for every plan-time bound (chunk spans + salt ranges) and
        # the scan row count: <= 64 entities x (hot keys + 1) rows, folded per
        # entity and per hot key, counts summed
        us = F.unix_micros(F.col(ts_col))
        rows = narrow.groupBy(
            entity_col, F.when(F.col(asof_on).isin(hot_keys), F.col(asof_on))
        ).agg(F.min(us), F.max(us), F.count(F.lit(1))).collect()
        bounds, hot_bounds_us, n_rows = {}, {}, 0

        def widen(acc, k, mn, mx):
            lo, hi = acc.get(k, (mn, mx))
            acc[k] = (min(lo, mn), max(hi, mx))

        for ent, hot, mn, mx, n in rows:
            n_rows += n
            if mn is not None:
                widen(bounds, ent, mn, mx)
                if hot is not None:
                    widen(hot_bounds_us, hot, mn, mx)

    # ONE materialized order key (__ous = unix_micros(ts)) shared by both
    # window operators, and sessionize FIRST: its sort (entity, chunk, __ous,
    # tie-breaks) prefix-satisfies rolling_count's required (entity, chunk,
    # __ous) ordering on the SAME attribute, so rolling's windows run with no
    # sort of their own. (Passing computed unix_micros expressions to each
    # orderBy instead plans a fresh _w0 alias per operator and every window
    # re-sorts.) The chunked path adds the shared (entity, chunk) column.
    base = narrow
    chunk_kw = {}
    if chunked:
        base = with_time_chunk(base, entity_col, ts_col, n_chunks, bounds=bounds)
        chunk_kw = dict(n_chunks=n_chunks, bounds=bounds, chunk_col="__tchunk")
    base = base.withColumn("__ous", F.unix_micros(F.col(ts_col)))
    base = sessionize(
        base, entity_col, ts_col, session_gap_s, order_extra=order_extra,
        **chunk_kw, order_col="__ous",
    )
    if chunked:
        # rolling_count's sideband branches (boundary probes + chunk tails)
        # and the downstream dedup each read the sessionized frame. Under
        # the bench flagship regime (AQE off) the pinned frame keeps the
        # (entity, chunk) partitioning AND the (entity, chunk, __ous, ties)
        # sort order, so rolling runs with no exchange and no sort of its
        # own; with AQE on the unexecuted pin reports unknown partitioning
        # and the (tiny) narrow frame is re-exchanged.
        base = materialize(base, eager=False)
    base = rolling_count(
        base, entity_col, ts_col, rolling_window_s, "rolling_docs",
        **chunk_kw, order_col="__ous",
    ).drop("__tchunk", "__ous")

    # narrow the per-feature-row payload BEFORE the explode multiplies it
    base = base.withColumn("session_id", F.col("session_id").cast("int")).withColumn(
        "rolling_docs", F.col("rolling_docs").cast("int")
    )
    base = asof_join(
        base, labels, on=asof_on, left_ts=ts_col, right_ts=right_ts,
        payload=list(payload), tie_break=tie_break,
        hot_keys=hot_keys or None, n_salts=n_salts,
        hot_bounds_us=hot_bounds_us,
    )
    feat_cols = ["session_id", "rolling_docs", *payload]
    join_keys = [*keys, ts_col]
    feats = base.select(*join_keys, *feat_cols).dropDuplicates(join_keys)

    # conditional join-back: scan row count is an exact upper bound on the
    # (deduped) narrow side; the serial branch has no bounds aggregate to
    # count it
    if n_rows is None:
        n_rows = wide.count()
    if n_rows <= broadcast_max_rows:
        joined = wide.join(F.broadcast(feats), join_keys)
    else:
        joined = wide.join(feats.hint("shuffle_hash"), join_keys)
    return explode_with_context(
        joined, k=k_context, keep=[*join_keys, *feat_cols, *extra_keep]
    )
