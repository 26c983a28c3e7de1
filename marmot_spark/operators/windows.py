"""Windowed operators: token context windows, lag/lead, sessionize, rolling counts.

Reference semantics re-expressed (SURVEY.md §2.5):

* W1 context window — marmot pads ±k windows with '_START_'/'_END_'
  (marmot/util/ngram_window_extractor.py :: left_context/right_context/
  extract_window [R — SURVEY.md §0]). On int32 token ids the sentinels are
  START=-1 / END=-2 (FIXTURES.md). Because the whole sentence rides in the
  row's ``tokens`` array, the context window needs NO window function and NO
  shuffle: ``posexplode`` + 0-based ``F.get(tokens, pos±k)`` + ``coalesce``
  sentinel is a narrow, whole-stage-codegen'd plan that scales linearly.

* W4 lag/lead over an ordered stream — true cross-row windows
  (``Window.partitionBy(entity).orderBy(ts)``), one shuffle on the entity key.

* W6 sessionize — gap-based session ids: flag gap > threshold, running sum of
  flags. Identical formulation to DuckDB window SQL so oracles are exact.

* A4 rolling counts — event-time range frames.

Every event-time operator takes one time domain: TimestampType, framed and
chunked on unix_micros (NTZ input is normalized first; anything else is
refused while the plan is built).

The chunked path for hot, low-cardinality entities has one way in:
:func:`with_time_chunk`'s column carries its own geometry in its metadata,
which :func:`sessionize` / :func:`rolling_count` read from ``chunk_col=``.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marmot_spark import END_ID, START_ID


def ntz_to_ts(df: DataFrame, ts: str) -> DataFrame:
    """Normalize a TIMESTAMP_NTZ column to TIMESTAMP at the operator boundary.

    Parquet written with naive (non-UTC-adjusted) timestamps reads back as
    TIMESTAMP_NTZ under a default Spark 4 session, which ``unix_micros``,
    ``cast(double)``, range frames on micros, and ``withWatermark`` all
    reject. The cast interprets the wall-clock value in the session timezone;
    under UTC (the engine's convention) it is a semantic no-op. Gap/window
    math only uses differences, so any fixed-offset zone is also exact — only
    a DST-shifting session zone could perturb results, which is why
    ``build_session`` pins UTC.
    """
    if dict(df.dtypes)[ts] == "timestamp_ntz":
        df = df.withColumn(ts, F.col(ts).cast("timestamp"))
    return df


def _check_order_col(df: DataFrame, order_col: str | None) -> None:
    """A shared order key must hold unix_micros(ts): anything but a bigint
    column would order (and range-frame) on the wrong domain silently."""
    if order_col is None:
        return
    got = dict(df.dtypes).get(order_col, "no such column")
    if got != "bigint":
        raise ValueError(f"order_col {order_col!r} must be a bigint column holding unix_micros(ts), got {got!r}")


def _require_timestamp(df: DataFrame, ts: str, op: str) -> DataFrame:
    """NTZ-normalize ``ts`` and refuse any other non-timestamp type: a bare
    number has no unit, so framing it as seconds or as micros would each be
    silently wrong for some caller."""
    df = ntz_to_ts(df, ts)
    got = dict(df.dtypes)[ts]
    if got != "timestamp":
        raise ValueError(f"{op} requires a TimestampType ts column, got {ts!r} of type {got!r}")
    return df


def explode_tokens(df: DataFrame, tokens_col: str = "tokens", keep: list[str] | None = None) -> DataFrame:
    """Per-token exploded view: one row per (doc, pos). Narrow — no shuffle.

    Mirrors marmot's create_contexts() flattening (marmot/experiment/
    context_utils.py [R]): each output row is a context_obj — token, index,
    plus the full sentence array carried along for array-side features.
    """
    keep = keep if keep is not None else [c for c in df.columns if c != tokens_col]
    # the array is always projected explicitly; a caller-supplied keep that
    # also names it would otherwise produce an ambiguous duplicate column
    keep = [c for c in keep if c != tokens_col]
    return df.select(*keep, tokens_col, F.posexplode(tokens_col).alias("pos", "tok"))


def context_col(tokens_col: str, pos_col: str, offset: int) -> Column:
    """Token at pos+offset with START/END sentinel padding (0-based F.get)."""
    sentinel = START_ID if offset < 0 else END_ID
    return F.coalesce(F.get(F.col(tokens_col), F.col(pos_col) + F.lit(offset)), F.lit(sentinel))


def explode_with_context(
    df: DataFrame, k: int = 2, tokens_col: str = "tokens", keep: list[str] | None = None
) -> DataFrame:
    """Per-token rows with lag/lead context, WITHOUT materializing shifted copies.

    ``posexplode`` + inline ``F.get(tokens, pos±i)``: whole-stage codegen
    fuses the generate and the context projection into one stage, so the
    tokens array is read IN PLACE per output row and never copied — measured
    6-25x faster than zipping (2k+1) shifted array copies per doc (the zip
    form churns (2k+1)*len*4B of struct garbage through the allocator). The
    array is projected away in the same select, so it cannot leak into a
    downstream shuffle. Narrow plan: zero shuffles.
    """
    keep = keep if keep is not None else [c for c in df.columns if c != tokens_col]
    # the array is consumed in place and projected away; keep must not re-name
    # it or the final select would hit an ambiguous duplicate column
    keep = [c for c in keep if c != tokens_col]
    ex = df.select(*keep, tokens_col, F.posexplode(tokens_col).alias("pos", "tok"))
    ctx = []
    for i in range(1, k + 1):
        ctx.append(context_col(tokens_col, "pos", -i).alias(f"lag_{i}"))
        ctx.append(context_col(tokens_col, "pos", i).alias(f"lead_{i}"))
    return ex.select(*keep, "pos", "tok", *ctx)


def sessionize(
    df: DataFrame,
    entity: str,
    ts: str,
    gap_seconds: float,
    session_col: str = "session_id",
    order_extra: list[str] | None = None,
    chunk_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Gap-based session ids per entity (1-based, in event order).

    One shuffle on ``entity``; deterministic under duplicate timestamps via
    ``order_extra`` tie-break columns.

    ``chunk_col`` (a :func:`with_time_chunk` column for the same entity and
    ts): the scale path for LOW-CARDINALITY / HOT entity keys (the north
    rule's sessionize-by-source with a 55%-hot source). A per-entity ordered
    scan caps parallelism at #entities, so sessions are computed locally per
    (entity, chunk) (parallel), and a tiny per-chunk summary (first/last ts,
    #sessions) computes boundary offsets: a chunk whose first event is within
    gap_seconds of the previous chunk's last event merges its first session
    backwards. Exactly equal to the serial result; parallelism becomes
    #entities * n_chunks.
    """
    df = _require_timestamp(df, ts, "sessionize")
    _check_order_col(df, order_col)
    if chunk_col is not None:
        # the boundary merge is exact only over time-range chunks in order
        _time_chunk_geometry(df, chunk_col, entity, ts)
    tdouble = F.col(ts).cast("double")
    # order by integer micros (same ordering as the raw timestamp) so a
    # downstream rolling_count window — whose RANGE frames must sort by
    # unix_micros — can reuse this operator's sort instead of re-sorting.
    # ``order_col`` names a MATERIALIZED column holding exactly
    # unix_micros(ts): ordering by the shared attribute (instead of a
    # computed expression that window resolution re-aliases to a fresh _w0
    # per operator) is what lets a downstream window's sort requirement
    # prefix-match this operator's sort order and be elided.
    lead = F.col(order_col) if order_col is not None else F.unix_micros(F.col(ts))
    order = [lead.asc()] + [F.col(c).asc() for c in (order_extra or [])]
    if chunk_col is None:
        w = Window.partitionBy(entity).orderBy(*order)
        gap = tdouble - F.lag(tdouble, 1).over(w)
        new_sess = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
        return df.withColumn(
            session_col,
            F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )

    w_loc = Window.partitionBy(entity, chunk_col).orderBy(*order)
    gap = tdouble - F.lag(tdouble, 1).over(w_loc)
    new_sess = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    local = df.withColumn(
        "__lsess", F.sum(new_sess).over(w_loc.rowsBetween(Window.unboundedPreceding, 0)).cast("long")
    )

    summ = local.groupBy(entity, chunk_col).agg(
        F.min(tdouble).alias("__first_t"),
        F.max(tdouble).alias("__last_t"),
        F.max("__lsess").alias("__nsess"),
    )
    w_chunks = Window.partitionBy(entity).orderBy(F.col(chunk_col).asc())
    merge = (
        (F.col("__first_t") - F.lag("__last_t", 1).over(w_chunks)) <= gap_seconds
    ).cast("long")
    summ = summ.withColumn("__merge", F.coalesce(merge, F.lit(0)))
    # offset_k = sum of previous chunks' session counts minus merges up to k
    summ = summ.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__nsess").over(w_chunks.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        )
        - F.sum("__merge").over(w_chunks.rowsBetween(Window.unboundedPreceding, 0)),
    ).select(entity, chunk_col, "__offset")

    out = local.join(F.broadcast(summ), [entity, chunk_col])
    return out.withColumn(session_col, (F.col("__lsess") + F.col("__offset")).cast("long")).drop(
        "__lsess", "__offset"
    )


def _spans_us(bounds_us: dict, n_chunks: int) -> dict:
    return {k: max((mx - mn) // n_chunks, 1) for k, (mn, mx) in bounds_us.items()}


def _case_over_entities(build, bounds_us: dict, ent_col: str):
    expr = None
    for k in bounds_us:
        cond = F.col(ent_col).isNull() if k is None else (F.col(ent_col) == F.lit(k))
        expr = F.when(cond, build(k)) if expr is None else expr.when(cond, build(k))
    return expr


def _chunk_of_expr(cus, bounds_us: dict, spans: dict, n_chunks: int, ent_col: str):
    if not bounds_us:
        # no bounds (empty input): every row is chunk 0
        return F.lit(0)
    return F.coalesce(
        _case_over_entities(
            lambda k: F.greatest(
                F.least(
                    F.floor((cus - F.lit(bounds_us[k][0])) / F.lit(spans[k])).cast("int"),
                    F.lit(n_chunks - 1),
                ),
                F.lit(0),
            ),
            bounds_us,
            ent_col,
        ),
        F.lit(0),
    )


# Spark metadata rejects nested arrays: the bounds ride as one JSON string of
# [key, min_us, max_us] triples (native key types and NULL keys survive JSON)
_CHUNK_META = "marmot_time_chunk"


def _time_chunk_geometry(df: DataFrame, chunk_col: str, entity: str, ts: str) -> tuple[int, dict]:
    """``(n_chunks, {key: (min_us, max_us)})`` that :func:`with_time_chunk`
    stored on ``chunk_col``; ``ValueError`` when the column carries none or
    was built for another entity or ts column."""
    field = next((f for f in df.schema.fields if f.name == chunk_col), None)
    geo = field.metadata.get(_CHUNK_META) if field is not None else None
    if geo is None:
        raise ValueError(f"chunk_col {chunk_col!r} carries no chunk geometry; build it with with_time_chunk")
    if (geo["entity"], geo["ts"]) != (entity, ts):
        raise ValueError(f"chunk_col {chunk_col!r} chunks {geo['entity']!r} by {geo['ts']!r}, not {entity!r} by {ts!r}")
    return geo["n_chunks"], {k: (mn, mx) for k, mn, mx in json.loads(geo["bounds"])}


def with_time_chunk(
    df: DataFrame,
    entity: str,
    ts: str,
    n_chunks: int,
    bounds: dict | None = None,
    chunk_col: str = "__tchunk",
) -> DataFrame:
    """Assign each row a per-entity time-range chunk id in [0, n_chunks).

    Range chunking (not hash) keeps equal timestamps together and preserves
    order across chunks — required for exact scan merging. Bounds
    (``{entity: (min_us, max_us)}`` in integer micros, as
    :func:`entity_time_bounds` returns; None collects them) are a tiny
    per-entity min/max aggregate collected ONCE to the driver and inlined as
    literal CASE branches: a broadcast-join would re-execute per plan branch
    and add an exchange + stage per consumer. Rows whose entity is missing
    from ``bounds`` (or whose ts falls outside) clamp into chunk 0 /
    n_chunks-1 — correctness never depends on bounds being tight, only
    parallelism does. An entity whose ts is all NULL chunks as 0.

    The one way into the chunked path: the column's Spark metadata records
    its geometry (entity, ts, n_chunks, bounds); it survives projections,
    joins, grouping and checkpoints, and ``sessionize(..., chunk_col=)``
    then ``rolling_count(..., chunk_col=)`` read it and partition by
    (entity, chunk_col), so the second reuses the first's exchange. Entity
    keys other than strings, numbers or NULL raise ``ValueError``.
    """
    df = _require_timestamp(df, ts, "with_time_chunk")
    if bounds is None:
        bounds = entity_time_bounds(df, entity, ts)
    if len(bounds) > 64:
        raise ValueError(
            f"n_chunks chunking is for low-cardinality/hot entities; {entity!r} has "
            f"{len(bounds)} values — a plain per-entity window already parallelizes"
        )
    bus = {k: (mn, mx) for k, (mn, mx) in bounds.items() if mn is not None and mx is not None}
    if any(k is not None and not isinstance(k, (str, int, float)) for k in bus):
        raise ValueError(f"with_time_chunk keys must be strings, numbers or NULL, got {list(bus)}")
    triples = json.dumps([[k, mn, mx] for k, (mn, mx) in bus.items()], allow_nan=False)
    geo = {"entity": entity, "ts": ts, "n_chunks": n_chunks, "bounds": triples}
    chunk = _chunk_of_expr(F.unix_micros(F.col(ts)), bus, _spans_us(bus, n_chunks), n_chunks, entity)
    return df.withColumn(chunk_col, chunk.alias(chunk_col, metadata={_CHUNK_META: geo}))


def entity_time_bounds(df: DataFrame, entity: str, ts: str) -> dict:
    """``{entity: (min_us, max_us)}``: per-entity min/max of
    ``unix_micros(ts)`` as Python ints — one tiny aggregate, collected once.

    This is the one bounds format: ``bounds=`` of :func:`with_time_chunk`
    and ``hot_bounds_us=`` of ``asof_join``. Compute it on the CHEAPEST
    upstream frame (usually the raw scan) and pass it on: chunking only
    needs the time range per entity, and row-preserving operators upstream
    don't change it. Without precomputed bounds each of those calls collects
    its own, which re-executes the whole upstream plan at plan-build time.
    """
    df = _require_timestamp(df, ts, "entity_time_bounds")
    us = F.unix_micros(F.col(ts))
    rows = df.groupBy(entity).agg(F.min(us).alias("mn"), F.max(us).alias("mx")).collect()
    return {r[entity]: (r["mn"], r["mx"]) for r in rows}


def _rolling_chunked_frames(
    df: DataFrame,
    entity: str,
    ts: str,
    window_seconds: int,
    out_col: str,
    value_col: str | None,
    delta_type: str,
    chunk_col: str,
    order_col: str | None,
    n_chunks: int,
    bounds_us: dict,
) -> DataFrame | None:
    """Chunked rolling counts via in-chunk frames + a chunk-tail sideband.

    KEY IDENTITY (makes global offsets unnecessary): the guard below ensures
    window < chunk span, so a row's window reaches AT MOST one chunk back.
    With lcum = in-chunk cum(ts' <= t) and llt = in-chunk cum(ts' < t-W),
    the global chunk offsets CANCEL:

        rolling(t) = [coff + lcum] - [coff - cnt_ge + llt]
                   = lcum - llt + cnt_ge

    where cnt_ge counts earlier-chunk events with ts' in [t-W, chunk_start) —
    nonzero only for boundary rows (t-W before their chunk start, ~W/span of
    rows), and computable from each chunk's LAST-W tail only. So the plan is:
    ONE exchange on (entity, chunk), one WindowExec (two add-only RANGE
    frames + row_number), a tiny sideband (union of ~W/span tail events +
    probes, reverse-cumulative window), and a broadcast join-back. No totals
    aggregate, no offset spine, no full-data second pass — at scale this is
    one full shuffle of the narrow frame, full stop.

    Returns None when there are no bounds or any entity's window spans >=
    its chunk span (a row's window could then reach past the previous
    chunk); :func:`rolling_count` then runs its serial frames.

    ``order_col``: a MATERIALIZED column holding exactly unix_micros(ts)
    (same contract as :func:`sessionize`): windows then order by the shared
    attribute, so when an upstream operator already sorted by it this
    operator's sort requirement is prefix-satisfied and elided.
    """
    tus = F.col(order_col) if order_col is not None else F.unix_micros(F.col(ts))
    wus = window_seconds * 1_000_000
    spans = _spans_us(bounds_us, n_chunks)
    if not bounds_us or any(wus >= span for span in spans.values()):
        return None

    def chunk_of(cus, ent_col: str):
        return _chunk_of_expr(cus, bounds_us, spans, n_chunks, ent_col)

    delta = F.lit(1).cast("long") if value_col is None else F.col(value_col)
    w_ord = Window.partitionBy(entity, chunk_col).orderBy(tus)
    # ONE select, not three withColumns: each withColumn makes its own Window
    # logical node whose computed order key (unix_micros) is re-aliased to a
    # fresh _w0 attribute, so the order specs stop being syntactically equal
    # and CollapseWindow cannot merge them — the physical plan gets THREE
    # Sort+WindowExec passes over the stream (and the probe branch below
    # re-executes all three). From a single projection, ExtractWindowExpressions
    # groups all three frames under one (partition, order) spec: one sort,
    # one WindowExec.
    ev = df.select(
        "*",
        F.sum(delta).over(w_ord.rangeBetween(Window.unboundedPreceding, 0)).alias("__lcum"),
        F.sum(delta).over(w_ord.rangeBetween(Window.unboundedPreceding, -(wus + 1))).alias("__llt"),
        F.row_number().over(w_ord).cast("long").alias("__lrn"),
    )

    def chunk_start(chunk):
        return F.coalesce(
            _case_over_entities(
                lambda k: F.lit(bounds_us[k][0]) + chunk.cast("long") * F.lit(spans[k]),
                bounds_us, entity,
            ),
            F.lit(0).cast("long"),
        )

    start = chunk_start(F.col(chunk_col))
    p = tus - F.lit(wus)
    # chunk 0 has no earlier chunk: every event below the probe point is
    # in-chunk (clamped rows included), so llt already covers it — interior
    # formula applies and no probe is needed
    is_bnd = (p < start) & (F.col(chunk_col) > 0)

    probes = ev.filter(is_bnd).select(
        F.col(entity).alias("__ent"), p.alias("__tus"), F.lit(0).alias("__side"),
        F.col(chunk_col).alias("__pchunk"), F.col("__lrn").alias("__prn"),
        F.lit(None).cast(delta_type).alias("__delta"),
    )
    # sideband events: only each chunk's LAST-W tail can be >= some probe
    # point (plus loose-bounds clamped strays) — chunk_of(ts + W) names the
    # chunk whose probes the event can serve; keep iff ts < that chunk's
    # start (i.e. the event lies strictly before the served chunk)
    tail = df.filter(tus < chunk_start(chunk_of(tus + F.lit(wus), entity))).select(
        F.col(entity).alias("__ent"), tus.alias("__tus"), F.lit(1).alias("__side"),
        F.lit(None).cast("int").alias("__pchunk"), F.lit(None).cast("long").alias("__prn"),
        delta.cast(delta_type).alias("__delta"),
    )
    # reverse-cumulative count within (entity, served chunk): at a probe row,
    # sum(delta) over the DESC stream = events with ts >= probe point. Events
    # sort before probes at equal ts (side desc) so ts == t-W is included —
    # the window frame [t-W, t] is closed on the left.
    merged = tail.unionByName(probes).withColumn(
        "__k2", chunk_of(F.col("__tus") + F.lit(wus), "__ent")
    )
    w2 = (
        Window.partitionBy("__ent", "__k2")
        .orderBy(F.col("__tus").desc(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    probe_res = (
        merged.withColumn("__ge", F.coalesce(F.sum("__delta").over(w2), F.lit(0).cast(delta_type)))
        .filter(F.col("__side") == 0)
        .select("__ent", "__pchunk", "__prn", F.col("__ge").alias("__pge"))
    )

    out = ev.join(
        F.broadcast(probe_res),
        (ev[entity] == probe_res["__ent"])
        & (ev[chunk_col] == probe_res["__pchunk"])
        & (ev["__lrn"] == probe_res["__prn"]),
        "left",
    )
    result = (
        F.col("__lcum")
        - F.coalesce(F.col("__llt"), F.lit(0).cast(delta_type))
        + F.coalesce(F.col("__pge"), F.lit(0).cast(delta_type))
    )
    if value_col is None:
        result = result.cast("long")
    return out.select(*[F.col(c) for c in df.columns], result.alias(out_col))


def rolling_count(
    df: DataFrame,
    entity: str,
    ts: str,
    window_seconds: int,
    out_col: str = "rolling_n",
    value_col: str | None = None,
    strategy: str = "difference",
    chunk_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Event-time rolling count (or sum of value_col) over the trailing window.

    Frame: [ts - window_seconds, ts] inclusive, per entity. Equal-ts rows
    share the same value (SQL RANGE semantics — the DuckDB oracle is exact).
    Three paths:

    * ``strategy="range"``: the naive sliding RANGE frame — the semantics
      reference the tests compare against. Spark's WindowExec recomputes a
      sliding frame from scratch per row, O(n * rows_in_window), which
      degenerates on dense timestamps.
    * ``strategy="difference"`` (default): two ADD-ONLY range frames over
      integer microseconds,
          rolling(t) = cum_le(t) - cnt_lt(t - W)
      with cum_le = [unbounded, 0] and cnt_lt = [unbounded, -(W*1e6 + 1)]
      (strict < via the -1µs on an integer domain), evaluated in ONE
      WindowExec sharing one sort: one shuffle on ``entity``, no joins.
      Spark's UnboundedPreceding frames advance their upper pointer
      monotonically (O(n)), unlike sliding frames which rescan.
    * ``strategy="difference"`` with ``chunk_col``: the same frames per
      (entity, time chunk) plus a chunk-tail sideband
      (:func:`_rolling_chunked_frames`) — the scale path for hot,
      low-cardinality entities, on the geometry a :func:`with_time_chunk`
      column recorded (as for :func:`sessionize`). When the window reaches
      a whole chunk span it falls back to the serial frames above (same
      result, parallelism capped at #entities).

    ``order_col`` (difference paths): a caller-MATERIALIZED column holding
    exactly ``unix_micros(ts)``. Ordering windows by the shared attribute
    (instead of a computed expression that resolution re-aliases per
    operator) lets adjacent window operators collapse into one WindowExec
    and lets an upstream sort on the same attribute satisfy this operator's
    ordering requirement (see :func:`sessionize`).
    """
    df = _require_timestamp(df, ts, "rolling_count")
    _check_order_col(df, order_col)
    geometry = _time_chunk_geometry(df, chunk_col, entity, ts) if chunk_col is not None else None
    if strategy == "range":
        w = (
            Window.partitionBy(entity)
            .orderBy(F.col(ts).cast("double"))
            .rangeBetween(-int(window_seconds), 0)
        )
        if value_col is None:
            return df.withColumn(out_col, F.count(F.lit(1)).over(w).cast("long"))
        return df.withColumn(out_col, F.sum(F.col(value_col)).over(w))
    if strategy != "difference":
        raise ValueError(f"unknown strategy {strategy!r}")

    delta_type = "long" if value_col is None else dict(df.dtypes)[value_col]
    if geometry is not None:
        out = _rolling_chunked_frames(
            df, entity, ts, int(window_seconds), out_col, value_col, delta_type,
            chunk_col, order_col, *geometry,
        )
        if out is not None:
            return out
        # window >= chunk span: serial frames partitioned by entity

    tus = F.col(order_col) if order_col is not None else F.unix_micros(F.col(ts))
    w_le = Window.partitionBy(entity).orderBy(tus).rangeBetween(Window.unboundedPreceding, 0)
    w_lt = Window.partitionBy(entity).orderBy(tus).rangeBetween(
        Window.unboundedPreceding, -(int(window_seconds) * 1_000_000 + 1)
    )
    delta = F.lit(1).cast("long") if value_col is None else F.col(value_col)
    result = F.sum(delta).over(w_le) - F.coalesce(
        F.sum(delta).over(w_lt), F.lit(0).cast(delta_type)
    )
    if value_col is None:
        result = result.cast("long")
    return df.withColumn(out_col, result)


def session_features(
    df: DataFrame,
    entity: str,
    ts: str,
    session_col: str = "session_id",
    value_col: str | None = None,
    order_extra: list[str] | None = None,
    prefix: str = "sess_",
) -> DataFrame:
    """Per-SESSION aggregate features joined back onto every event row.

    Given a frame already labeled by :func:`sessionize`, adds:

    * ``{p}n``      — events in this event's session,
    * ``{p}dur_us`` — session duration (last - first event, micros),
    * ``{p}idx``    — this event's 1-based position within its session
      (``order_extra`` tie-breaks duplicate timestamps, same contract as
      sessionize),
    * ``{p}sum``    — sum of ``value_col`` over the session (omitted when
      ``value_col`` is None); integer-exact when the input is quantized.

    Plan shape: windows partitioned by (entity, session). Because
    ``hashpartitioning(entity)`` already CLUSTERS rows by any superset of
    its keys, these windows reuse sessionize's single Exchange — Catalyst
    inserts only a sort, never a second shuffle — so session features are
    free riders on the sessionize pass (the fused plan is pinned by
    tests/test_ops_surface.py). The unbounded frame over (entity, session)
    is safe at web scale: a session is gap-bounded, so no partition-sized
    frame exists.
    """
    df = _require_timestamp(df, ts, "session_features")
    p = prefix
    us = F.unix_micros(F.col(ts))
    w = Window.partitionBy(entity, session_col)
    ws = w.orderBy(*[us.asc()] + [F.col(c).asc() for c in (order_extra or [])])
    out = (
        df.withColumn(f"{p}n", F.count(F.lit(1)).over(w))
        .withColumn(f"{p}dur_us", F.max(us).over(w) - F.min(us).over(w))
        .withColumn(f"{p}idx", F.row_number().over(ws).cast("long"))
    )
    if value_col is not None:
        out = out.withColumn(f"{p}sum", F.sum(value_col).over(w))
    return out


def rolling_distinct(
    df: DataFrame,
    entity: str,
    ts: str,
    window_seconds: int,
    value_col: str,
    out_col: str = "rolling_distinct",
) -> DataFrame:
    """Event-time rolling DISTINCT count of ``value_col`` over the trailing
    window ([ts - W, ts] inclusive, per entity — same frame contract as
    :func:`rolling_count`).

    Distinctness is not subtractive, so rolling_count's two-growing-frames
    difference trick does not apply; this is the honest RANGE-frame
    ``size(collect_set(...))`` — O(rows-in-frame) work and state per row,
    the right plan when the frame is naturally bounded (events per entity
    per hour), which is the feature-engineering case ("distinct event types
    this user touched in the last hour"). For unbounded frames at corpus
    scale, use the mergeable sketch path (operators/sketch.py — HLL per
    time bucket, union-merged) and accept the approximation; this exact
    form is deliberately not chunked.

    Shares the (entity) Exchange and the integer-micros sort with
    rolling_count's fast path — composing both adds no shuffle.
    """
    df = _require_timestamp(df, ts, "rolling_distinct")
    us = F.unix_micros(F.col(ts))
    w = (
        Window.partitionBy(entity)
        .orderBy(us.asc())
        .rangeBetween(-int(window_seconds) * 1_000_000, 0)
    )
    return df.withColumn(out_col, F.size(F.collect_set(value_col).over(w)).cast("long"))
