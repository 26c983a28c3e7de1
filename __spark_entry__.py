"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 (plus the training-data-pipeline extras) is
registered here as a ``queries()`` entry with a matching ``oracle_sql()``
DuckDB statement over the same parquet tables. All numeric outputs use exact
integer forms (epoch micros, cents, ppm, integer hashes) so the value-hash
comparison is engine-exact — no float-summation-order hazards.

The per-word token id and every hash are plain integer arithmetic reproduced
verbatim in the SQL (no engine-specific hash functions), so Spark and DuckDB
compute identical values from identical bytes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from marmot_spark import UNALIGNED_ID
from marmot_spark.functions.binarize import binarize, fit_vocab
from marmot_spark.functions.text import (
    FP_MOD,
    FP_MULT,
    LANG_MARKERS,
    STOPWORDS,
)
from marmot_spark.materialize import materialize
from marmot_spark.operators.alignment import (
    join_alignments,
    with_aligned_token,
    with_pseudo_ref_membership,
)
from marmot_spark.operators.asof import asof_join
from marmot_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_col,
    simhash_hamming_pairs,
)
from marmot_spark.operators.ngrams import ngram_counts, with_ngram_membership
from marmot_spark.operators.similarity import (
    brute_force_topk,
    embedding_cosine_pairs,
    ivf_topk,
    lsh_topk,
)
from marmot_spark.operators.windows import (
    explode_tokens,
    explode_with_context,
    rolling_count,
    sessionize,
    with_time_chunk,
)

P31 = 2_147_483_647
MULT = 2_654_435_761

# ---------------------------------------------------------------------------
# shared derivations (Spark side + exact SQL mirror)
# ---------------------------------------------------------------------------


def _tok_id(x):
    """Deterministic per-word int id — arithmetic only, mirrored in SQL."""
    return (
        (F.ascii(F.substring(x, F.lit(1), F.lit(1))) * 131
         + F.ascii(F.substring(x, F.length(x), F.lit(1)))
         + F.length(x) * 7) % 1000
    ).cast("int")


TOK_SQL = (
    "list_transform(string_split(text, ' '), x -> "
    "CAST((ascii(substr(x,1,1))*131 + ascii(substr(x,length(x),1)) + 7*length(x)) % 1000 AS INT))"
)
DOCS_T = f"docs_t AS (SELECT doc_id, lang, source, n_chars, text, {TOK_SQL} AS tokens FROM documents)"
DOCS_E = (
    "docs_e AS (SELECT doc_id, lang, tokens, CAST(u.p AS INT) AS pos, tokens[CAST(u.p AS INT)+1] AS tok "
    "FROM docs_t, UNNEST(range(length(tokens))) AS u(p))"
)


def _no_ntz(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Source-boundary timestamp normalization (the round-1 driver gate's one
    failure class): the driver's parquet stores naive timestamps, which a
    default Spark 4 session reads as TIMESTAMP_NTZ — rejected by unix_micros,
    event-time windows, and withWatermark. Pin the session to UTC (so the
    cast is the identity wall-clock->instant mapping, matching DuckDB's
    epoch_us of the same naive value) and cast every NTZ column to TIMESTAMP.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _no_ntz(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).withColumn(
        "tokens", F.transform(F.split("text", " "), _tok_id)
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _no_ntz(spark, spark.read.parquet(f"{sf_dir}/events.parquet"))


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _no_ntz(spark, spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def _cents(c) -> F.Column:
    return F.floor(F.col(c).cast("double") * 100 + F.lit(0.5)).cast("long")


def _fresh_tmpdir(key: str, sf: str) -> str:
    """Per-(query, sf, pid) scratch dir under /tmp, reaped across runs.

    The pid suffix prevents two concurrent driver runs from rmtree-ing each
    other; that alone would leak one dir per run forever, so before creating
    our own dir we glob-remove stale SIBLINGS (same key+sf, other pids) whose
    owning pid is DEAD, plus a >24 h mtime backstop that covers pid reuse
    making a dead run's dir look live. The dir must outlive this function
    (the returned DataFrame is collected by the caller later), so
    cleanup-on-exit is not an option here.
    """
    import glob
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    stem = f"{key}_{os.getuid()}_{hashlib.sha1(sf.encode()).hexdigest()[:12]}"
    d = os.path.join(tempfile.gettempdir(), f"{stem}_{os.getpid()}")
    now = time.time()
    for sib in glob.glob(os.path.join(tempfile.gettempdir(), f"{stem}_*")):
        try:
            if sib != d:
                # reap only when the owning pid is DEAD (mtime alone raced: a
                # >1h streaming query on this steal-prone host would lose its
                # input files to a concurrently started run). The >24h mtime
                # backstop covers pid reuse making a dead run's dir look live.
                pid = os.path.basename(sib).rsplit("_", 1)[-1]
                owner_alive = pid.isdigit() and os.path.exists(f"/proc/{pid}")
                if owner_alive and now - os.path.getmtime(sib) <= 86400:
                    continue
            shutil.rmtree(sib, ignore_errors=True)
        except OSError:
            pass
    os.makedirs(d)
    return d


_CENTS_SQL = "CAST(floor(CAST({c} AS DOUBLE)*100 + 0.5) AS BIGINT)"

# shingle of k consecutive token ids as one int hash (fold, mod P31) — SQL form
# (explicit BIGINT casts: DuckDB does not promote INT32 on overflow)
_T = "CAST(tokens[CAST(i AS INT)+{j}] AS BIGINT)"
_SH3 = (
    f"list_transform(range(length(tokens)-2), i -> "
    f"(((({_T.format(j=1)}+1) % 2147483647) * 1000003 + {_T.format(j=2)}+1) % 2147483647 "
    f"* 1000003 + {_T.format(j=3)}+1) % 2147483647)"
)
_SH2 = (
    f"list_transform(range(length(tokens)-1), i -> "
    f"((({_T.format(j=1)}+1) % 2147483647) * 1000003 + {_T.format(j=2)}+1) % 2147483647)"
)


def _sh_sql(k: int) -> str:
    """Generic k-shingle fold mirroring dedup.shingle_hashes_col: acc =
    (acc*1000003 + tok+1) mod P31 over k consecutive tokens (same expansion
    as the hand-written _SH2/_SH3)."""
    expr = "0"
    for j in range(1, k + 1):
        expr = f"(({expr}) * 1000003 + {_T.format(j=j)}+1) % 2147483647"
    return f"list_transform(range(length(tokens)-{k - 1}), i -> {expr})"


def _mh_sql(k: int) -> str:
    ck = ((2 * k + 1) * MULT) % P31
    return f"list_min(list_transform(sh, s -> ((CAST(s AS BIGINT)+1)*{ck} + {k}) % {P31}))"


def _quant_sql(col: str) -> str:
    return f"list_transform({col}, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT))"


def _in_list_sql(words) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline on sf0.001: per-token context windows + n-gram
    membership + as-of error backfill + sessionize + rolling counts, one DAG.

    The feature DAG comes from the SHARED construction site
    (marmot_spark/plans/flagship.py::flagship_features — the same function
    the sf0.1 bench flagship runs, so the smoke gate and the bench gate
    cannot drift). At this smoke scale the serial knobs apply (n_chunks=1,
    no hot keys); the n-gram membership decoration is entry-specific."""
    from marmot_spark.plans.flagship import flagship_features

    sf = "/root/testdata/sf0.001"
    docs = _docs(spark, sf).withColumn(
        "seq_ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 600)
    ).withColumn("user_id", F.col("doc_id") % 20)
    ev = _events(spark, sf)
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"), F.col("event_id").alias("err_event_id"),
        F.col("value").alias("err_value"),
    )
    dict2 = ngram_counts(docs, "tokens", 2).filter(F.col("count") >= 3).select("ngram").withColumn("n", F.lit(2))
    ex = flagship_features(
        docs.withColumn("__toks", F.col("tokens")), errors,
        keys=["doc_id", "user_id", "source", "lang"], ts_col="seq_ts",
        entity_col="source", asof_on="user_id", right_ts="err_ts",
        payload=["err_value"], tie_break="err_event_id",
        rolling_window_s=7200, session_gap_s=3600.0, order_extra=["doc_id"],
        n_chunks=1, k_context=2, extra_keep=["__toks"],
    ).withColumnRenamed("__toks", "tokens")
    ex = with_ngram_membership(ex, dict2, max_n=2)
    return ex.select(
        "doc_id", "pos", "tok", "lag_1", "lag_2", "lead_1", "lead_2",
        "in_lm_2",
        F.col("session_id").cast("long").alias("session_id"),
        F.col("rolling_docs").cast("long").alias("rolling_docs"),
        "err_value", "lang", "source",
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _q_w1_context_window(spark, sf):
    ex = explode_with_context(_docs(spark, sf), k=2, keep=["doc_id"])
    return ex.select(
        "doc_id", "pos", "tok",
        F.col("lag_1").cast("int").alias("lag_1"), F.col("lag_2").cast("int").alias("lag_2"),
        F.col("lead_1").cast("int").alias("lead_1"), F.col("lead_2").cast("int").alias("lead_2"),
    )


_SQL_W1 = f"""
WITH {DOCS_T}, {DOCS_E}
SELECT doc_id, pos, tok,
  CAST(COALESCE(CASE WHEN pos >= 1 THEN tokens[pos] END, -1) AS INT)   AS lag_1,
  CAST(COALESCE(CASE WHEN pos >= 2 THEN tokens[pos-1] END, -1) AS INT) AS lag_2,
  CAST(COALESCE(tokens[pos+2], -2) AS INT) AS lead_1,
  CAST(COALESCE(tokens[pos+3], -2) AS INT) AS lead_2
FROM docs_e
"""


def _q_w4_lag_lead(spark, sf):
    """W4 + the leakage-safe encoders (operators/encoders.py) in ONE fused
    per-entity window pass: lag/lead, strictly-past expanding target
    encoding (te_cnt/te_sum/te_smooth_q — empirical-Bayes smoothed, integer
    exact), and the dyadic decay sum over the last 8 prior values
    (decay8_q — power-of-two weights, BIGINT exact). All on the same
    (user_id, ts, event_id) spec, so Catalyst plans a single Exchange +
    WindowExec (pinned by tests/test_encoders.py)."""
    from marmot_spark.operators.encoders import decay_features, target_encode_past

    ev = _events(spark, sf).withColumn("value_c", _cents("value"))
    ev = target_encode_past(ev, "user_id", "ts", "value_c", order_extra=["event_id"])
    ev = decay_features(
        ev, "user_id", "ts", "value_c", k=8, order_extra=["event_id"], out_col="decay8_q"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.lag("value_c", 1).over(w).alias("prev_value_c"),
        "te_cnt", "te_sum", "te_smooth_q", "decay8_q",
    )


_W4_DECAY_SQL = " + ".join(
    f"COALESCE(lag(vc, {j}) OVER w, 0) * {1 << (8 - j)}" for j in range(1, 9)
)
_SQL_W4 = f"""
WITH ev AS (SELECT *, {_CENTS_SQL.format(c='value')} AS vc FROM events),
pr AS (SELECT (CAST(sum(vc) AS BIGINT) * 1000000) // greatest(count(vc), 1) AS prior_q FROM ev)
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  lag(event_type) OVER w AS prev_type,
  lead(event_type) OVER w AS next_type,
  lag(vc) OVER w AS prev_value_c,
  count(vc) OVER wp AS te_cnt,
  CAST(COALESCE(sum(vc) OVER wp, 0) AS BIGINT) AS te_sum,
  CAST((CAST(COALESCE(sum(vc) OVER wp, 0) AS BIGINT) * 1000000 + 10 * pr.prior_q)
    // (count(vc) OVER wp + 10) AS BIGINT) AS te_smooth_q,
  CAST({_W4_DECAY_SQL} AS BIGINT) AS decay8_q
FROM ev, pr
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
  wp AS (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def _q_w6_sessionize(spark, sf):
    ev = sessionize(_events(spark, sf), "user_id", "ts", 1800.0, order_extra=["event_id"])
    return ev.select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "session_id")


_SQL_W6 = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800*1000000 THEN 1 ELSE 0 END)
       OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM (
  SELECT *, epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
"""


def _q_a4_rolling_count(spark, sf):
    # one MATERIALIZED order key for both rolling passes: with a shared order
    # attribute the two adjacent Window nodes have identical (partition,
    # order) specs, so CollapseWindow fuses all four frames into ONE
    # WindowExec over one sort (each call ordering by its own computed
    # unix_micros expression planned two Sort+WindowExec passes)
    ev = _events(spark, sf).withColumn("value_c", _cents("value"))
    ev = ev.withColumn("__ous", F.unix_micros(F.col("ts")))
    ev = rolling_count(ev, "user_id", "ts", 3600, "rolling_n", order_col="__ous")
    ev = rolling_count(ev, "user_id", "ts", 3600, "rolling_value_c", value_col="value_c", order_col="__ous")
    return ev.select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "rolling_n", "rolling_value_c")


_SQL_A4 = f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  CAST(count(*) OVER w AS BIGINT) AS rolling_n,
  CAST(sum({_CENTS_SQL.format(c='value')}) OVER w AS BIGINT) AS rolling_value_c
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def _errors(spark, sf):
    return _events(spark, sf).filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"), F.col("event_id").alias("err_event_id"),
        _cents("value").alias("err_value_c"),
    )


def _q_j2_asof_backfill(spark, sf):
    out = asof_join(
        _events(spark, sf), _errors(spark, sf), on="user_id", left_ts="ts", right_ts="err_ts",
        payload=["err_value_c"], tie_break="err_event_id",
    )
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("matched_ts").alias("err_ts_us"), "err_value_c",
    )


_SQL_J2 = f"""
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
  epoch_us(l.err_ts) AS err_ts_us, l.err_value_c
FROM events e
ASOF LEFT JOIN (
  SELECT user_id, ts AS err_ts, {_CENTS_SQL.format(c='value')} AS err_value_c
  FROM events WHERE event_type = 'error'
) l ON e.user_id = l.user_id AND e.ts >= l.err_ts
"""


def _q_j2_asof_tolerance(spark, sf):
    out = asof_join(
        _events(spark, sf), _errors(spark, sf), on="user_id", left_ts="ts", right_ts="err_ts",
        payload=["err_value_c"], tie_break="err_event_id", tolerance_us=600_000_000,
    )
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("matched_ts").alias("err_ts_us"), "err_value_c",
    )


_SQL_J2_TOL = f"""
SELECT event_id, user_id, ts_us,
  CASE WHEN err_ts_us >= ts_us - 600000000 THEN err_ts_us END AS err_ts_us,
  CASE WHEN err_ts_us >= ts_us - 600000000 THEN err_value_c END AS err_value_c
FROM ({_SQL_J2})
"""


def _q_j2_asof_forward(spark, sf):
    """J2 dual: FORWARD as-of — for each event, the NEXT error at or after
    it (pandas merge_asof direction='forward'), via time reflection through
    the backward kernel. Oracle: DuckDB ASOF with `e.ts <= l.err_ts`."""
    from marmot_spark.operators.asof import asof_join_forward

    out = asof_join_forward(
        _events(spark, sf), _errors(spark, sf), on="user_id", left_ts="ts",
        right_ts="err_ts", payload=["err_value_c"], tie_break="err_event_id",
    )
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("matched_ts").alias("err_ts_us"), "err_value_c",
    )


_SQL_J2_FWD = f"""
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
  epoch_us(l.err_ts) AS err_ts_us, l.err_value_c
FROM events e
ASOF LEFT JOIN (
  SELECT user_id, ts AS err_ts, {_CENTS_SQL.format(c='value')} AS err_value_c
  FROM events WHERE event_type = 'error'
) l ON e.user_id = l.user_id AND e.ts <= l.err_ts
"""


def _q_j2_asof_nearest(spark, sf):
    """J2 completion: NEAREST as-of (pandas merge_asof direction='nearest') —
    for each event, the error closest in time on EITHER side; equal distance
    resolves backward (the leakage-safe side). Composes the two verified
    directional kernels (operators/asof.py::asof_join_nearest). Oracle: both
    DuckDB ASOF directions joined per event + a distance CASE."""
    from marmot_spark.operators.asof import asof_join_nearest

    out = asof_join_nearest(
        _events(spark, sf), _errors(spark, sf), on="user_id", left_ts="ts",
        right_ts="err_ts", payload=["err_value_c"], tie_break="err_event_id",
    )
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("matched_ts").alias("err_ts_us"), "err_value_c",
    )


_SQL_J2_NEAREST = f"""
WITH b AS ({_SQL_J2}), f AS ({_SQL_J2_FWD})
SELECT b.event_id, b.user_id, b.ts_us,
  CASE WHEN b.err_ts_us IS NOT NULL AND (f.err_ts_us IS NULL
            OR b.ts_us - b.err_ts_us <= f.err_ts_us - f.ts_us)
       THEN b.err_ts_us ELSE f.err_ts_us END AS err_ts_us,
  CASE WHEN b.err_ts_us IS NOT NULL AND (f.err_ts_us IS NULL
            OR b.ts_us - b.err_ts_us <= f.err_ts_us - f.ts_us)
       THEN b.err_value_c ELSE f.err_value_c END AS err_value_c
FROM b JOIN f ON b.event_id = f.event_id
"""


def _q_j2_asof_chain(spark, sf):
    """J2 feature-store form: ONE event spine, TWO feature tables, each
    joined point-in-time independently (operators/encoders.py::asof_chain —
    errors and purchases as separate as-of sources, per-table match
    instants preserved via ts_out renames). The chain's error leg must agree
    with the single-table backward kernel; the purchase leg certifies that a
    second table composes with no payload/ts collision. Oracle: two chained
    DuckDB ASOF LEFT JOINs."""
    from marmot_spark.operators.encoders import asof_chain

    ev = _events(spark, sf)
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts"), F.col("event_id").alias("buy_event_id"),
        _cents("value").alias("buy_value_c"),
    )
    out = asof_chain(
        ev, "ts",
        [
            {"right": _errors(spark, sf), "on": "user_id", "right_ts": "err_ts",
             "payload": ["err_value_c"], "tie_break": "err_event_id", "ts_out": "err_mts"},
            {"right": buys, "on": "user_id", "right_ts": "buy_ts",
             "payload": ["buy_value_c"], "tie_break": "buy_event_id", "ts_out": "buy_mts"},
        ],
    )
    return out.select(
        "event_id",
        F.unix_micros("err_mts").alias("err_ts_us"),
        F.col("err_value_c"),
        F.unix_micros("buy_mts").alias("buy_ts_us"),
        F.col("buy_value_c"),
    )


_SQL_J2_CHAIN = f"""
SELECT e.event_id,
  epoch_us(l.err_ts) AS err_ts_us, l.err_value_c,
  epoch_us(b.buy_ts) AS buy_ts_us, b.buy_value_c
FROM events e
ASOF LEFT JOIN (
  SELECT user_id, ts AS err_ts, {_CENTS_SQL.format(c='value')} AS err_value_c
  FROM events WHERE event_type = 'error'
) l ON e.user_id = l.user_id AND e.ts >= l.err_ts
ASOF LEFT JOIN (
  SELECT user_id, ts AS buy_ts, {_CENTS_SQL.format(c='value')} AS buy_value_c
  FROM events WHERE event_type = 'purchase'
) b ON e.user_id = b.user_id AND e.ts >= b.buy_ts
"""


def _q_j2_asof_merge(spark, sf):
    """J2 via the EXPLICIT Arrow merge kernel (strategy='merge'):
    co-partitioned sortWithinPartitions + vectorized grouped forward-fill in
    mapInPandas with cross-batch carry — the north star's sort-merge shape,
    verified against the same DuckDB ASOF oracle as the window strategy."""
    out = asof_join(
        _events(spark, sf), _errors(spark, sf), on="user_id", left_ts="ts", right_ts="err_ts",
        payload=["err_value_c"], tie_break="err_event_id", strategy="merge",
    )
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("matched_ts").alias("err_ts_us"), "err_value_c",
    )


def _q_a4_rolling_chunked(spark, sf):
    """A4 through the chunked scale path (n_chunks=4) on a LOW-CARDINALITY
    hot entity (event_type, 5 values — the scenario chunking exists for):
    per-entity time-range chunks, in-chunk frames + chunk-tail sideband.
    The driver gate pins chunked == SQL."""
    ev = _events(spark, sf).withColumn("value_c", _cents("value"))
    # one plan-time bounds collect; both passes partition by the one column
    ev = with_time_chunk(ev, "event_type", "ts", 4)
    ev = rolling_count(ev, "event_type", "ts", 3600, "rolling_n", chunk_col="__tchunk")
    ev = rolling_count(
        ev, "event_type", "ts", 3600, "rolling_value_c", value_col="value_c", chunk_col="__tchunk"
    )
    return ev.select("event_id", "event_type", F.unix_micros("ts").alias("ts_us"), "rolling_n", "rolling_value_c")


def _q_w6_sessionize_chunked(spark, sf):
    """W6 through the chunked scale path (n_chunks=4) on event_type: local
    sessions per time chunk + boundary-merge offsets; gate pins chunked==SQL."""
    ev = with_time_chunk(_events(spark, sf), "event_type", "ts", 4)
    ev = sessionize(ev, "event_type", "ts", 1800.0, order_extra=["event_id"], chunk_col="__tchunk")
    return ev.select("event_id", "event_type", F.unix_micros("ts").alias("ts_us"), "session_id")


def _q_j1_alignment_join(spark, sf):
    docs = _docs(spark, sf)
    src = docs.select((F.col("doc_id") - 1).alias("doc_id"), F.col("tokens").alias("src_tokens"))
    ex = explode_tokens(docs, keep=["doc_id"])
    ex = ex.withColumn("align", F.transform(F.sequence(F.lit(0), F.size("tokens") - 1), lambda i: F.array(i)))
    ex = join_alignments(ex, src)
    ex = with_aligned_token(ex, k_context=1)
    return ex.select("doc_id", "pos", "tok", "aligned_tok", "aligned_lag_1", "aligned_lead_1")


_SQL_J1 = f"""
WITH {DOCS_T}, {DOCS_E}
SELECT e.doc_id, e.pos, e.tok,
  CAST(COALESCE(b.tokens[e.pos+1], {UNALIGNED_ID}) AS INT) AS aligned_tok,
  CAST(CASE WHEN b.doc_id IS NULL THEN {UNALIGNED_ID}
            WHEN e.pos >= 1 THEN COALESCE(b.tokens[e.pos], -1) ELSE -1 END AS INT) AS aligned_lag_1,
  CAST(CASE WHEN b.doc_id IS NULL THEN {UNALIGNED_ID}
            ELSE COALESCE(b.tokens[e.pos+2], -2) END AS INT) AS aligned_lead_1
FROM docs_e e LEFT JOIN docs_t b ON b.doc_id = e.doc_id + 1
"""


_SQL_A4_CHUNKED = f"""
SELECT event_id, event_type, epoch_us(ts) AS ts_us,
  CAST(count(*) OVER w AS BIGINT) AS rolling_n,
  CAST(sum({_CENTS_SQL.format(c='value')}) OVER w AS BIGINT) AS rolling_value_c
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


_SQL_W6_CHUNKED = """
SELECT event_id, event_type, epoch_us(ts) AS ts_us,
  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800*1000000 THEN 1 ELSE 0 END)
       OVER (PARTITION BY event_type ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM (
  SELECT *, epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
  FROM events
)
"""


def _q_text_rarity_score(spark, sf):
    """Rarity-based quality signal (LLM-pipeline filter): global frequency
    rank per token id (1 = most frequent; ties by token id), then per-doc
    sum and max of ranks. Integer-exact. The rank is computed by the
    DISTRIBUTED exact dense-rank (operators/rank.py) — a naive
    row_number().over(Window.orderBy(...)) would plan as an Exchange
    SinglePartition sort of the whole vocabulary through one task (banned
    plan-wide by tests/test_plan_audit.py). The vocab->rank dict broadcasts
    back to the exploded tokens (vocabulary-sized, not corpus-sized)."""
    from marmot_spark.operators.rank import frequency_rank

    docs = _docs(spark, sf)
    ex = explode_tokens(docs, keep=["doc_id"])
    counts = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    ranks = frequency_rank(counts, id_col="tok", cnt_col="cnt", out_col="rank")
    return (
        ex.join(F.broadcast(ranks), "tok")
        .groupBy("doc_id")
        .agg(F.sum("rank").alias("rarity_sum"), F.max("rank").alias("rarity_max"),
             F.count(F.lit(1)).alias("n_tok"))
    )


_SQL_RARITY = f"""
WITH {DOCS_T}, {DOCS_E},
counts AS (SELECT tok, count(*) AS cnt FROM docs_e GROUP BY tok),
ranks AS (SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rank FROM counts)
SELECT e.doc_id, CAST(sum(r.rank) AS BIGINT) AS rarity_sum,
  CAST(max(r.rank) AS BIGINT) AS rarity_max, CAST(count(*) AS BIGINT) AS n_tok
FROM docs_e e JOIN ranks r USING (tok)
GROUP BY e.doc_id
"""


def _q_pivot_counts(spark, sf):
    """Dynamic pivot: per-user event counts spread into one column per event
    type (deterministic column set via explicit pivot values)."""
    types = ["click", "view", "purchase", "signup", "error"]
    ev = _events(spark, sf)
    out = ev.groupBy("user_id").pivot("event_type", types).count()
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types]
    )


_SQL_PIVOT = """
SELECT user_id,
  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""


def _q_s5_external_pipe(spark, sf):
    """S5 external-tool source: stream each partition's text through a real
    subprocess (`tr a-z A-Z`) inside mapInPandas — the fast_align/TreeTagger
    integration shape — and verify the round-trip against SQL upper(). Valid
    because the synthetic corpus is pure ASCII (octet_length == length)."""
    from marmot_spark.sources.external import pipe_text

    d = _tbl(spark, sf, "documents").select("doc_id", "text")
    out = pipe_text(d, "text", ["tr", "a-z", "A-Z"], out_col="upper_text")
    return out.select("doc_id", "upper_text")


_SQL_S5 = """
SELECT doc_id, upper(text) AS upper_text FROM documents
"""


def _q_s5_external_worker(spark, sf):
    """S5 external-tool source, LONG-LIVED WORKER mode: one subprocess per
    PARTITION (`per_partition=True`), rows streamed through it line-by-line
    with per-line flush/read — the fast_align force-align / TreeTagger pipe
    shape (interactive tools that keep model state loaded across lines, where
    a per-batch respawn would reload the model each batch). `sed -u` is the
    sandbox stand-in for such a line-buffered interactive tool; the batch
    `tr` variant above covers the spawn-per-batch mode. Worker death
    mid-partition, trailing output, and nonzero exit are all hard errors
    (sources/external.py)."""
    from marmot_spark.sources.external import pipe_text

    d = _tbl(spark, sf, "documents").select("doc_id", "text")
    out = pipe_text(d, "text", ["sed", "-u", "s/ /_/g"], out_col="snake_text",
                    per_partition=True)
    return out.select("doc_id", "snake_text")


_SQL_S5_WORKER = """
SELECT doc_id, replace(text, ' ', '_') AS snake_text FROM documents
"""


def _q_j4_pseudo_ref(spark, sf):
    """J4: per-token membership in the doc's pseudo-reference (the doc_id+1
    document stands in as the other system's output, like J1's source)."""
    docs = _docs(spark, sf)
    refs = docs.select((F.col("doc_id") - 1).alias("doc_id"), F.col("tokens").alias("ref_tokens"))
    ex = explode_tokens(docs, keep=["doc_id"])
    out = with_pseudo_ref_membership(ex, refs)
    return out.select("doc_id", "pos", "tok", "in_pseudo_ref")


_SQL_J4 = f"""
WITH {DOCS_T}, {DOCS_E}
SELECT e.doc_id, e.pos, e.tok,
  CAST(CASE WHEN b.doc_id IS NOT NULL AND list_contains(b.tokens, e.tok)
       THEN 1 ELSE 0 END AS INT) AS in_pseudo_ref
FROM docs_e e LEFT JOIN docs_t b ON b.doc_id = e.doc_id + 1
"""


def _ngram_dict(spark, sf, n: int, min_count: int) -> DataFrame:
    return (
        ngram_counts(_docs(spark, sf), "tokens", n)
        .filter(F.col("count") >= min_count)
        .select("ngram")
        .withColumn("n", F.lit(n))
    )


def _ngram_dict_multi(spark, sf, specs) -> DataFrame:
    """All requested (n, min_count) n-gram dictionaries from ONE corpus
    aggregation (same rows as unioning per-n ``_ngram_dict`` calls).

    Per-n construction scans + tokenizes + aggregates the corpus once PER
    ORDER (w3 paid 3 full passes); here every order's grams ride a single
    Generate into one groupBy(n, ngram). The dictionary (vocabulary-sized)
    is materialized lazily: without the pin Catalyst pushes each consumer's
    ``n = i`` predicate below the aggregate, the three branch subtrees stop
    being plan-identical, and ReuseExchange cannot dedupe them — each
    membership join would re-explode the whole corpus."""
    from marmot_spark.operators.ngrams import ngrams_col

    docs = _docs(spark, sf)

    # factory, NOT a default-arg lambda: pyspark treats a 2-parameter lambda
    # in F.transform as (element, index) — a `lambda g, n=n:` would silently
    # bind n to the array index
    def _tagged(n):
        return F.transform(
            ngrams_col("tokens", n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("ngram")),
        )

    parts = [_tagged(n) for n, _ in specs]
    counts = (
        docs.select(F.explode(F.concat(*parts)).alias("__s"))
        .groupBy(F.col("__s.n").alias("n"), F.col("__s.ngram").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    keep = None
    for n, mc in specs:
        c = (F.col("n") == n) & (F.col("count") >= mc)
        keep = c if keep is None else keep | c
    return materialize(counts.filter(keep).select("ngram", "n"), eager=False)


_GRAMS_SQL = """
grams{n} AS (
  SELECT g FROM (
    SELECT tokens[CAST(u.p AS INT)+1 : CAST(u.p AS INT)+{n}] AS g
    FROM docs_t, UNNEST(range(greatest(length(tokens)-{n}+1, 0))) AS u(p)
  ) GROUP BY g HAVING count(*) >= {mc}
)"""


def _q_j3_ngram_membership(spark, sf):
    d2 = _ngram_dict(spark, sf, 2, 3)
    ex = explode_tokens(_docs(spark, sf), keep=["doc_id"])
    out = with_ngram_membership(ex, d2, max_n=2)
    return out.select("doc_id", "pos", "tok", "in_lm_2")


_SQL_J3 = f"""
WITH {DOCS_T}, {DOCS_E}, {_GRAMS_SQL.format(n=2, mc=3)}
SELECT e.doc_id, e.pos, e.tok,
  CAST(CASE WHEN g.g IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_lm_2
FROM docs_e e LEFT JOIN grams2 g
  ON e.pos >= 1 AND g.g = e.tokens[e.pos : e.pos+1]
"""


def _q_w3_longest_ngram(spark, sf):
    ex = explode_tokens(_docs(spark, sf), keep=["doc_id"])
    # one corpus aggregation for all three orders (was: three _ngram_dict
    # passes — 3 scans + 3 tokenizations + 3 shuffles for identical output)
    d = _ngram_dict_multi(spark, sf, [(1, 5), (2, 3), (3, 2)])
    out = with_ngram_membership(ex, d, max_n=3)
    return out.select("doc_id", "pos", "tok", "in_lm_1", "in_lm_2", "in_lm_3", "longest_ngram")


_SQL_W3 = f"""
WITH {DOCS_T}, {DOCS_E},
{_GRAMS_SQL.format(n=1, mc=5)}, {_GRAMS_SQL.format(n=2, mc=3)}, {_GRAMS_SQL.format(n=3, mc=2)}
SELECT e.doc_id, e.pos, e.tok,
  CAST(CASE WHEN g1.g IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_lm_1,
  CAST(CASE WHEN g2.g IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_lm_2,
  CAST(CASE WHEN g3.g IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_lm_3,
  CAST(CASE WHEN g3.g IS NOT NULL THEN 3 WHEN g2.g IS NOT NULL THEN 2
            WHEN g1.g IS NOT NULL THEN 1 ELSE 0 END AS INT) AS longest_ngram
FROM docs_e e
LEFT JOIN grams1 g1 ON g1.g = e.tokens[e.pos+1 : e.pos+1]
LEFT JOIN grams2 g2 ON e.pos >= 1 AND g2.g = e.tokens[e.pos : e.pos+1]
LEFT JOIN grams3 g3 ON e.pos >= 2 AND g3.g = e.tokens[e.pos-1 : e.pos+1]
"""


def _q_a1_length_stats(spark, sf):
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.size("tokens").cast("int").alias("n_tok"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.floor(F.col("n_chars") * 1_000_000 / F.size("tokens")).cast("long").alias("chars_per_tok_ppm"),
    )


_SQL_A1 = f"""
WITH {DOCS_T}
SELECT doc_id, CAST(length(tokens) AS INT) AS n_tok, CAST(n_chars AS BIGINT) AS n_chars,
  CAST(floor(n_chars * 1000000 / length(tokens)) AS BIGINT) AS chars_per_tok_ppm
FROM docs_t
"""


def _q_a2_vocab_counts(spark, sf):
    """Exact vocabulary counts per (lang, tok) PLUS the count-min-sketch
    view of the same frequencies (operators/sketch.py): cms_est is the
    global 4x1024 CMS estimate of the token's corpus-wide count (>= truth,
    bit-identical across engines — deterministic integer hashing), is_heavy
    flags estimate >= total_tokens/500 — the sketch-prefilter decision a
    bounded-state heavy-hitter pass takes before its exact verify."""
    from marmot_spark.operators.sketch import cms_estimate, count_min_sketch

    docs = _docs(spark, sf)
    ex = explode_tokens(docs, keep=["lang"])
    base = ex.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    est = cms_estimate(count_min_sketch(docs, "tokens", d=4, w=1024), F.col("tok"), 4, 1024)
    # total token count == sum of the per-(lang, tok) counts: deriving it
    # from ``base`` makes the two branches share one plan-identical exchange
    # subtree (ReuseExchange), where aggregating the raw scan again paid a
    # second full scan + tokenization of the corpus inside the timed plan
    tot = F.broadcast(
        base.agg(F.sum("cnt").alias("__t")).withColumn("__j", F.lit(0))
    )
    return (
        base.withColumn("cms_est", est)
        .withColumn("__j", F.lit(0))
        .join(tot, "__j")
        .select(
            "lang", "tok", "cnt",
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") >= F.floor(F.col("__t") / F.lit(500))).alias("is_heavy"),
        )
    )


def _sql_a2() -> str:
    from marmot_spark.operators.sketch import cms_bucket_sql

    per_row = ",\n".join(
        f"cms{j} AS (SELECT {cms_bucket_sql('tok', j, 1024)} AS b, count(*) AS c "
        f"FROM docs_e GROUP BY 1)"
        for j in range(4)
    )
    joins = " ".join(
        f"JOIN cms{j} ON cms{j}.b = {cms_bucket_sql('t.tok', j, 1024)}" for j in range(4)
    )
    return f"""
WITH {DOCS_T}, {DOCS_E},
base AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt FROM docs_e GROUP BY lang, tok),
{per_row},
est AS (SELECT t.tok, least(cms0.c, cms1.c, cms2.c, cms3.c) AS est
        FROM (SELECT DISTINCT tok FROM docs_e) t {joins}),
tot AS (SELECT sum(length(tokens)) AS t FROM docs_t)
SELECT base.lang, base.tok, base.cnt, CAST(est.est AS BIGINT) AS cms_est,
  est.est >= floor(tot.t / 500) AS is_heavy
FROM base JOIN est ON est.tok = base.tok, tot
"""




def _q_a3_label_distribution(spark, sf):
    """Label share per event_type. The grand total rides a broadcast 1-row
    aggregate joined back (detect_hot_keys pattern) — not a sum() OVER ()
    window, whose Exchange SinglePartition would funnel the grouped frame
    through one task at a large label domain (banned by the plan audit)."""
    ev = _events(spark, sf).groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    tot = F.broadcast(ev.agg(F.sum("cnt").alias("__t")).withColumn("__j", F.lit(0)))
    return (
        ev.withColumn("__j", F.lit(0))
        .join(tot, "__j")
        .select(
            "event_type", "cnt",
            F.floor(F.col("cnt") * 1_000_000 / F.col("__t")).cast("long").alias("share_ppm"),
        )
    )


_SQL_A3 = """
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
  CAST(floor(count(*) * 1000000 / sum(count(*)) OVER ()) AS BIGINT) AS share_ppm
FROM events GROUP BY event_type
"""


def _q_a7_quantiles(spark, sf):
    """Grouped EXACT continuous quantiles (percentile with linear
    interpolation — same definition as DuckDB quantile_cont). Quantile points
    are multiples of 0.25 over integer cents, so the interpolated doubles are
    binary-exact and engine-identical."""
    ev = _events(spark, sf).withColumn("value_c", _cents("value"))
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value_c, 0.25)").alias("p25"),
        F.expr("percentile(value_c, 0.5)").alias("p50"),
        F.expr("percentile(value_c, 0.75)").alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


_SQL_A7 = f"""
SELECT event_type,
  quantile_cont({_CENTS_SQL.format(c='value')}, 0.25) AS p25,
  quantile_cont({_CENTS_SQL.format(c='value')}, 0.5)  AS p50,
  quantile_cont({_CENTS_SQL.format(c='value')}, 0.75) AS p75,
  CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


def _q_a5_rollup(spark, sf):
    """A5 grouping sets through Catalyst's native ROLLUP — subtotal and
    grand-total rows with integer-exact sums."""
    li = _tbl(spark, sf, "lineitem").withColumn("price_c", _cents("l_extendedprice"))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("price_c").alias("sum_price_c"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "sum_price_c", "n_rows",
        )
    )


_SQL_A5 = f"""
SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
  COALESCE(l_linestatus, '<all>') AS l_linestatus,
  CAST(sum({_CENTS_SQL.format(c='l_extendedprice')}) AS BIGINT) AS sum_price_c,
  CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _q_f8_binarize_onehot(spark, sf):
    d = _tbl(spark, sf, "documents")
    vocab = fit_vocab(d, "lang")
    out = binarize(d, "lang", vocab, drop_idx=False)
    return out.select(
        "doc_id", "lang", F.col("lang_idx").cast("long").alias("lang_idx"),
        F.concat_ws(",", F.transform("lang_onehot", lambda x: x.cast("string"))).alias("onehot_str"),
    )


_SQL_F8 = """
WITH vocab AS (
  SELECT lang AS v, CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS idx
  FROM (SELECT DISTINCT lang FROM documents)
), n AS (SELECT count(*) AS sz FROM vocab)
SELECT d.doc_id, d.lang, v.idx AS lang_idx,
  list_aggregate(list_transform(range(CAST((SELECT sz FROM n) AS INT)),
    j -> CASE WHEN CAST(j AS BIGINT) = v.idx THEN '1.0' ELSE '0.0' END), 'string_agg', ',') AS onehot_str
FROM documents d LEFT JOIN vocab v ON d.lang = v.v
"""


def _q_o2_topk_per_group(spark, sf):
    d = _tbl(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return d.select("lang", "doc_id", "n_chars").withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).filter(F.col("rn") <= 3)


_SQL_O2 = """
SELECT lang, doc_id, n_chars, rn FROM (
  SELECT lang, doc_id, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
) WHERE rn <= 3
"""


def _q_set_ops_vocab_overlap(spark, sf):
    """Vocabulary set algebra (intersect/except) PLUS the HyperLogLog view of
    the same cardinality (operators/sketch.py): en_n is the exact distinct
    en-vocabulary count, hll_en the 2^10-register HLL estimate computed over
    the raw (non-distinct) en token stream — deterministic integer registers
    and an exact-BIGINT harmonic sum make it bit-identical across engines."""
    from marmot_spark.operators.sketch import hll_bucket_rank_cols, hll_estimate_expr

    # ONE corpus pass: per-token language flags (set algebra over distinct
    # toks == boolean algebra over the flags), then a tiny per-HLL-bucket
    # aggregate that carries the set-op counts alongside the registers'
    # max(rank). The former intersect/exceptAll/distinct formulation planned
    # 7 separate explode+distinct subtrees (14 scans); results are identical:
    # |en INTERSECT es| = #toks(has_en & has_es), |en EXCEPT (es INTERSECT
    # en)| = #toks(has_en & !has_es), and HLL registers over the raw en
    # stream equal registers over its distinct support (max over duplicate
    # values is the value's own rank).
    ex = explode_tokens(_docs(spark, sf), keep=["lang"])
    flags = (
        ex.filter(F.col("lang").isin("en", "es"))
        .groupBy("tok")
        .agg(
            F.max((F.col("lang") == "en").cast("int")).alias("has_en"),
            F.max((F.col("lang") == "es").cast("int")).alias("has_es"),
        )
    )
    b, r = hll_bucket_rank_cols(F.col("tok"), p=10)
    g = flags.groupBy(b.alias("b")).agg(
        F.max(F.when(F.col("has_en") == 1, r)).alias("r"),
        F.sum(((F.col("has_en") == 1) & (F.col("has_es") == 1)).cast("long")).alias("i"),
        F.sum(((F.col("has_en") == 1) & (F.col("has_es") == 0)).cast("long")).alias("d"),
        F.sum(F.col("has_en").cast("long")).alias("e"),
    )
    agg = g.agg(
        F.coalesce(F.sum("i"), F.lit(0)).cast("long").alias("inter_n"),
        F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("diff_n"),
        F.coalesce(F.sum("e"), F.lit(0)).cast("long").alias("en_n"),
        F.count(F.col("r")).alias("np"),
        F.sum(
            F.when(F.col("r").isNotNull(), F.expr("shiftleft(CAST(1 AS BIGINT), 32 - r)"))
        ).alias("sp"),
    )
    return agg.select(
        "inter_n", "diff_n", "en_n",
        hll_estimate_expr(F.col("np"), F.col("sp"), p=10).alias("hll_en"),
    )


def _sql_setops() -> str:
    from marmot_spark.operators.sketch import hll_sql

    return f"""
WITH {DOCS_T}, {DOCS_E},
en AS (SELECT DISTINCT tok FROM docs_e WHERE lang = 'en'),
es AS (SELECT DISTINCT tok FROM docs_e WHERE lang = 'es')
SELECT
  CAST((SELECT count(*) FROM (SELECT tok FROM en INTERSECT SELECT tok FROM es)) AS BIGINT) AS inter_n,
  CAST((SELECT count(*) FROM (SELECT tok FROM en EXCEPT SELECT tok FROM es)) AS BIGINT) AS diff_n,
  CAST((SELECT count(*) FROM en) AS BIGINT) AS en_n,
  ({hll_sql("(SELECT tok AS v FROM docs_e WHERE lang = 'en')", p=10)}) AS hll_en
"""


def _q_p3_filter_projection(spark, sf):
    d = _tbl(spark, sf, "documents")
    return d.filter((F.col("n_chars") == F.length("text")) & (F.col("lang") != "zh")).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


_SQL_P3 = """
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE n_chars = length(text) AND lang != 'zh'
"""


def _q_f6_json_extract(spark, sf):
    ev = _events(spark, sf)
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k_val")
    )


_SQL_F6 = """
SELECT event_id, CAST(props->>'k' AS BIGINT) AS k_val FROM events
"""


def _q_tpch_q1(spark, sf):
    li = _tbl(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    li = li.withColumn("price_c", _cents("l_extendedprice")).withColumn(
        "disc_pct", F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum("price_c").alias("sum_price_c"),
        F.sum(F.col("price_c") * (100 - F.col("disc_pct"))).alias("sum_disc_c2"),
        F.count(F.lit(1)).alias("n_rows"),
        F.floor(F.sum(F.col("l_quantity").cast("long")) * 1_000_000 / F.count(F.lit(1))).cast("long").alias("avg_qty_ppm"),
    )


_SQL_TPCH_Q1 = f"""
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(sum({_CENTS_SQL.format(c='l_extendedprice')}) AS BIGINT) AS sum_price_c,
  CAST(sum({_CENTS_SQL.format(c='l_extendedprice')} *
       (100 - CAST(floor(l_discount*100 + 0.5) AS BIGINT))) AS BIGINT) AS sum_disc_c2,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(floor(sum(CAST(l_quantity AS BIGINT)) * 1000000 / count(*)) AS BIGINT) AS avg_qty_ppm
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q_tpch_join_agg(spark, sf):
    o = _tbl(spark, sf, "orders").withColumn("price_c", _cents("o_totalprice"))
    c = _tbl(spark, sf, "customer")
    n = _tbl(spark, sf, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("price_c").alias("revenue_c"), F.count(F.lit(1)).alias("n_orders"))
    )


_SQL_TPCH_JOIN = f"""
SELECT n.n_name, CAST(sum({_CENTS_SQL.format(c='o.o_totalprice')}) AS BIGINT) AS revenue_c,
  CAST(count(*) AS BIGINT) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def _q_tpch_semi_anti(spark, sf):
    """Semi/anti join physical choices: customers with vs without orders."""
    c = _tbl(spark, sf, "customer")
    o = _tbl(spark, sf, "orders").select("o_custkey")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        with_orders.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_active"))
        .join(
            without.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_inactive")),
            "c_nationkey", "full_outer",
        )
        .select(
            "c_nationkey",
            F.coalesce("n_active", F.lit(0)).alias("n_active"),
            F.coalesce("n_inactive", F.lit(0)).alias("n_inactive"),
        )
    )


_SQL_TPCH_SEMI_ANTI = """
WITH a AS (
  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_active FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  GROUP BY c_nationkey
), i AS (
  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_inactive FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  GROUP BY c_nationkey
)
SELECT COALESCE(a.c_nationkey, i.c_nationkey) AS c_nationkey,
  COALESCE(n_active, 0) AS n_active, COALESCE(n_inactive, 0) AS n_inactive
FROM a FULL OUTER JOIN i ON a.c_nationkey = i.c_nationkey
"""


def _q_tpch_q3_shipping(spark, sf):
    """TPC-H Q3 shape: 3-way join + filtered agg + top-10 — join-order and
    top-k evidence over the driver tables. Revenue in exact cents^2 units."""
    c = _tbl(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _tbl(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _tbl(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    li = li.withColumn("price_c", _cents("l_extendedprice")).withColumn(
        "disc_pct", F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.col("price_c") * (100 - F.col("disc_pct"))).alias("revenue_c2"))
        .orderBy(F.desc("revenue_c2"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey", F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority", "revenue_c2",
        )
    )


_SQL_TPCH_Q3 = f"""
SELECT l_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderpriority,
  CAST(sum({_CENTS_SQL.format(c='l_extendedprice')} *
       (100 - CAST(floor(l_discount*100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_c2
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_c2 DESC, l_orderkey
LIMIT 10
"""


def _q_tpch_q18_large_orders(spark, sf):
    """TPC-H Q18 shape: group-HAVING derived set driving a semi-join back into
    the fact tables — large-quantity orders with their customers."""
    li = _tbl(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = _tbl(spark, sf, "orders")
    c = _tbl(spark, sf, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            _cents("o_totalprice").alias("price_c"), "sum_qty",
        )
    )


_SQL_TPCH_Q18 = f"""
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) > 150
)
SELECT c_custkey, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
  {_CENTS_SQL.format(c='o_totalprice')} AS price_c, sum_qty
FROM orders JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def _q_w5_window_rank(spark, sf):
    o = _tbl(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("price_c").desc(), F.col("o_orderkey").asc())
    return (
        o.select("o_custkey", "o_orderkey", _cents("o_totalprice").alias("price_c"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 2)
    )


_SQL_W5 = f"""
SELECT o_custkey, o_orderkey, price_c, rn FROM (
  SELECT o_custkey, o_orderkey, {_CENTS_SQL.format(c='o_totalprice')} AS price_c,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY {_CENTS_SQL.format(c='o_totalprice')} DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 2
"""


def _q_dedup_exact(spark, sf):
    """Exact dedup through BOTH hash domains, tagged by method: raw bytes
    ('raw') and normalized text ('norm' —
    functions/text.py::normalized_text_col, the RefinedWeb lowercase/
    punct-collapse recipe). The corpus is unioned with a case+punctuation
    mangled copy of every doc (upper + trailing '  !! ', shifted id): raw
    dedup sees all singletons, norm dedup collapses each (orig, mangled)
    pair — the verified result demonstrates exactly what normalization
    buys. Same groupBy(md5) word-count shape either way."""
    from marmot_spark.functions.text import normalized_text_col

    d = _tbl(spark, sf, "documents").select("doc_id", "text")
    mangled = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  !! ")).alias("text"),
    )
    u = d.unionByName(mangled)
    raw = exact_dedup(u, "text", "doc_id").select(
        F.lit("raw").alias("method"), "content_hash", "n_dups", "survivor_id"
    )
    norm = exact_dedup(
        u.withColumn("__norm", normalized_text_col("text")), "__norm", "doc_id"
    ).select(F.lit("norm").alias("method"), "content_hash", "n_dups", "survivor_id")
    return raw.unionByName(norm)


_SQL_DEDUP_EXACT = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || '  !! ' FROM documents
)
SELECT 'raw' AS method, md5(text) AS content_hash,
  CAST(count(*) AS BIGINT) AS n_dups, CAST(min(doc_id) AS BIGINT) AS survivor_id
FROM u GROUP BY md5(text)
UNION ALL
SELECT 'norm', md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))),
  CAST(count(*) AS BIGINT), CAST(min(doc_id) AS BIGINT)
FROM u GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
"""


def _q_dedup_minhash_lsh(spark, sf):
    return minhash_lsh_pairs(
        _docs(spark, sf), "doc_id", "tokens",
        k_shingle=3, n_hashes=8, rows_per_band=2, jaccard_threshold_ppm=300_000,
    )


def _sql_minhash() -> str:
    mh = ", ".join(f"{_mh_sql(k)} AS mh_{k}" for k in range(8))
    band_cases = " ".join(
        f"WHEN {b} THEN (mh_{2*b} % {P31} * 1000003 + mh_{2*b+1}) % {P31}" for b in range(4)
    )
    return f"""
WITH {DOCS_T},
s AS (SELECT doc_id AS id, list_distinct({_SH3}) AS sh FROM docs_t WHERE length(tokens) >= 3),
s2 AS (SELECT id, sh, {mh} FROM s WHERE length(sh) > 0),
bands AS (SELECT id, b.band, CASE b.band {band_cases} END AS bh
          FROM s2, UNNEST([0,1,2,3]) AS b(band)),
bc AS (SELECT *, count(*) OVER (PARTITION BY band, bh) AS bsz FROM bands),
bf AS (SELECT * FROM bc WHERE bsz <= 1000),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bf a JOIN bf b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id)
SELECT id_a, id_b, jaccard_ppm FROM (
  SELECT c.id_a, c.id_b,
    CAST(floor(len(list_intersect(sa.sh, sb.sh)) * 1000000.0 /
               len(list_distinct(list_concat(sa.sh, sb.sh)))) AS BIGINT) AS jaccard_ppm
  FROM cand c JOIN s sa ON sa.id = c.id_a JOIN s sb ON sb.id = c.id_b
) WHERE jaccard_ppm >= 300000
"""


def _q_dedup_incremental(spark, sf):
    """Incremental snapshot dedup (operators/dedup.py::incremental_dedup_pairs)
    — a synthesized NEW batch (every 7th doc re-ingested under a shifted id;
    every 14th additionally loses its last word, making it a near- rather
    than exact dup) probed against the full corpus. Exact path = md5 join;
    near path = batch LSH bands joining corpus bands, Jaccard-verified. The
    corpus is never self-paired — the rolling-ingestion shape."""
    from marmot_spark.operators.dedup import incremental_dedup_pairs

    corpus = _docs(spark, sf).select("doc_id", "text", "tokens")
    batch = (
        _tbl(spark, sf, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.when(
                F.col("doc_id") % 14 == 0, F.regexp_replace("text", " [^ ]*$", "")
            ).otherwise(F.col("text")).alias("text"),
        )
        .withColumn("tokens", F.transform(F.split("text", " "), _tok_id))
    )
    return incremental_dedup_pairs(
        batch, corpus, "doc_id", "text", "tokens", jaccard_threshold_ppm=300_000
    )


def _sql_dedup_incremental() -> str:
    mh = ", ".join(f"{_mh_sql(k)} AS mh_{k}" for k in range(8))
    band_cases = " ".join(
        f"WHEN {b} THEN (mh_{2*b} % {P31} * 1000003 + mh_{2*b+1}) % {P31}" for b in range(4)
    )
    return f"""
WITH b0 AS (SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 14 = 0 THEN regexp_replace(text, ' [^ ]*$', '') ELSE text END AS text
       FROM documents WHERE doc_id % 7 = 0),
bt AS (SELECT doc_id, text, {{tok}} AS tokens FROM b0),
ct AS (SELECT doc_id, text, {{tok}} AS tokens FROM documents),
ex AS (SELECT b.doc_id AS id_a, c.doc_id AS id_b, CAST(1000000 AS BIGINT) AS jaccard_ppm
       FROM bt b JOIN ct c ON md5(b.text) = md5(c.text)),
sb AS (SELECT doc_id AS id, list_distinct({_SH3}) AS sh FROM bt WHERE length(tokens) >= 3),
sc AS (SELECT doc_id AS id, list_distinct({_SH3}) AS sh FROM ct WHERE length(tokens) >= 3),
sb2 AS (SELECT id, sh, {mh} FROM sb WHERE length(sh) > 0),
sc2 AS (SELECT id, sh, {mh} FROM sc WHERE length(sh) > 0),
bb AS (SELECT id, b.band, CASE b.band {band_cases} END AS bh
       FROM sb2, UNNEST([0,1,2,3]) AS b(band)),
cb AS (SELECT id, b.band, CASE b.band {band_cases} END AS bh
       FROM sc2, UNNEST([0,1,2,3]) AS b(band)),
bbf AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band, bh) AS bsz FROM bb) WHERE bsz <= 1000),
cbf AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band, bh) AS bsz FROM cb) WHERE bsz <= 1000),
cand AS (SELECT DISTINCT a.id AS id_a, c.id AS id_b
         FROM bbf a JOIN cbf c ON a.band = c.band AND a.bh = c.bh),
near AS (SELECT id_a, id_b, jaccard_ppm FROM (
  SELECT cand.id_a, cand.id_b,
    CAST(floor(len(list_intersect(sa.sh, sc_.sh)) * 1000000.0 /
               len(list_distinct(list_concat(sa.sh, sc_.sh)))) AS BIGINT) AS jaccard_ppm
  FROM cand JOIN sb sa ON sa.id = cand.id_a JOIN sc sc_ ON sc_.id = cand.id_b
) WHERE jaccard_ppm >= 300000)
SELECT id_a, id_b, CAST(max(jaccard_ppm) AS BIGINT) AS jaccard_ppm
FROM (SELECT * FROM ex UNION ALL SELECT * FROM near)
GROUP BY id_a, id_b
""".replace("{tok}", TOK_SQL)


def _q_dedup_clusters(spark, sf):
    """Duplicate CLUSTERS: minhash-LSH near-dup pairs collapsed into
    transitive components (operators/graph.py::connected_components —
    min-label propagation, 2 hash exchanges per round, rounds = cluster
    diameter) with cluster id = min doc_id and cluster size, finished by the
    SURVIVOR ELECTION a real dedup pass ends with
    (operators/graph.py::keep_best): per cluster keep the doc with the most
    characters (the Lee-et-al keep-longest policy), min doc_id on ties —
    keep_id + is_kept per member. Oracle: DuckDB recursive CTE computing min
    reachable id over the same pairs, argmax via max+min two-step."""
    from marmot_spark.operators.graph import connected_components, keep_best

    docs = _docs(spark, sf)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "tokens",
        k_shingle=3, n_hashes=8, rows_per_band=2, jaccard_threshold_ppm=300_000,
    )
    comps = connected_components(pairs, "id_a", "id_b")
    sizes = comps.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    kb = keep_best(
        comps, docs.select(F.col("doc_id").alias("id"), F.col("n_chars")),
        id_col="id", comp_col="comp", score_col="n_chars",
    )
    return (
        comps.join(F.broadcast(sizes), "comp")
        .join(kb.select("id", "keep_id", "is_kept"), "id")
        .select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "keep_id",
            "is_kept",
        )
    )


def _sql_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_sql_minhash()}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
r AS (
  SELECT a AS id, a AS reach FROM e
  UNION
  SELECT r.id, e.b AS reach FROM r JOIN e ON e.a = r.reach
),
comps AS (SELECT id, min(reach) AS cluster_id FROM r GROUP BY id),
sizes AS (SELECT cluster_id, count(*) AS n FROM comps GROUP BY cluster_id),
scored AS (SELECT c.id, c.cluster_id, d.n_chars
           FROM comps c JOIN documents d ON d.doc_id = c.id),
mx AS (SELECT cluster_id, max(n_chars) AS m FROM scored GROUP BY cluster_id),
best AS (SELECT s.cluster_id, CAST(min(s.id) AS BIGINT) AS keep_id
         FROM scored s JOIN mx ON mx.cluster_id = s.cluster_id AND s.n_chars = mx.m
         GROUP BY s.cluster_id)
SELECT comps.id AS doc_id, comps.cluster_id, CAST(sizes.n AS BIGINT) AS cluster_size,
  best.keep_id, comps.id = best.keep_id AS is_kept
FROM comps JOIN sizes USING (cluster_id) JOIN best USING (cluster_id)
"""


def _q_dedup_spans(spark, sf):
    """Sub-document dedup machinery, two parts tagged by ``part``:

    * ``span5`` — exact duplicated-SPAN inventory (Lee et al. 2022
      "Deduplicating Training Data Makes Language Models Better" —
      exact-substring dedup at fixed window granularity, the bucketed
      recast of their suffix-array scan): every 5-token window occurring
      in >= 2 documents, with its doc count and the survivor (min doc_id).
      Spans are per-doc DISTINCT (set semantics). Scale shape: in-array
      shingle fold (codegen, no shuffle) -> one partial-aggregated groupBy
      on the int64 span hash — the word-count exchange at any corpus size.
    * ``cdc`` — content-defined chunking
      (operators/dedup.py::cdc_chunk_cols): Rabin-style rolling-hash
      boundaries (window=4, 2^5 expected chunk length, max_len=64 forced
      cut) with per-chunk polynomial hashes — the chunk inventory whose
      groupBy(chunk_hash) is chunk-level dedup; entirely array-side, zero
      shuffle before the explode. Certified per (doc, chunk): every
      boundary position and chunk hash must match the DuckDB mirror.

    Unified columns: (part, doc_id, hash, v1, v2) = span5: (NULL, span
    hash, n_docs, first_doc) / cdc: (doc_id, chunk_hash, chunk_idx,
    chunk_len)."""
    from marmot_spark.operators.dedup import cdc_chunk_cols, shingle_hashes_col

    d = _docs(spark, sf)
    sh = d.select("doc_id", F.explode(shingle_hashes_col("tokens", 5)).alias("span_hash"))
    spans = (
        sh.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= 2)
        .select(
            F.lit("span5").alias("part"), F.lit(None).cast("long").alias("doc_id"),
            F.col("span_hash").alias("hash"), F.col("n_docs").alias("v1"),
            F.col("first_doc").alias("v2"),
        )
    )
    cdc = (
        d.select("doc_id", F.explode(cdc_chunk_cols("tokens")).alias("c"))
        .select(
            F.lit("cdc").alias("part"), "doc_id",
            F.col("c.chunk_hash").alias("hash"),
            F.col("c.chunk_idx").cast("long").alias("v1"),
            F.col("c.chunk_len").cast("long").alias("v2"),
        )
    )
    return spans.unionByName(cdc)


_CDC_FOLD = "(acc, t) -> (acc*1000003 + CAST(t AS BIGINT)+1) % 2147483647"


def _sql_dedup_spans() -> str:
    return f"""
WITH {DOCS_T},
s AS (SELECT doc_id, list_distinct({_sh_sql(5)}) AS sh FROM docs_t WHERE length(tokens) >= 5),
cb AS (SELECT doc_id, tokens,
        CASE WHEN length(tokens) >= 2 THEN
          list_filter(range(0, length(tokens)-1), i ->
            (i >= 3 AND list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_slice(tokens, i-2, i+1)), {_CDC_FOLD}) % 32 = 0)
            OR ((i+1) % 64 = 0))
        ELSE [] END AS bpos
      FROM docs_t),
cse AS (SELECT doc_id, tokens,
         list_prepend(CAST(0 AS BIGINT), list_transform(bpos, p -> p+1)) AS starts,
         list_append(bpos, CAST(length(tokens)-1 AS BIGINT)) AS ends
       FROM cb WHERE length(tokens) >= 1),
ccs AS (SELECT doc_id,
         list_transform(range(0, len(starts)), j -> struct_pack(
           chunk_idx := CAST(j AS BIGINT),
           chunk_len := CAST(ends[j+1] - starts[j+1] + 1 AS BIGINT),
           chunk_hash := list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_slice(tokens, starts[j+1]+1, ends[j+1]+1)), {_CDC_FOLD}))) AS cl
       FROM cse)
SELECT 'span5' AS part, CAST(NULL AS BIGINT) AS doc_id, u.x AS hash,
  CAST(count(*) AS BIGINT) AS v1, min(doc_id) AS v2
FROM s, UNNEST(sh) AS u(x)
GROUP BY u.x HAVING count(*) >= 2
UNION ALL
SELECT 'cdc', doc_id, u.c.chunk_hash, u.c.chunk_idx, u.c.chunk_len
FROM ccs, UNNEST(cl) AS u(c)
"""


def _q_dedup_simhash(spark, sf):
    d = _docs(spark, sf)
    return d.select("doc_id", simhash_col("tokens", bits=16).alias("simhash"))


def _simhash_bits_sql() -> str:
    c0 = MULT % P31
    return " + ".join(
        f"(CASE WHEN len(list_filter(tokens, t -> ((((CAST(t AS BIGINT)+1)*{c0}) % {P31}) >> {b}) & 1 = 1)) * 2 "
        f"> length(tokens) THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )


def _sql_simhash() -> str:
    return f"""
WITH {DOCS_T}
SELECT doc_id, CAST(CASE WHEN length(tokens) > 0 THEN {_simhash_bits_sql()} ELSE 0 END AS BIGINT) AS simhash
FROM docs_t
"""


def _q_dedup_simhash_hamming(spark, sf):
    # bits=16 + max_bucket=None: the EXACT variant the quadratic SQL oracle
    # can mirror (16-bit simhash is SQL-expressible; the cap would make the
    # output banding-dependent). Production default is bits=64 + capped
    # buckets — guardrails pinned by tests/test_ops_surface.py.
    return simhash_hamming_pairs(
        _docs(spark, sf), "doc_id", "tokens", bits=16, max_hamming=2, max_bucket=None
    )


def _sql_simhash_hamming() -> str:
    # banding is an engine-side optimization; semantics are banding-independent,
    # so the oracle is the naive quadratic hamming filter over the same simhash
    return f"""
WITH {DOCS_T},
s AS (SELECT doc_id, CAST(CASE WHEN length(tokens) > 0 THEN {_simhash_bits_sql()} ELSE 0 END AS BIGINT) AS simhash
      FROM docs_t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


def _q_dedup_ngram_jaccard(spark, sf):
    return ngram_jaccard_pairs(
        _docs(spark, sf), "doc_id", "tokens", block_col="lang",
        k_shingle=2, threshold_ppm=400_000,
    )


_SQL_JACCARD = f"""
WITH {DOCS_T},
s AS (SELECT doc_id AS id, lang AS blk, list_distinct({_SH2}) AS sh
      FROM docs_t WHERE length(tokens) >= 2)
SELECT id_a, id_b, jaccard_ppm FROM (
  SELECT a.id AS id_a, b.id AS id_b,
    CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0 /
               len(list_distinct(list_concat(a.sh, b.sh)))) AS BIGINT) AS jaccard_ppm
  FROM s a JOIN s b ON a.blk = b.blk AND a.id < b.id
  WHERE len(a.sh) > 0
) WHERE jaccard_ppm >= 400000
"""


_SQL_QUALITY = f"""
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars_obs,
  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT) AS n_punct,
  CAST(len(list_filter(string_split(text, ' '), x -> x IN {_in_list_sql(STOPWORDS)})) AS INT) AS n_stop,
  CAST(floor(len(list_filter(string_split(text, ' '), x -> x IN {_in_list_sql(STOPWORDS)}))
       * 1000000 / len(string_split(text, ' '))) AS BIGINT) AS stop_ratio_ppm,
  CAST(floor((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
       * 1000000 / greatest(length(text), 1)) AS BIGINT) AS punct_ratio_ppm
FROM documents
"""


def _sql_lang_id() -> str:
    h = {
        k: f"len(list_filter(string_split(text, ' '), x -> x IN {_in_list_sql(v)}))"
        for k, v in LANG_MARKERS.items()
    }
    return f"""
SELECT doc_id, lang,
  CASE WHEN {h['en']} >= {h['es']} AND {h['en']} >= {h['zh']} THEN 'en'
       WHEN {h['es']} >= {h['zh']} THEN 'es' ELSE 'zh' END AS pred_lang
FROM documents
"""


_SQL_TOKEN_COUNTS = """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INT) AS n_tok_ws,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_alpha_runs,
  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_num_runs
FROM documents
"""


_SQL_FINGERPRINT = f"""
WITH {DOCS_T}
SELECT doc_id,
  CAST(COALESCE(CASE WHEN length(tokens) > 0 THEN
    list_sum(list_transform(range(length(tokens)),
      i -> (tokens[CAST(i AS INT)+1]+1) * (((CAST(i AS BIGINT)+1) * {FP_MULT}) % {FP_MOD})))
  END, 0) AS BIGINT) AS fingerprint
FROM docs_t
"""


def _q_ann_brute_force(spark, sf):
    emb = _tbl(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = brute_force_topk(emb, queries, k=5)
    return out.select("query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank"))


_SQL_ANN_BF = f"""
WITH q AS (SELECT vec_id AS query_id, {_quant_sql('embedding')} AS qq FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, {_quant_sql('embedding')} AS qc FROM embeddings),
s AS (SELECT query_id, neighbor_id,
        CAST(list_sum(list_transform(range(len(qq)),
          i -> qq[CAST(i AS INT)+1] * qc[CAST(i AS INT)+1])) AS BIGINT) AS score
      FROM q, c WHERE neighbor_id != query_id)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
  FROM s
) WHERE rank <= 5
"""


_DOT_SQL = (
    "CAST(list_sum(list_transform(range(len({a})), "
    "i -> {a}[CAST(i AS INT)+1] * {b}[CAST(i AS INT)+1])) AS BIGINT)"
)


def _bucket_sql(v: str, n_planes: int) -> str:
    """SQL mirror of similarity.bucket_col: packed hyperplane sign bits."""
    parts = []
    for p in range(n_planes):
        parts.append(
            f"(CASE WHEN CAST(list_sum(list_transform(range(len({v})), i -> "
            f"CASE WHEN ((CAST(i AS BIGINT) + {p * 1_000_003 + 1}) * {MULT}) % {P31} % 2 = 0 "
            f"THEN {v}[CAST(i AS INT)+1] ELSE -{v}[CAST(i AS INT)+1] END)) AS BIGINT) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(parts)


def _q_dedup_embedding_cosine(spark, sf):
    """Embedding-cosine near-dup: corpus unioned with rescaled (re-encoded)
    copies; LSH-bucketed candidates, exact integer-quantized cosine verify."""
    emb = _tbl(spark, sf, "embeddings")
    base = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    copies = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * F.lit(1.01)).alias("embedding"),
    )
    return embedding_cosine_pairs(
        base.unionByName(copies), id_col="vec_id", emb_col="embedding",
        threshold_ppm=950_000, n_planes=6,
    )


def _sql_dedup_embedding_cosine() -> str:
    dot_ab = _DOT_SQL.format(a="a.q", b="b.q")
    dot_qq = _DOT_SQL.format(a="q", b="q")
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(1.01 AS DOUBLE))
  FROM embeddings
),
v0 AS (SELECT vec_id AS id, {_quant_sql('embedding')} AS q FROM base),
v1 AS (SELECT id, q, {dot_qq} AS n2 FROM v0),
v AS (SELECT id, q, n2, CAST({_bucket_sql('q', 6)} AS BIGINT) AS bucket FROM v1 WHERE n2 > 0)
SELECT id_a, id_b, cos_ppm FROM (
  SELECT a.id AS id_a, b.id AS id_b,
    CAST(floor(CAST({dot_ab} * 1000000 AS DOUBLE) / sqrt(CAST(a.n2 * b.n2 AS DOUBLE))) AS BIGINT) AS cos_ppm
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.id < b.id
) WHERE cos_ppm >= 950000
"""


def _q_ann_ivf(spark, sf):
    emb = _tbl(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=2)
    return out.select("query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank"))


def _sql_ann_ivf() -> str:
    return f"""
WITH cent AS (SELECT vec_id AS cell, {_quant_sql('embedding')} AS qcent
              FROM embeddings ORDER BY vec_id LIMIT 8),
c AS (SELECT vec_id AS neighbor_id, {_quant_sql('embedding')} AS qc FROM embeddings),
ca AS (SELECT neighbor_id, qc, cell FROM (
    SELECT c.neighbor_id, c.qc, cent.cell,
      row_number() OVER (PARTITION BY c.neighbor_id
                         ORDER BY {_DOT_SQL.format(a='c.qc', b='cent.qcent')} DESC, cent.cell) AS rn
    FROM c, cent) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, {_quant_sql('embedding')} AS qq FROM embeddings WHERE vec_id < 5),
qp AS (SELECT query_id, qq, cell FROM (
    SELECT q.query_id, q.qq, cent.cell,
      row_number() OVER (PARTITION BY q.query_id
                         ORDER BY {_DOT_SQL.format(a='q.qq', b='cent.qcent')} DESC, cent.cell) AS rn
    FROM q, cent) WHERE rn <= 2),
s AS (SELECT query_id, neighbor_id, {_DOT_SQL.format(a='qp.qq', b='ca.qc')} AS score
      FROM qp JOIN ca USING (cell) WHERE neighbor_id != query_id)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
  FROM s
) WHERE rank <= 5
"""


def _q_ann_lsh(spark, sf):
    emb = _tbl(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk(emb, queries, k=5, n_planes=4)
    return out.select("query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank"))


def _sql_ann_lsh() -> str:
    def bucket(v: str) -> str:
        parts = []
        for p in range(4):
            parts.append(
                f"(CASE WHEN CAST(list_sum(list_transform(range(len({v})), i -> "
                f"CASE WHEN ((CAST(i AS BIGINT) + {p * 1_000_003 + 1}) * {MULT}) % {P31} % 2 = 0 "
                f"THEN {v}[CAST(i AS INT)+1] ELSE -{v}[CAST(i AS INT)+1] END)) AS BIGINT) >= 0 "
                f"THEN {1 << p} ELSE 0 END)"
            )
        return " + ".join(parts)

    return f"""
WITH q0 AS (SELECT vec_id AS query_id, {_quant_sql('embedding')} AS qq FROM embeddings WHERE vec_id < 5),
q AS (SELECT query_id, qq, CAST({bucket('qq')} AS BIGINT) AS bucket FROM q0),
c0 AS (SELECT vec_id AS neighbor_id, {_quant_sql('embedding')} AS qc FROM embeddings),
c AS (SELECT neighbor_id, qc, CAST({bucket('qc')} AS BIGINT) AS bucket FROM c0),
s AS (SELECT query_id, neighbor_id,
        CAST(list_sum(list_transform(range(len(qq)),
          i -> qq[CAST(i AS INT)+1] * qc[CAST(i AS INT)+1])) AS BIGINT) AS score
      FROM q JOIN c USING (bucket) WHERE neighbor_id != query_id)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
  FROM s
) WHERE rank <= 5
"""


def _q_flagship_composed(spark, sf):
    """The flagship DAG with a FULL DuckDB oracle (entry() is only
    smoke-checked): sessionize-by-source + 2h rolling doc counts + as-of
    error backfill + per-token ±1 context windows composed in one plan.
    Timestamps stay naive-UTC on both sides (make_timestamp in the oracle)
    so the comparison is timezone-independent."""
    docs = _docs(spark, sf).withColumn(
        "seq_ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 600)
    ).withColumn("user_id", F.col("doc_id") % 20)
    base = sessionize(docs, "source", "seq_ts", 3600.0, order_extra=["doc_id"])
    base = rolling_count(base, "source", "seq_ts", 7200, "rolling_docs")
    base = asof_join(
        base, _errors(spark, sf), on="user_id", left_ts="seq_ts", right_ts="err_ts",
        payload=["err_value_c"], tie_break="err_event_id",
    )
    ex = explode_with_context(
        base, k=1, keep=["doc_id", "source", "seq_ts", "session_id", "rolling_docs", "err_value_c"]
    )
    return ex.select(
        "doc_id", "pos", "tok",
        F.col("lag_1").cast("int").alias("lag_1"),
        F.col("lead_1").cast("int").alias("lead_1"),
        "session_id", "rolling_docs", "err_value_c",
        F.unix_micros("seq_ts").alias("ts_us"),
    )


_SQL_FLAGSHIP = f"""
WITH {DOCS_T},
d AS (
  SELECT doc_id, source, tokens,
    make_timestamp((1704067200 + doc_id * 600) * 1000000) AS seq_ts,
    doc_id % 20 AS user_id
  FROM docs_t
),
g AS (
  SELECT *, epoch_us(seq_ts) - lag(epoch_us(seq_ts))
    OVER (PARTITION BY source ORDER BY seq_ts, doc_id) AS gap_us
  FROM d
),
sess AS (
  SELECT *, CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 3600000000 THEN 1 ELSE 0 END)
    OVER (PARTITION BY source ORDER BY seq_ts, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
),
roll AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY source ORDER BY seq_ts
    RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_docs
  FROM sess
),
err AS (
  SELECT user_id, ts AS err_ts, {_CENTS_SQL.format(c='value')} AS err_value_c
  FROM events WHERE event_type = 'error'
),
a AS (
  SELECT r.doc_id, r.tokens, r.seq_ts, r.session_id, r.rolling_docs, l.err_value_c
  FROM roll r ASOF LEFT JOIN err l
    ON r.user_id = l.user_id AND l.err_ts <= r.seq_ts
)
SELECT doc_id, CAST(u.p AS INT) AS pos, tokens[CAST(u.p AS INT)+1] AS tok,
  CAST(COALESCE(CASE WHEN CAST(u.p AS INT) >= 1 THEN tokens[CAST(u.p AS INT)] END, -1) AS INT) AS lag_1,
  CAST(COALESCE(tokens[CAST(u.p AS INT)+2], -2) AS INT) AS lead_1,
  session_id, rolling_docs, err_value_c, epoch_us(seq_ts) AS ts_us
FROM a, UNNEST(range(length(tokens))) AS u(p)
"""


def _q_multimodal_meta(spark, sf):
    d = _tbl(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.ascii(F.substring("text", 1, 1)).cast("int").alias("first_cp"),
    )


_SQL_MULTIMODAL = """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CAST(ascii(substr(text, 1, 1)) AS INT) AS first_cp
FROM documents
"""


def _q_multimodal_features(spark, sf):
    """End-to-end media plumbing through the mapInPandas extractor: documents
    text wrapped as opaque binary + typed meta, features via the deterministic
    fake decoder (stride-4 byte means — real codecs are stubbed per SURVEY)."""
    from marmot_spark.operators.multimodal import attach_media, extract_media_features, fake_decoder

    d = _tbl(spark, sf, "documents")
    media = attach_media(d, "text", "image", "doc_id")
    return extract_media_features(media, decoder=fake_decoder)


# fake_decoder mirror. Valid because the synthetic corpus is pure ASCII
# (verified: octet_length(encode(text)) == length(text) for every row), so
# DuckDB's character-based ord(substr(...)) equals the UTF-8 byte Spark sees.
_SQL_MULTIMODAL_FEATS = """
WITH f AS (
  SELECT CAST(doc_id AS BIGINT) AS id, 'image' AS media_type,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
    CASE WHEN length(text) = 0 THEN [CAST(0.0 AS DOUBLE)]
    ELSE list_transform(range(least(4, length(text))), r ->
      CAST(list_sum(list_transform(range((length(text) - CAST(r AS INT) + 3) // 4),
        j -> ord(substr(text, CAST(r AS INT) + 1 + CAST(j AS INT) * 4, 1)))) AS DOUBLE)
      / ((length(text) - CAST(r AS INT) + 3) // 4))
    END AS feats
  FROM documents
)
SELECT id, media_type, n_bytes,
  list_sum(feats) / len(feats) AS feat_mean,
  CAST(len(feats) AS INT) AS feat_dim
FROM f
"""


def _q_streaming_sessionize(spark, sf):
    """Structured Streaming session_window through a real streaming query:
    readStream(parquet) -> withWatermark + session_window agg -> memory sink,
    availableNow drain, then the finished batch result is compared to a SQL
    oracle. Watermark is set beyond the data horizon so no row is late (late
    -data semantics are covered by batch-tolerance tests); sums are integer
    cents so the comparison is reduction-order-independent."""
    from marmot_spark.streaming.stream import streaming_session_counts, streaming_source

    schema = _events(spark, sf).schema
    src = streaming_source(spark, f"{sf}/events.parquet", schema).withColumn(
        "value_c", _cents("value")
    )
    sessions = streaming_session_counts(
        src, ts="ts", entity="user_id", gap="30 minutes", watermark="3650 days",
        value_col="value_c",
    )
    # stateful micro-batches pay per-task overhead x shuffle partitions; scope
    # a sane parallelism for the drain, then restore the session's setting
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        q = (
            sessions.writeStream.format("memory").queryName("stream_sess_q")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("stream_sess_q").select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        F.col("sum_value").alias("sum_value_c"),
    )


# session_window semantics: an event at exactly prev_ts + gap does NOT overlap
# [prev_ts, prev_ts + gap) and starts a NEW session -> new-session condition is
# gap_us >= 30min; session_end = last event + gap
_SQL_STREAM_SESS = f"""
WITH g AS (
  SELECT user_id, event_id, ts, {_CENTS_SQL.format(c='value')} AS value_c,
    CASE WHEN lag(ts) OVER w IS NULL
         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id, epoch_us(min(ts)) AS start_us,
  epoch_us(max(ts)) + 1800000000 AS end_us,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(value_c) AS BIGINT) AS sum_value_c
FROM s GROUP BY user_id, sid
"""


def _q_streaming_late_data(spark, sf):
    """Streaming late-data DROP, end to end: three micro-batches
    (maxFilesPerTrigger=1, mtime-ordered) — (A) all events of day 10+ except
    the newest, (B) the newest event(s), (C) the first 10 days, arriving LAST
    and therefore ~15 days below the watermark. Append mode emits only
    watermark-finalized sessions.

    Calibrated drop semantics (pinned by metrics, not assumed): Spark's
    session-window late filter uses the state store's eviction frontier,
    which lags the planned watermark by one batch — so batch C's rows are
    dropped against wm(after A) = max(A) - delay; they sit far below it AND
    below the final planned watermark, so they are dropped under either
    mechanism. Result: sessions over A∪B only, finalized at
    wm_final = max(all) - delay; every session built from C's rows is absent
    even though its end precedes wm_final — the observable proof of the drop.
    """
    import os

    import pandas as pd

    ev_pd = pd.read_parquet(f"{sf}/events.parquet")
    cutoff = ev_pd["ts"].min() + pd.Timedelta(days=10)
    mx = ev_pd["ts"].max()
    d = _fresh_tmpdir("stream_late", sf)
    a = ev_pd[(ev_pd["ts"] >= cutoff) & (ev_pd["ts"] < mx)]
    b = ev_pd[ev_pd["ts"] == mx]
    c = ev_pd[ev_pd["ts"] < cutoff]
    for i, (name, part) in enumerate([("a_bulk", a), ("b_head", b), ("c_late", c)]):
        p = os.path.join(d, f"{name}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))

    from marmot_spark.streaming.stream import streaming_session_counts

    schema = _events(spark, sf).schema
    src = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(d)
        .withColumn("value_c", _cents("value"))
    )
    sessions = streaming_session_counts(
        src, ts="ts", entity="user_id", gap="30 minutes", watermark="5 days",
        value_col="value_c",
    )
    # scope stateful-drain parallelism (see streaming_sessionize)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        q = (
            sessions.writeStream.format("memory").queryName("stream_late_q")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("stream_late_q").select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        F.col("sum_value").alias("sum_value_c"),
    )


# late rows (first 10 days) are dropped -> sessions over day-10+ rows only;
# append mode emits sessions with end <= final watermark (max ts - 5 days)
_SQL_STREAM_LATE = f"""
WITH bounds AS (SELECT min(ts) + INTERVAL 10 DAY AS cutoff, max(ts) AS m FROM events),
kept AS (SELECT * FROM events WHERE ts >= (SELECT cutoff FROM bounds)),
g AS (
  SELECT user_id, event_id, ts, {_CENTS_SQL.format(c='value')} AS value_c,
    CASE WHEN lag(ts) OVER w IS NULL
         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM kept
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
sess AS (
  SELECT user_id, epoch_us(min(ts)) AS start_us,
    epoch_us(max(ts)) + 1800000000 AS end_us,
    CAST(count(*) AS BIGINT) AS n_events,
    CAST(sum(value_c) AS BIGINT) AS sum_value_c
  FROM s GROUP BY user_id, sid
)
SELECT * FROM sess
WHERE end_us <= (SELECT epoch_us(m) FROM bounds) - 432000000000
"""


def _q_streaming_dedup(spark, sf):
    """Streaming exact dedup, end to end
    (streaming/stream.py::streaming_dedup): two micro-batches
    (maxFilesPerTrigger=1, mtime-ordered) — (A) the full events table,
    (B) an exact REPLAY of every seventh user's events. With the 90-day
    watermark (> the table's 30-day span) no dedup state evicts during the
    run, so dropDuplicatesWithinWatermark must drop ALL of batch B: the
    drained sink equals the batch-distinct oracle exactly. The state store
    is bounded by keys-per-watermark-horizon, not stream length — the
    property that makes this viable on an unbounded feed."""
    import os

    import pandas as pd

    ev_pd = pd.read_parquet(f"{sf}/events.parquet")
    d = _fresh_tmpdir("stream_dedup", sf)
    dup = ev_pd[ev_pd["user_id"] % 7 == 0]
    for i, (name, part) in enumerate([("a_full", ev_pd), ("b_replay", dup)]):
        p = os.path.join(d, f"{name}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))

    from marmot_spark.streaming.stream import streaming_dedup

    schema = _events(spark, sf).schema
    src = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(d)
    )
    out = streaming_dedup(src, ["event_id"], ts="ts", watermark="90 days")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        q = (
            out.writeStream.format("memory").queryName("stream_dedup_q")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("stream_dedup_q").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        _cents("value").alias("value_c"),
    )


_SQL_STREAM_DEDUP = f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  {_CENTS_SQL.format(c='value')} AS value_c
FROM events
"""


def _q_streaming_asof(spark, sf):
    """Streaming point-in-time backfill, end to end
    (streaming/stream.py::streaming_asof_backfill): the events table split
    into TWO micro-batch files (maxFilesPerTrigger=1, mtime-ordered, split
    by event_id parity) streamed through foreachBatch, each micro-batch
    backfilled against the STATIC error-label table with the batch as-of
    kernel and appended to a parquet sink under a streaming checkpoint.
    Backward as-of has no cross-event state, so the drained sink must equal
    the batch as-of join over the whole table — the j2 oracle, whatever the
    batch boundaries."""
    import os
    import shutil

    import pandas as pd

    ev_pd = pd.read_parquet(f"{sf}/events.parquet")
    d = _fresh_tmpdir("stream_asof_src", sf)
    for i, (name, part) in enumerate(
        [("a_even", ev_pd[ev_pd["event_id"] % 2 == 0]),
         ("b_odd", ev_pd[ev_pd["event_id"] % 2 == 1])]
    ):
        p = os.path.join(d, f"{name}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
    io_d = _fresh_tmpdir("stream_asof_io", sf)
    out_p = os.path.join(io_d, "out")
    ck_p = os.path.join(io_d, "ck")
    for p in (out_p, ck_p):  # same-pid rerun: never append onto a stale sink
        shutil.rmtree(p, ignore_errors=True)

    from marmot_spark.streaming.stream import streaming_asof_backfill

    src = (
        spark.readStream.format("parquet").schema(_events(spark, sf).schema)
        .option("maxFilesPerTrigger", "1").load(d)
    )
    q = streaming_asof_backfill(
        src, _errors(spark, sf), out_p, ck_p,
        on="user_id", left_ts="ts", right_ts="err_ts",
        payload=["err_value_c"], tie_break="err_event_id",
    ).start()
    q.awaitTermination()
    return _no_ntz(spark, spark.read.parquet(out_p)).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("matched_ts").alias("err_ts_us"), "err_value_c",
    )


def _q_streaming_stateful_totals(spark, sf):
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running (n_events, sum_value_c) in GroupState, update mode. The source is
    a single file -> normally ONE micro-batch, and the drain is made
    deterministic against ANY batching: update mode emits one running-totals
    row per touched key per micro-batch, and n_events is strictly increasing
    per key, so the final state is ``max_by(sum, n_events)`` / ``max(n)`` over
    the sink table — the same rows whether the source produced 1 batch or 10.
    SQL-expressible, full oracle. Multi-batch incremental-state semantics are
    pinned by tests/test_ops_surface.py::test_streaming_stateful_totals."""
    from marmot_spark.streaming.stream import streaming_source, streaming_stateful_totals

    schema = _events(spark, sf).schema
    src = streaming_source(spark, f"{sf}/events.parquet", schema).withColumn(
        "value_c", _cents("value").cast("double")
    )
    totals = streaming_stateful_totals(src, entity="user_id", value_col="value_c")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        q = (
            totals.writeStream.format("memory").queryName("stream_totals_q")
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.table("stream_totals_q")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value"),
        )
        .select(
            "user_id", "n_events",
            F.floor(F.col("sum_value") + F.lit(0.5)).cast("long").alias("sum_value_c"),
        )
    )


def _q_j6_lookup_polysemy(spark, sf):
    """J6: WordNet-style lookup-table join (SURVEY.md §2 J6/F5). The lexicon
    maps word -> n_synsets; here it is derived deterministically (dictionary =
    words with corpus frequency >= 5; polysemy = arithmetic of the word's
    first/last chars + length, the same recipe as the token id) so DuckDB can
    mirror it exactly. The join itself is the real J6 shape: a BROADCAST
    lookup of a small dictionary against the exploded token stream — at 100 TB
    the lexicon (WordNet is ~150k synsets) broadcasts, the corpus never
    shuffles, and the groupBy is partial-aggregated per partition."""
    w = (
        _tbl(spark, sf, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
    )
    n_synsets = (
        (
            F.ascii(F.substring(F.col("word"), F.lit(1), F.lit(1))) * 31
            + F.ascii(F.substring(F.col("word"), F.length("word"), F.lit(1)))
            + F.length("word") * 7
        )
        % 7
        + 1
    ).cast("int")
    lex = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 5)
        .select("word", n_synsets.alias("n_synsets"))
    )
    return (
        w.join(F.broadcast(lex), "word")
        .groupBy("word", "n_synsets")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )


_SQL_J6 = """
WITH w AS (
  SELECT doc_id, u.x AS word
  FROM documents, UNNEST(string_split(text, ' ')) AS u(x)
  WHERE length(u.x) > 0
),
lex AS (
  SELECT word,
    CAST((ascii(substr(word,1,1))*31 + ascii(substr(word,length(word),1))
          + 7*length(word)) % 7 + 1 AS INT) AS n_synsets
  FROM (SELECT word FROM w GROUP BY word HAVING count(*) >= 5)
)
SELECT w.word, lex.n_synsets, CAST(count(*) AS BIGINT) AS n_occ
FROM w JOIN lex USING (word)
GROUP BY w.word, lex.n_synsets
"""


def _q_checkpoint_lineage(spark, sf):
    """S6/S7 driver-visible evidence: run a CheckpointedJob over events
    (8 hash buckets on user_id, transform = drop 'error' events + cents
    projection, verify_readback=True), then read the committed snapshot BACK
    from storage and emit one row combining the read-back aggregate with the
    manifests' lineage totals. The oracle recomputes all of it from the raw
    table, so a green hash proves (a) bucketed checkpoint output round-trips
    storage exactly and (b) manifest input/output_rows lineage is truthful."""
    from marmot_spark.checkpoint import CheckpointedJob

    ev = _events(spark, sf).select(
        "user_id", "event_id", "event_type", _cents("value").alias("value_c")
    )
    d = _fresh_tmpdir("ckpt_lineage", sf)
    job = CheckpointedJob(d, "lineage_q", snapshot_id=1, n_buckets=8)
    job.run(
        ev,
        lambda part: part.filter(F.col("event_type") != "error").drop("event_type"),
        bucket_key="user_id",
        verify_readback=True,
    )
    mans = job.manifests()
    man_out = sum(m["output_rows"] for m in mans)
    man_in = sum(m["input_rows"] for m in mans)
    return (
        job.read_output(spark)
        .agg(
            F.count(F.lit(1)).alias("read_rows"),
            F.sum("value_c").alias("sum_value_c"),
        )
        .select(
            "read_rows",
            "sum_value_c",
            F.lit(man_out).cast("long").alias("manifest_output_rows"),
            F.lit(man_in).cast("long").alias("manifest_input_rows"),
            F.lit(len(mans)).cast("long").alias("n_buckets"),
        )
    )


_SQL_CKPT_LINEAGE = f"""
SELECT
  CAST(count(*) FILTER (WHERE event_type != 'error') AS BIGINT) AS read_rows,
  CAST(sum(CASE WHEN event_type != 'error' THEN {_CENTS_SQL.format(c='value')} END) AS BIGINT) AS sum_value_c,
  CAST(count(*) FILTER (WHERE event_type != 'error') AS BIGINT) AS manifest_output_rows,
  CAST(count(*) AS BIGINT) AS manifest_input_rows,
  CAST(8 AS BIGINT) AS n_buckets
FROM events
"""


def _q_split_assign(spark, sf):
    """Deterministic content-hash train/val/test assignment (pure narrow
    projection — the split of a doc never changes with corpus growth or
    cluster shape; zero shuffle at any scale)."""
    from marmot_spark.functions.splits import split_assign

    d = _tbl(spark, sf, "documents").select("doc_id", "source")
    return split_assign(d, id_col="doc_id", train_bps=9000, val_bps=500, seed=0)


def _sql_split_assign() -> str:
    from marmot_spark.functions.splits import split_hash_sql

    h = split_hash_sql("doc_id", seed=0)
    return f"""
SELECT doc_id, source,
  CASE WHEN {h} < 9000 THEN 'train'
       WHEN {h} < 9500 THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""


_MIX_RATES = {"src0": 10000, "src1": 5000, "src2": 2500, "src3": 0}


def _q_mixture_sample(spark, sf):
    """Deterministic per-source mixture weights: keep hash(id) < rate_bps —
    the same docs survive every run (reproducible mixtures). Narrow filter,
    pushes to the scan."""
    from marmot_spark.functions.splits import mixture_sample

    d = _tbl(spark, sf, "documents").select("doc_id", "source")
    return mixture_sample(d, _MIX_RATES, source_col="source", id_col="doc_id",
                          seed=1, default_bps=7000)


def _sql_mixture_sample() -> str:
    from marmot_spark.functions.splits import split_hash_sql

    h = split_hash_sql("doc_id", seed=1)
    cases = " ".join(f"WHEN source = '{s}' THEN {b}" for s, b in _MIX_RATES.items())
    return f"""
SELECT doc_id, source FROM documents
WHERE {h} < (CASE {cases} ELSE 7000 END)
"""


def _q_pack_sequences(spark, sf):
    """Concat-and-chunk sequence packing: per-lang token streams ordered by
    doc_id, sliced into 128-token packs; docs straddling a boundary split
    across packs. n_chunks=4 exercises the two-phase prefix-sum scale path
    (per-(part, chunk) cumsum + driver base offsets) — the naive whole-part
    window would be one task per lang at 10^12 rows."""
    from marmot_spark.operators.packing import pack_segments

    d = _tbl(spark, sf, "documents").select(
        "lang", "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return pack_segments(
        d, order_key="doc_id", n_tok_col="n_tok", max_len=128,
        part_col="lang", n_chunks=4,
    )


_SQL_PACK = """
WITH d AS (
  SELECT lang, doc_id, CAST(length(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents WHERE length(string_split(text, ' ')) > 0
),
o AS (
  SELECT lang, doc_id, n,
    CAST(sum(n) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS off
  FROM d
)
SELECT lang, doc_id,
  CAST(p.x AS BIGINT) AS pack_id,
  CAST(greatest(p.x*128 - off, 0) AS INT) AS seg_start,
  CAST(least((p.x+1)*128, off+n) - greatest(p.x*128, off) AS INT) AS seg_len,
  CAST(greatest(p.x*128, off) - p.x*128 AS INT) AS pack_off
FROM o, UNNEST(range(off//128, (off+n-1)//128 + 1)) AS p(x)
"""


def _rep_sql(k: int) -> str:
    g = (
        f"list_transform(range(length(string_split(text,' ')) - {k - 1}), i -> "
        f"array_to_string(list_slice(string_split(text,' '), CAST(i+1 AS INT), CAST(i+{k} AS INT)), ' '))"
    )
    return (
        f"CASE WHEN length(string_split(text,' ')) >= {k} THEN "
        f"CAST(floor((length({g}) - length(list_distinct({g}))) * 1000000.0 / length({g})) AS BIGINT) "
        f"ELSE 0 END"
    )


def _sql_text_repetition() -> str:
    return f"""
SELECT doc_id, {_rep_sql(2)} AS dup_2gram_ppm, {_rep_sql(3)} AS dup_3gram_ppm
FROM documents
"""


def _q_contamination_check(spark, sf):
    """Benchmark-contamination scan: per TEST doc, the fraction of its
    3-gram shingles that occur anywhere in the TRAIN split (split = the
    deterministic content-hash assignment). Composes split_assign with the
    dedup shingle machinery; the join key is the int64 shingle hash."""
    from marmot_spark.functions.splits import split_assign
    from marmot_spark.operators.dedup import cross_split_contamination

    d = split_assign(_docs(spark, sf), id_col="doc_id")
    # bloom pre-filter ON (2^20 bits): the train-shingle bloom is built
    # distributed, broadcast, and drops definite-miss test shingles BEFORE
    # the exchange — result bit-identical to bloom-off (false positives fall
    # through to the exact join); parity pinned by
    # tests/test_token_pipeline.py::test_contamination_bloom_parity
    return cross_split_contamination(
        d, "tokens", "split", "doc_id", k=3, bloom_bits=1 << 20
    )


def _sql_contamination_check() -> str:
    from marmot_spark.functions.splits import split_hash_sql

    h = split_hash_sql("doc_id", 0)
    split = f"CASE WHEN {h} < 9000 THEN 'train' WHEN {h} < 9500 THEN 'val' ELSE 'test' END"
    return f"""
WITH {DOCS_T},
s AS (
  SELECT doc_id, {split} AS split, list_distinct({_SH3}) AS sh
  FROM docs_t WHERE length(tokens) >= 3
),
tr AS (SELECT DISTINCT u.x AS shh FROM s, UNNEST(sh) AS u(x) WHERE split = 'train'),
te AS (SELECT doc_id, u.x AS sh FROM s, UNNEST(sh) AS u(x) WHERE split = 'test')
SELECT te.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
  CAST(count(tr.shh) AS BIGINT) AS n_contaminated,
  CAST(floor(count(tr.shh) * 1000000 / count(*)) AS BIGINT) AS contamination_ppm
FROM te LEFT JOIN tr ON te.sh = tr.shh
GROUP BY te.doc_id
"""


def _sql_quality_filter() -> str:
    n_tok = "len(string_split(text, ' '))"
    punct = (
        "floor((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))"
        f" * 1000000 / greatest(length(text), 1))"
    )
    stop = (
        f"floor(len(list_filter(string_split(text, ' '), x -> x IN {_in_list_sql(STOPWORDS)}))"
        f" * 1000000 / {n_tok})"
    )
    rep3 = _rep_sql(3)
    return f"""
SELECT doc_id,
  CAST({n_tok} < 5 AS INT) AS f_too_short,
  CAST({punct} > 100000 AS INT) AS f_high_punct,
  CAST({stop} < 10000 AS INT) AS f_low_stopword,
  CAST({rep3} > 100000 AS INT) AS f_high_repetition,
  CAST(({n_tok} >= 5) AND ({punct} <= 100000) AND ({stop} >= 10000)
       AND ({rep3} <= 100000) AS INT) AS keep
FROM documents
"""


def _q_bpe_train(spark, sf):
    """Distributed BPE merge training over the documents' token-id sequences
    (6 rounds): returns the ordered merge table. Although iterative, the
    FIXED merge budget lets the oracle unroll the rounds as chained CTEs
    (`_sql_bpe_train` — windowed greedy-merge rewrite per round), so even
    this query is exactly DuckDB-verified; python-reference parity is
    additionally pinned by
    tests/test_token_pipeline.py::test_bpe_train_matches_reference."""
    from marmot_spark.operators.bpe import train_bpe_merges

    merges = train_bpe_merges(_docs(spark, sf), "tokens", n_merges=6, new_id_base=1_000_000)
    return spark.createDataFrame(
        [(m["rank"], m["a"], m["b"], m["new_id"], m["cnt"]) for m in merges],
        "rank int, a int, b int, new_id int, cnt long",
    )


def _bpe_cte(n_merges: int, base: int = 1_000_000, min_count: int = 2) -> str:
    """Shared CTE chain for the BPE oracles: the fixed merge budget is
    UNROLLED as chained CTEs (one per round); ``s{n_merges}`` holds the fully
    rewritten (encoded) corpus and ``m{k}`` round k's chosen merge. Greedy
    left-to-right merge application is expressed with windows instead of a
    fold: for a != b, adjacent matches are provably disjoint (a match at i+1
    would need tok[i+1] = a AND b simultaneously), so every (a, b) site
    merges; for a == b, a gaps-and-islands run offset gives the within-run
    parity and even offsets start merges. A consumed position is exactly one
    whose predecessor started a merge. Tie-break = struct-min over
    (-cnt, a, b); early stop = an `act` flag that latches false once the
    best count drops below min_count."""
    parts = [f"WITH {DOCS_T},", "s0 AS (SELECT doc_id AS id, tokens AS tk FROM docs_t)"]
    for k in range(n_merges):
        prev_act = f" AND (SELECT act FROM m{k-1})" if k > 0 else ""
        parts.append(f""",
p{k} AS (
  SELECT tk[CAST(u.i AS INT)+1] AS a, tk[CAST(u.i AS INT)+2] AS b
  FROM s{k}, UNNEST(range(length(tk)-1)) AS u(i)
),
b{k} AS (
  SELECT min(struct_pack(c := -cnt, a := a, b := b)) AS m
  FROM (SELECT a, b, count(*) AS cnt FROM p{k} GROUP BY a, b)
),
m{k} AS (
  SELECT struct_extract(m, 'a') AS a, struct_extract(m, 'b') AS b,
    CAST(-struct_extract(m, 'c') AS BIGINT) AS cnt,
    CAST({base} + {k} AS INT) AS nid,
    (COALESCE(-struct_extract(m, 'c') >= {min_count}, FALSE){prev_act}) AS act
  FROM b{k}
),
e{k} AS (
  SELECT s.id, CAST(u.i AS INT) AS pos, s.tk[CAST(u.i AS INT)+1] AS tok,
    m.a, m.b, m.nid, m.act
  FROM s{k} s, m{k} m, UNNEST(range(length(s.tk))) AS u(i)
),
w{k} AS (
  SELECT *, lead(tok) OVER (PARTITION BY id ORDER BY pos) AS nxt,
    pos - ROW_NUMBER() OVER (PARTITION BY id, tok = a ORDER BY pos) AS rid
  FROM e{k}
),
x{k} AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id, tok = a, rid ORDER BY pos) - 1 AS runoff
  FROM w{k}
),
y{k} AS (
  SELECT *, (act AND CASE WHEN a = b THEN tok = a AND runoff % 2 = 0 AND nxt = b
                          ELSE tok = a AND nxt = b END) AS strt
  FROM x{k}
),
z{k} AS (
  SELECT *, COALESCE(lag(strt) OVER (PARTITION BY id ORDER BY pos), FALSE) AS consumed
  FROM y{k}
),
s{k+1} AS (
  SELECT id, list(CASE WHEN strt THEN nid ELSE tok END ORDER BY pos)
             FILTER (WHERE NOT consumed) AS tk
  FROM z{k} GROUP BY id
)""")
    return "".join(parts)


def _sql_bpe_train(n_merges: int = 6, base: int = 1_000_000, min_count: int = 2) -> str:
    """Merge-table oracle: the shared ``_bpe_cte`` chain + a union over the
    active rounds' chosen merges."""
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INT) AS rank, CAST(a AS INT) AS a, CAST(b AS INT) AS b, "
        f"nid AS new_id, cnt FROM m{k} WHERE act"
        for k in range(n_merges)
    )
    return _bpe_cte(n_merges, base, min_count) + "\n" + unions


def _q_bpe_encode(spark, sf):
    """Tokenizer round-trip: train 4 BPE merges on the corpus, then APPLY them
    to the same corpus (operators/bpe.py::bpe_encode — n_merges chained
    ``F.aggregate`` folds, a narrow JVM-side columnar rewrite: zero Python,
    zero shuffle after training) and emit the encoded sequences exploded as
    (doc_id, pos, tok). The oracle reuses the unrolled training CTE chain,
    whose final ``s4`` relation IS the encoded corpus."""
    from marmot_spark.operators.bpe import bpe_encode, train_bpe_merges

    docs = _docs(spark, sf)
    merges = train_bpe_merges(docs, "tokens", n_merges=4, new_id_base=1_000_000)
    enc = bpe_encode(docs, merges, "tokens", "enc")
    return enc.select("doc_id", F.posexplode("enc").alias("pos", "tok"))


def _sql_bpe_encode(n_merges: int = 4) -> str:
    return _bpe_cte(n_merges) + f"""
SELECT id AS doc_id, CAST(u.i AS INT) AS pos, tk[CAST(u.i AS INT)+1] AS tok
FROM s{n_merges}, UNNEST(range(length(tk))) AS u(i)
"""


def _q_text_tfidf(spark, sf):
    """Per-(doc, term) tf-idf (operators/scoring.py::tf_idf): tf from the one
    corpus-sized (doc, tok) exchange, document frequency broadcast back
    (vocab-sized), corpus doc count as a 1-row broadcast crossJoin. tfidf
    quantized to milli units inside the operator (integer-exact hash)."""
    from marmot_spark.operators.scoring import tf_idf

    return tf_idf(_docs(spark, sf), "doc_id", "tokens", quant=1000)


_SQL_TFIDF = f"""
WITH {DOCS_T}, {DOCS_E},
tfd AS (SELECT doc_id, tok, count(*) AS tf FROM docs_e GROUP BY doc_id, tok),
dfd AS (SELECT tok, count(*) AS df FROM tfd GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM docs_t)
SELECT t.doc_id, t.tok, CAST(t.tf AS BIGINT) AS tf, CAST(d.df AS BIGINT) AS df,
  CAST(floor(CAST(t.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE))
             * 1000.0 + 0.5) AS BIGINT) AS tfidf_q
FROM tfd t JOIN dfd d USING (tok), n
"""


def _q_lm_score_bigram(spark, sf):
    """Add-one-smoothed bigram LM fluency scoring
    (operators/scoring.py::bigram_lm_loglik): train on docs with
    doc_id %% 5 != 0, score the held-out fifth — the KenLM-ish perplexity
    filter trained and applied in one DAG. Per-bigram log-probs are
    quantized to micro units BEFORE the per-doc sum, so ll_q is an exact
    integer (summation-order independent)."""
    from marmot_spark.operators.scoring import bigram_lm_loglik

    docs = _docs(spark, sf)
    train = docs.filter(F.col("doc_id") % 5 != 0)
    score = docs.filter(F.col("doc_id") % 5 == 0)
    return bigram_lm_loglik(train, score, "doc_id", "tokens")


_SQL_LM_SCORE = f"""
WITH {DOCS_T},
tr AS (SELECT * FROM docs_t WHERE doc_id % 5 <> 0),
sc AS (SELECT * FROM docs_t WHERE doc_id % 5 = 0),
trp AS (SELECT tokens[CAST(u.i AS INT)+1] AS a, tokens[CAST(u.i AS INT)+2] AS b
        FROM tr, UNNEST(range(length(tokens)-1)) AS u(i)),
bi AS (SELECT a, b, count(*) AS cab FROM trp GROUP BY a, b),
ctx AS (SELECT a, sum(cab) AS ctxn FROM bi GROUP BY a),
v AS (SELECT count(DISTINCT tokens[CAST(u.p AS INT)+1]) AS v
      FROM tr, UNNEST(range(length(tokens))) AS u(p)),
terms AS (
  SELECT s.doc_id,
    CAST(floor(ln((CAST(COALESCE(b.cab, 0) AS DOUBLE) + 1.0)
                  / (CAST(COALESCE(c.ctxn, 0) AS DOUBLE) + CAST(v.v AS DOUBLE)))
               * 1000000.0 + 0.5) AS BIGINT) AS t
  FROM (SELECT sc.doc_id, tokens[CAST(u.i AS INT)+1] AS a, tokens[CAST(u.i AS INT)+2] AS b
        FROM sc, UNNEST(range(length(tokens)-1)) AS u(i)) s
  LEFT JOIN bi b USING (a, b) LEFT JOIN ctx c USING (a), v)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(t) AS BIGINT) AS ll_q
FROM terms GROUP BY doc_id
"""


def _q_importance_weights(spark, sf):
    """DSIR-style hashed-bigram importance weights toward the lang='en'
    target domain (operators/scoring.py::importance_weights): per-bucket
    target-vs-raw log-ratios (1024 buckets, broadcast) summed per doc after
    micro-unit quantization. The resampling signal of Xie et al. 2023."""
    from marmot_spark.operators.scoring import importance_weights

    return importance_weights(
        _docs(spark, sf), F.col("lang") == "en", "doc_id", "tokens",
        k=2, n_buckets=1024,
    )


def _sql_importance_weights(n_buckets: int = 1024) -> str:
    bucket = (
        f"list_transform(range(length(tokens)-1), i -> CAST("
        f"(((({_T.format(j=1)}+1) % 2147483647) * 1000003 + {_T.format(j=2)}+1)"
        f" % 2147483647) % {n_buckets} AS INT))"
    )
    return f"""
WITH {DOCS_T},
feats AS (SELECT doc_id, (lang = 'en') AS tgt, u.f AS f
          FROM docs_t, UNNEST({bucket}) AS u(f)),
buckets AS (SELECT f, count(*) AS r, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t
            FROM feats GROUP BY f),
tot AS (SELECT sum(r) AS tr, sum(t) AS tt FROM buckets),
ratio AS (SELECT f,
  CAST(floor((ln((CAST(t AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + {n_buckets}.0))
            - ln((CAST(r AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + {n_buckets}.0)))
             * 1000000.0 + 0.5) AS BIGINT) AS lr
  FROM buckets, tot)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats, CAST(sum(lr) AS BIGINT) AS w_q
FROM feats JOIN ratio USING (f) GROUP BY doc_id
"""


def _q_a9_pmi_collocations(spark, sf):
    """Collocation extraction by pointwise mutual information: for every
    adjacent token pair seen >= 3 times, pmi = ln(P(a,b) / (P(a)P(b))) over
    the corpus's adjacency distribution — the classic MT/LM collocation
    feature. All probabilities share one denominator (total pair count), so
    pmi = ln((cab * n) / (ca * cb)) with ca/cb = occurrences as left/right
    member; quantized to micro units (single ln on an exact rational — the
    deterministic-hash contract of scoring.py). Pair counts are one
    vocabulary-bounded exchange; the marginals are vocab-sized broadcasts."""
    from marmot_spark.operators.scoring import _pairs

    pairs = _pairs(_docs(spark, sf), "doc_id", "tokens")
    bi = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    left = bi.groupBy("a").agg(F.sum("cab").alias("ca"))
    right = bi.groupBy("b").agg(F.sum("cab").alias("cb"))
    tot = bi.agg(F.sum("cab").alias("__n"))
    return (
        bi.filter(F.col("cab") >= 3)
        .join(F.broadcast(left), "a").join(F.broadcast(right), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a", "b", F.col("cab").cast("long").alias("cab"),
            F.floor(
                F.log(
                    (F.col("cab").cast("double") * F.col("__n").cast("double"))
                    / (F.col("ca").cast("double") * F.col("cb").cast("double"))
                ) * F.lit(1e6) + F.lit(0.5)
            ).cast("long").alias("pmi_q"),
        )
    )


_SQL_A9 = f"""
WITH {DOCS_T},
p AS (SELECT tokens[CAST(u.i AS INT)+1] AS a, tokens[CAST(u.i AS INT)+2] AS b
      FROM docs_t, UNNEST(range(length(tokens)-1)) AS u(i)),
bi AS (SELECT a, b, count(*) AS cab FROM p GROUP BY a, b),
l AS (SELECT a, sum(cab) AS ca FROM bi GROUP BY a),
r AS (SELECT b, sum(cab) AS cb FROM bi GROUP BY b),
n AS (SELECT sum(cab) AS n FROM bi)
SELECT bi.a, bi.b, CAST(bi.cab AS BIGINT) AS cab,
  CAST(floor(ln((CAST(bi.cab AS DOUBLE) * CAST(n.n AS DOUBLE))
                / (CAST(l.ca AS DOUBLE) * CAST(r.cb AS DOUBLE)))
             * 1000000.0 + 0.5) AS BIGINT) AS pmi_q
FROM bi JOIN l USING (a) JOIN r USING (b), n
WHERE bi.cab >= 3
"""


def _q_f9_discretize(spark, sf):
    """Exact equal-frequency (quantile) binning of n_chars into 8 buckets
    (operators/rank.py::quantile_buckets): bucket = floor(cum_lt * 8 / n)
    over the exact distributed CDF — ties share a bucket, and the only
    ranked structure is the distinct-value histogram (octave-decomposed,
    never a global ntile sort). The oracle's window computes the same
    strictly-below cumulative count directly. Second part ('drift'):
    operators/drift.py::snapshot_drift — the per-bin distribution-drift
    table between the even- and odd-doc_id snapshots over the POOLED
    quantile bins: exact counts, floor-ppm proportions, and the
    overflow-safe proportion-form chi-square contribution (all integer
    arithmetic; PSI/KL derivable downstream from the same counts)."""
    from marmot_spark.operators.drift import snapshot_drift
    from marmot_spark.operators.rank import quantile_buckets

    docs = _tbl(spark, sf, "documents").select("doc_id", "n_chars")
    bins = quantile_buckets(docs, "n_chars", 8, keep=["doc_id"]).select(
        F.lit("bins").alias("part"),
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
        F.col("bucket").cast("int").alias("bucket"),
        F.lit(None).cast("long").alias("n_a"), F.lit(None).cast("long").alias("n_b"),
        F.lit(None).cast("long").alias("chi2_q"),
    )
    drift = snapshot_drift(
        docs.filter(F.col("doc_id") % 2 == 0).select("n_chars"),
        docs.filter(F.col("doc_id") % 2 == 1).select("n_chars"),
        "n_chars", 8,
    ).select(
        F.lit("drift").alias("part"),
        F.lit(None).cast("long").alias("doc_id"), F.lit(None).cast("long").alias("n_chars"),
        F.col("bucket").cast("int").alias("bucket"),
        "n_a", "n_b", "chi2_q",
    )
    return bins.unionByName(drift)


_SQL_F9 = """
WITH c AS (
  SELECT doc_id, n_chars,
    CAST(count(*) OVER (ORDER BY n_chars RANGE BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS BIGINT) AS cum_lt,
    (SELECT count(*) FROM documents) AS n
  FROM documents),
du AS (SELECT CAST(doc_id % 2 AS INT) AS side, n_chars FROM documents),
dc AS (SELECT side, n_chars,
        CAST(count(*) OVER (ORDER BY n_chars RANGE BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS BIGINT) AS cum_lt,
        (SELECT count(*) FROM du) AS n
      FROM du),
db AS (SELECT side, CAST((cum_lt * 8) // n AS INT) AS bucket FROM dc),
dp AS (SELECT bucket,
        CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(side) AS BIGINT) AS n_b
       FROM db GROUP BY bucket),
dt AS (SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb FROM dp),
dr AS (SELECT bucket, n_a, n_b,
        n_a * 1000000 // greatest(dt.na, 1) AS pa_ppm,
        n_b * 1000000 // greatest(dt.nb, 1) AS pb_ppm
       FROM dp, dt)
SELECT 'bins' AS part, doc_id, n_chars, CAST(floor(cum_lt * 8 / n) AS INT) AS bucket,
  CAST(NULL AS BIGINT) AS n_a, CAST(NULL AS BIGINT) AS n_b, CAST(NULL AS BIGINT) AS chi2_q
FROM c
UNION ALL
SELECT 'drift', NULL, NULL, bucket, n_a, n_b,
  (pa_ppm - pb_ppm) * (pa_ppm - pb_ppm) // greatest(pa_ppm + pb_ppm, 1)
FROM dr
"""


def _q_a8_corr_stats(spark, sf):
    """Exact second-moment statistics between document length (n_chars) and
    token count: one global aggregate emitting the raw BIGINT sums
    (n, sum_x, sum_y, sum_xx, sum_yy, sum_xy) — the sufficient statistics of
    Pearson correlation as exact integers (a float corr would be
    summation-order dependent; from these sums any engine derives the same
    correlation deterministically)."""
    docs = _docs(spark, sf)
    x = F.col("n_chars").cast("long")
    y = F.size("tokens").cast("long")
    return docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sum_x"), F.sum(y).alias("sum_y"),
        F.sum(x * x).alias("sum_xx"), F.sum(y * y).alias("sum_yy"),
        F.sum(x * y).alias("sum_xy"),
    )


_SQL_A8 = f"""
WITH {DOCS_T},
m AS (SELECT n_chars AS x, length(tokens) AS y FROM docs_t)
SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
  CAST(sum(x*x) AS BIGINT) AS sum_xx, CAST(sum(y*y) AS BIGINT) AS sum_yy,
  CAST(sum(x*y) AS BIGINT) AS sum_xy
FROM m
"""


# ---------------------------------------------------------------------------
# COMPOSED driver queries (round 5): the driver's CORRECTNESS file caps at 50
# entries, so the registry is consolidated to <= 50 by composing same-family
# variants into one oracle-paired query each. Every composite calls the SAME
# verified building-block functions as before (the per-variant _q_ functions
# stay as the construction sites) and its oracle embeds the per-variant SQL
# blocks verbatim as CTEs — one green row now certifies the whole family.
# ---------------------------------------------------------------------------


def _q_j2_asof_suite(spark, sf):
    """J2 — all six as-of variants in one verified result: backward (window
    strategy), backward (explicit Arrow merge kernel), 10-min tolerance,
    forward, nearest, and the CHAINED multi-table feature-store form
    (errors + purchases point-in-time on one spine), each as its own
    (ts, value) column set joined on event_id. One green row = the full
    as-of API surface."""
    variants = {
        "back": _q_j2_asof_backfill, "merge": _q_j2_asof_merge,
        "tol": _q_j2_asof_tolerance, "fwd": _q_j2_asof_forward,
        "near": _q_j2_asof_nearest,
    }
    out = None
    for tag, fn in variants.items():
        v = fn(spark, sf).select(
            "event_id",
            *(["user_id", "ts_us"] if out is None else []),
            F.col("err_ts_us").alias(f"{tag}_ts_us"),
            F.col("err_value_c").alias(f"{tag}_value_c"),
        )
        out = v if out is None else out.join(v, "event_id")
    ch = _q_j2_asof_chain(spark, sf).select(
        "event_id",
        F.col("err_ts_us").alias("chain_err_ts_us"),
        F.col("err_value_c").alias("chain_err_value_c"),
        F.col("buy_ts_us").alias("chain_buy_ts_us"),
        F.col("buy_value_c").alias("chain_buy_value_c"),
    )
    return out.join(ch, "event_id")


_SQL_J2_SUITE = f"""
WITH b AS ({_SQL_J2}), t AS ({_SQL_J2_TOL}), f AS ({_SQL_J2_FWD}), n AS ({_SQL_J2_NEAREST}),
ch AS ({_SQL_J2_CHAIN})
SELECT b.event_id, b.user_id, b.ts_us,
  b.err_ts_us AS back_ts_us, b.err_value_c AS back_value_c,
  b.err_ts_us AS merge_ts_us, b.err_value_c AS merge_value_c,
  t.err_ts_us AS tol_ts_us, t.err_value_c AS tol_value_c,
  f.err_ts_us AS fwd_ts_us, f.err_value_c AS fwd_value_c,
  n.err_ts_us AS near_ts_us, n.err_value_c AS near_value_c,
  ch.err_ts_us AS chain_err_ts_us, ch.err_value_c AS chain_err_value_c,
  ch.buy_ts_us AS chain_buy_ts_us, ch.buy_value_c AS chain_buy_value_c
FROM b
JOIN t ON t.event_id = b.event_id
JOIN f ON f.event_id = b.event_id
JOIN n ON n.event_id = b.event_id
JOIN ch ON ch.event_id = b.event_id
"""


def _q_a4_rolling_suite(spark, sf):
    """A4 — serial path (per-user 1h frames) AND the chunked scale path
    (n_chunks=4 on the low-cardinality event_type) joined on event_id, plus
    the rolling DISTINCT count (operators/windows.py::rolling_distinct —
    distinct event types this user touched in the trailing hour; exact
    RANGE-frame collect_set, sharing the per-user exchange)."""
    from marmot_spark.operators.windows import rolling_distinct

    s = _q_a4_rolling_count(spark, sf)
    rd = rolling_distinct(
        _events(spark, sf), "user_id", "ts", 3600, "event_type", "rolling_types"
    ).select("event_id", "rolling_types")
    c = _q_a4_rolling_chunked(spark, sf).select(
        "event_id", "event_type",
        F.col("rolling_n").alias("chk_rolling_n"),
        F.col("rolling_value_c").alias("chk_rolling_value_c"),
    )
    return s.join(c, "event_id").join(rd, "event_id")


_SQL_A4_SUITE = f"""
WITH s AS ({_SQL_A4}), c AS ({_SQL_A4_CHUNKED}),
rd AS (SELECT event_id,
         CAST(count(DISTINCT event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_types
       FROM events)
SELECT s.event_id, s.user_id, c.event_type, s.ts_us, s.rolling_n, s.rolling_value_c,
  c.rolling_n AS chk_rolling_n, c.rolling_value_c AS chk_rolling_value_c,
  rd.rolling_types
FROM s JOIN c ON c.event_id = s.event_id JOIN rd ON rd.event_id = s.event_id
"""


def _q_w6_sessionize_suite(spark, sf):
    """W6 — serial sessionize (per-user) AND the chunked boundary-merge path
    (n_chunks=4 on event_type) joined on event_id, plus the SESSION-LEVEL
    features (operators/windows.py::session_features): events-in-session,
    session duration, within-session position, session value sum — all
    free riders on sessionize's one Exchange (windows over
    (user_id, session_id) re-use hashpartitioning(user_id); sort only)."""
    from marmot_spark.operators.windows import session_features, sessionize

    ev = _events(spark, sf).withColumn("value_c", _cents("value"))
    ev = sessionize(ev, "user_id", "ts", 1800.0, order_extra=["event_id"])
    ev = session_features(
        ev, "user_id", "ts", value_col="value_c", order_extra=["event_id"]
    )
    s = ev.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "session_id",
        "sess_n", "sess_dur_us", "sess_idx", F.col("sess_sum").alias("sess_sum_c"),
    )
    c = _q_w6_sessionize_chunked(spark, sf).select(
        "event_id", "event_type", F.col("session_id").alias("chk_session_id")
    )
    return s.join(c, "event_id")


_SQL_W6_SUITE = f"""
WITH s AS ({_SQL_W6}), c AS ({_SQL_W6_CHUNKED}),
sfeat AS (
  SELECT s.*, {_CENTS_SQL.format(c='e.value')} AS vc
  FROM s JOIN events e ON e.event_id = s.event_id
)
SELECT event_id, user_id, ts_us, session_id,
  count(*) OVER wg AS sess_n,
  max(ts_us) OVER wg - min(ts_us) OVER wg AS sess_dur_us,
  CAST(row_number() OVER (PARTITION BY user_id, session_id
                          ORDER BY ts_us, event_id) AS BIGINT) AS sess_idx,
  CAST(sum(vc) OVER wg AS BIGINT) AS sess_sum_c,
  event_type, chk_session_id
FROM (
  SELECT sfeat.*, c.event_type, c.session_id AS chk_session_id
  FROM sfeat JOIN c ON c.event_id = sfeat.event_id
)
WINDOW wg AS (PARTITION BY user_id, session_id)
"""


def _q_s5_external(spark, sf):
    """S5 — both external-tool modes in one result: spawn-per-batch `tr`
    (upper_text) and long-lived per-partition worker `sed -u` (snake_text)."""
    p = _q_s5_external_pipe(spark, sf)
    w = _q_s5_external_worker(spark, sf)
    return p.join(w, "doc_id")


_SQL_S5_SUITE = f"""
WITH p AS ({_SQL_S5}), w AS ({_SQL_S5_WORKER})
SELECT p.doc_id, p.upper_text, w.snake_text FROM p JOIN w ON w.doc_id = p.doc_id
"""


def _q_j3_ngram_suite(spark, sf):
    """J3 + W3 — n-gram dictionary membership through BOTH construction
    paths: the 2-gram-only dict (max_n=2 kernel; in_lm2_d2) and the unioned
    1/2/3-gram dict with longest-match order, joined per (doc, pos)."""
    a = _q_j3_ngram_membership(spark, sf).select(
        "doc_id", "pos", F.col("in_lm_2").alias("in_lm2_d2")
    )
    b = _q_w3_longest_ngram(spark, sf)
    return b.join(a, ["doc_id", "pos"])


_SQL_J3_SUITE = f"""
WITH a AS ({_SQL_J3}), b AS ({_SQL_W3})
SELECT b.doc_id, b.pos, b.tok, b.in_lm_1, b.in_lm_2, b.in_lm_3, b.longest_ngram,
  a.in_lm_2 AS in_lm2_d2
FROM b JOIN a ON a.doc_id = b.doc_id AND a.pos = b.pos
"""


def _q_text_metrics(spark, sf):
    """All per-document text-analysis signals as ONE narrow codegen
    projection (the plan a 100 TB curation pass wants — no joins, no
    shuffle, one scan): quality ratios, language-ID, token counts,
    repetition fractions, rolling-hash fingerprint, the composite
    C4/Gopher keep/drop flags, and the PII-redaction pass (counts +
    redacted text over deterministically synthesized PII — the raw corpus
    carries none, so the patterns are exercised against text built from
    doc_id inside the query and identically inside the oracle). Also the
    WARC-ingestion text extractor (sources/warc.py::html_to_text) over HTML
    synthesized from each document the same way on both sides — the RE2-safe
    regexp chain runs identically in Spark and DuckDB."""
    from marmot_spark.functions.redact import pii_count_cols, redact_pii_col
    from marmot_spark.sources.warc import html_to_text
    from marmot_spark.functions.text import (
        doc_fingerprint_col, lang_id_col, quality_cols, repetition_cols,
        token_count_cols,
    )

    d = _docs(spark, sf).withColumn(
        "pii_text",
        F.concat(
            F.col("text"), F.lit(" mail u"), F.col("doc_id").cast("string"),
            F.lit("@ex.com ip 10.1.2."), (F.col("doc_id") % 250).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" extra 8.8.8.8")).otherwise(F.lit("")),
            F.lit(" tel 555-123-4567"),
        ),
    )
    q = quality_cols("text")
    tc = token_count_cols("text")
    r = repetition_cols("text")
    n_tok = F.size(F.split("text", " "))
    too_short = (n_tok < 5).cast("int")
    high_punct = (q["punct_ratio_ppm"] > 100_000).cast("int")
    low_stop = (q["stop_ratio_ppm"] < 10_000).cast("int")
    high_rep = (r["dup_3gram_ppm"] > 100_000).cast("int")
    keep = (
        (too_short == 0) & (high_punct == 0) & (low_stop == 0) & (high_rep == 0)
    ).cast("int")
    return d.select(
        "doc_id", "lang",
        *[c.alias(k) for k, c in q.items()],
        lang_id_col("text").alias("pred_lang"),
        *[c.alias(k) for k, c in tc.items()],
        *[c.alias(k) for k, c in r.items()],
        doc_fingerprint_col("tokens").alias("fingerprint"),
        too_short.alias("f_too_short"),
        high_punct.alias("f_high_punct"),
        low_stop.alias("f_low_stopword"),
        high_rep.alias("f_high_repetition"),
        keep.alias("keep"),
        *[c.alias(k) for k, c in pii_count_cols("pii_text").items()],
        redact_pii_col("pii_text").alias("text_redacted"),
        html_to_text(
            F.concat(
                F.lit("<html><body><h1>Doc "), F.col("doc_id").cast("string"),
                F.lit("</h1><style>.x red</style><p>"), F.col("text"),
                F.lit(" &amp; tail</p><script>var x=1</script></body></html>"),
            )
        ).alias("text_from_html"),
    )


def _html_extract_sql(src: str) -> str:
    """DuckDB mirror of sources/warc.py::html_to_text — the IDENTICAL
    RE2-safe regexp/replace chain, step for step."""
    t = src
    for pat, rep in [
        ("(?is)<script\\b[^>]*>.*?</script>", "' '"),
        ("(?is)<style\\b[^>]*>.*?</style>", "' '"),
        ("(?s)<!--.*?-->", "' '"),
        ("(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)\\b[^>]*>", "chr(10)"),
        ("(?s)<[^>]*>", "' '"),
    ]:
        t = f"regexp_replace({t}, '{pat}', {rep}, 'g')"
    for ent, ch in [
        ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "''"), ("&nbsp;", " "),
    ]:
        t = f"replace({t}, '{ent}', '{ch}')"
    t = f"regexp_replace({t}, '[ \\t\\x0b\\f\\r]+', ' ', 'g')"
    t = f"regexp_replace({t}, ' ?\\n ?', chr(10), 'g')"
    t = f"regexp_replace({t}, '\\n{{2,}}', chr(10), 'g')"
    return f"regexp_replace({t}, '^\\s+|\\s+$', '', 'g')"


def _sql_text_metrics() -> str:
    from marmot_spark.functions.redact import pii_oracle_sql

    pii_src = (
        "concat(text, ' mail u', CAST(doc_id AS VARCHAR), '@ex.com ip 10.1.2.', "
        "CAST(doc_id % 250 AS VARCHAR), "
        "CASE WHEN doc_id % 3 = 0 THEN ' extra 8.8.8.8' ELSE '' END, "
        "' tel 555-123-4567')"
    )
    o = pii_oracle_sql("pii_text")
    pii = (
        f"SELECT doc_id, {o['n_email']} AS n_email, {o['n_ipv4']} AS n_ipv4, "
        f"{o['n_phone']} AS n_phone, {o['text_redacted']} AS text_redacted "
        f"FROM (SELECT doc_id, {pii_src} AS pii_text FROM documents)"
    )
    html_src = (
        "concat('<html><body><h1>Doc ', CAST(doc_id AS VARCHAR), "
        "'</h1><style>.x red</style><p>', text, "
        "' &amp; tail</p><script>var x=1</script></body></html>')"
    )
    hx = (
        f"SELECT doc_id, {_html_extract_sql(html_src)} AS text_from_html FROM documents"
    )
    return f"""
WITH q AS ({_SQL_QUALITY}), l AS ({_sql_lang_id()}), tc AS ({_SQL_TOKEN_COUNTS}),
r AS ({_sql_text_repetition()}), fp AS ({_SQL_FINGERPRINT}), qf AS ({_sql_quality_filter()}),
pii AS ({pii}), hx AS ({hx})
SELECT q.doc_id, l.lang, q.n_chars_obs, q.n_punct, q.n_stop, q.stop_ratio_ppm,
  q.punct_ratio_ppm, l.pred_lang, tc.n_tok_ws, tc.n_alpha_runs, tc.n_num_runs,
  r.dup_2gram_ppm, r.dup_3gram_ppm, fp.fingerprint,
  qf.f_too_short, qf.f_high_punct, qf.f_low_stopword, qf.f_high_repetition, qf.keep,
  pii.n_email, pii.n_ipv4, pii.n_phone, pii.text_redacted, hx.text_from_html
FROM q
JOIN l ON l.doc_id = q.doc_id
JOIN tc ON tc.doc_id = q.doc_id
JOIN r ON r.doc_id = q.doc_id
JOIN fp ON fp.doc_id = q.doc_id
JOIN qf ON qf.doc_id = q.doc_id
JOIN pii ON pii.doc_id = q.doc_id
JOIN hx ON hx.doc_id = q.doc_id
"""


def _q_text_curation(spark, sf):
    """The round-4 scoring suite as one per-document curation table:
    tf-idf (aggregated per doc: term count / sum / max of the quantized
    scores), held-out bigram-LM fluency (docs with doc_id%5==0), and DSIR
    importance weights toward lang='en' — all left-joined onto the full
    doc-id spine (docs outside a scorer's domain carry NULLs), plus the
    CCNet-style cross-corpus boilerplate line removal (the raw corpus is
    single-line, so multi-line docs are synthesized inside the query — a
    per-source header that becomes corpus boilerplate, the real text, a
    per-doc unique footer — identically in the oracle), and the closed-form
    naive-Bayes log-odds quality classifier (CCNet/GPT-3-style quality
    filter, positive class lang='en') trained and applied in the same DAG."""
    from marmot_spark.operators.lines import strip_boilerplate_lines
    from marmot_spark.operators.scoring import (
        bigram_lm_kn, bigram_lm_loglik, importance_weights, nb_logodds, tf_idf,
    )

    docs = _docs(spark, sf)
    base = docs.select("doc_id")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.lit("read "), F.col("source"), F.lit(" daily\n"), F.col("text"),
            F.lit("\nfooter "), F.col("doc_id").cast("string"),
        ).alias("mtext"),
    )
    bp = strip_boilerplate_lines(synth, "doc_id", "mtext", min_docs=3).select(
        "doc_id", "n_lines", "n_lines_kept", "text_clean"
    )
    ta = (
        tf_idf(docs, "doc_id", "tokens", quant=1000)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("tfidf_q").alias("tfidf_sum_q"),
            F.max("tfidf_q").alias("tfidf_max_q"),
        )
    )
    lm = bigram_lm_loglik(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        "doc_id", "tokens",
    )
    kn = bigram_lm_kn(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        "doc_id", "tokens",
    ).select("doc_id", "kn_ll_q")
    iw = importance_weights(
        docs, F.col("lang") == "en", "doc_id", "tokens", k=2, n_buckets=1024
    )
    nb = nb_logodds(docs, F.col("lang") == "en", "doc_id", "tokens")
    return (
        base.join(ta, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .join(kn, "doc_id", "left")
        .join(iw, "doc_id", "left")
        .join(bp, "doc_id", "left")
        .join(nb, "doc_id", "left")
    )


def _sql_text_curation() -> str:
    return f"""
WITH {DOCS_T}, {DOCS_E},
t AS ({_SQL_TFIDF}), lm AS ({_SQL_LM_SCORE}), iw AS ({_sql_importance_weights()}),
ta AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(tfidf_q) AS BIGINT) AS tfidf_sum_q,
         CAST(max(tfidf_q) AS BIGINT) AS tfidf_max_q
       FROM t GROUP BY doc_id),
synth AS (SELECT doc_id,
            concat('read ', source, ' daily', chr(10), text, chr(10),
                   'footer ', CAST(doc_id AS VARCHAR)) AS mtext
          FROM documents),
ln AS (SELECT doc_id,
         unnest(string_split(mtext, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(mtext, chr(10))))) AS pos
       FROM synth),
bl AS (SELECT trim(lower(line)) AS nl FROM ln
       GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
kept AS (SELECT doc_id, pos, line FROM ln
         WHERE trim(lower(line)) NOT IN (SELECT nl FROM bl)),
reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
          CAST(count(*) AS INT) AS n_lines_kept
        FROM kept GROUP BY doc_id),
bp AS (SELECT s.doc_id,
         CAST(len(string_split(s.mtext, chr(10))) AS INT) AS n_lines,
         COALESCE(reb.n_lines_kept, 0) AS n_lines_kept,
         COALESCE(reb.text_clean, '') AS text_clean
       FROM synth s LEFT JOIN reb ON reb.doc_id = s.doc_id),
nb_cc AS (SELECT tok,
    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cp,
    sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS cn
  FROM docs_e GROUP BY tok),
nb_tot AS (SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v FROM nb_cc),
nb_w AS (SELECT tok, CAST(floor(
    (ln((CAST(cp AS DOUBLE) + 1.0) / (CAST(np AS DOUBLE) + 1.0 * CAST(v AS DOUBLE)))
   - ln((CAST(cn AS DOUBLE) + 1.0) / (CAST(nn AS DOUBLE) + 1.0 * CAST(v AS DOUBLE))))
    * 1000000.0 + 0.5) AS BIGINT) AS w
  FROM nb_cc, nb_tot),
nb_pr AS (SELECT CAST(floor(ln(
    (CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) + 1.0)
  / (CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS DOUBLE) + 1.0))
    * 1000000.0 + 0.5) AS BIGINT) AS prior_q FROM docs_t),
nb AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS nb_toks,
         CAST(pr.prior_q + sum(w.w) AS BIGINT) AS nb_logodds_q,
         (pr.prior_q + sum(w.w)) > 0 AS nb_keep
       FROM docs_e e JOIN nb_w w USING (tok), nb_pr pr
       GROUP BY e.doc_id, pr.prior_q),
kn_tr AS (SELECT * FROM docs_t WHERE doc_id % 5 <> 0),
kn_sc AS (SELECT * FROM docs_t WHERE doc_id % 5 = 0),
kn_bi AS (SELECT a, b, count(*) AS cab
          FROM (SELECT tokens[CAST(u.i AS INT)+1] AS a, tokens[CAST(u.i AS INT)+2] AS b
                FROM kn_tr, UNNEST(range(length(tokens)-1)) AS u(i))
          GROUP BY a, b),
kn_ctx AS (SELECT a, sum(cab) AS ca, count(*) AS n1a FROM kn_bi GROUP BY a),
kn_cont AS (SELECT b, count(*) AS n1b FROM kn_bi GROUP BY b),
kn_tot AS (SELECT count(*) AS t FROM kn_bi),
kn_v AS (SELECT count(DISTINCT tokens[CAST(u.p AS INT)+1]) AS v
         FROM kn_tr, UNNEST(range(length(tokens))) AS u(p)),
kn_terms AS (
  SELECT s.doc_id, CAST(floor(ln(
      CASE WHEN COALESCE(c.ca, 0) > 0
        THEN greatest(CAST(COALESCE(b.cab, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c.ca AS DOUBLE)
             + 0.75 * CAST(COALESCE(c.n1a, 0) AS DOUBLE) / CAST(c.ca AS DOUBLE)
               * ((CAST(COALESCE(ct.n1b, 0) AS DOUBLE) + 1.0)
                  / (CAST(t.t AS DOUBLE) + CAST(v.v AS DOUBLE)))
        ELSE (CAST(COALESCE(ct.n1b, 0) AS DOUBLE) + 1.0)
             / (CAST(t.t AS DOUBLE) + CAST(v.v AS DOUBLE))
      END) * 1000000.0 + 0.5) AS BIGINT) AS t2
  FROM (SELECT kn_sc.doc_id, tokens[CAST(u.i AS INT)+1] AS a, tokens[CAST(u.i AS INT)+2] AS b
        FROM kn_sc, UNNEST(range(length(tokens)-1)) AS u(i)) s
  LEFT JOIN kn_bi b USING (a, b) LEFT JOIN kn_ctx c USING (a)
  LEFT JOIN kn_cont ct USING (b), kn_tot t, kn_v v),
kn AS (SELECT doc_id, CAST(sum(t2) AS BIGINT) AS kn_ll_q FROM kn_terms GROUP BY doc_id)
SELECT d.doc_id, ta.n_terms, ta.tfidf_sum_q, ta.tfidf_max_q,
  lm.n_bigrams, lm.ll_q, kn.kn_ll_q, iw.n_feats, iw.w_q,
  bp.n_lines, bp.n_lines_kept, bp.text_clean,
  nb.nb_toks, nb.nb_logodds_q, nb.nb_keep
FROM documents d
LEFT JOIN ta ON ta.doc_id = d.doc_id
LEFT JOIN lm ON lm.doc_id = d.doc_id
LEFT JOIN kn ON kn.doc_id = d.doc_id
LEFT JOIN iw ON iw.doc_id = d.doc_id
LEFT JOIN bp ON bp.doc_id = d.doc_id
LEFT JOIN nb ON nb.doc_id = d.doc_id
"""


def _q_dedup_pairs_suite(spark, sf):
    """All five near-duplicate PAIR finders in one verified result, tagged by
    method: MinHash-LSH (score = jaccard_ppm), 16-bit SimHash Hamming
    (score = hamming distance), blocked n-gram Jaccard (score = jaccard_ppm),
    LSH-bucketed embedding cosine (score = cos_ppm), and the INCREMENTAL
    batch-vs-corpus probe (score = jaccard_ppm, exact hits at 1,000,000).
    Every path is bucket-bounded — no all-pairs join anywhere."""
    mh = _q_dedup_minhash_lsh(spark, sf).select(
        F.lit("minhash").alias("method"), "id_a", "id_b",
        F.col("jaccard_ppm").cast("long").alias("score"),
    )
    sh = _q_dedup_simhash_hamming(spark, sf).select(
        F.lit("simhash").alias("method"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("score"),
    )
    ng = _q_dedup_ngram_jaccard(spark, sf).select(
        F.lit("jaccard").alias("method"), "id_a", "id_b",
        F.col("jaccard_ppm").cast("long").alias("score"),
    )
    ec = _q_dedup_embedding_cosine(spark, sf).select(
        F.lit("cosine").alias("method"), "id_a", "id_b",
        F.col("cos_ppm").cast("long").alias("score"),
    )
    inc = _q_dedup_incremental(spark, sf).select(
        F.lit("incr").alias("method"), "id_a", "id_b",
        F.col("jaccard_ppm").cast("long").alias("score"),
    )
    return mh.unionByName(sh).unionByName(ng).unionByName(ec).unionByName(inc)


def _sql_dedup_pairs_suite() -> str:
    return f"""
SELECT 'minhash' AS method, id_a, id_b, jaccard_ppm AS score FROM ({_sql_minhash()})
UNION ALL
SELECT 'simhash', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT), hamming FROM ({_sql_simhash_hamming()})
UNION ALL
SELECT 'jaccard', id_a, id_b, jaccard_ppm FROM ({_SQL_JACCARD})
UNION ALL
SELECT 'cosine', id_a, id_b, cos_ppm FROM ({_sql_dedup_embedding_cosine()})
UNION ALL
SELECT 'incr', id_a, id_b, jaccard_ppm FROM ({_sql_dedup_incremental()})
"""


def _q_ann_suite(spark, sf):
    """All three ANN strategies in one verified result, tagged by method:
    exact brute-force top-k, hyperplane-LSH bucketed, and IVF with the
    deterministic first-8 codebook — plus HARD-NEGATIVE mining
    (operators/similarity.py::hard_negatives): nearest corpus items per
    query from a DIFFERENT label, the contrastive-training miner — plus
    SEMANTIC DEDUP (operators/similarity.py::semantic_dedup, the SemDeDup
    shape): corpus unioned with rescaled re-encodings, cell-clustered,
    within-cell cosine pruning; rows = dropped items with their blocking
    keeper (query_id=dup, neighbor_id=kept, score=cos_ppm, rank=n_hits)."""
    from marmot_spark.operators.similarity import hard_negatives, semantic_dedup

    bf = _q_ann_brute_force(spark, sf).select(F.lit("bf").alias("method"), "*")
    lsh = _q_ann_lsh(spark, sf).select(F.lit("lsh").alias("method"), "*")
    ivf = _q_ann_ivf(spark, sf).select(F.lit("ivf").alias("method"), "*")
    emb = _tbl(spark, sf, "embeddings")
    hn = hard_negatives(emb, emb.filter(F.col("vec_id") < 5), k=5).select(
        F.lit("hardneg").alias("method"), "query_id", "neighbor_id", "score",
        F.col("rank").cast("long").alias("rank"),
    )
    base = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    copies = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * F.lit(1.01)).alias("embedding"),
    )
    sd = semantic_dedup(base.unionByName(copies), threshold_ppm=950_000, n_cells=8).select(
        F.lit("semdedup").alias("method"),
        F.col("dup_id").alias("query_id"),
        F.col("kept_id").alias("neighbor_id"),
        F.col("cos_ppm").alias("score"),
        F.col("n_hits").cast("long").alias("rank"),
    )
    return bf.unionByName(lsh).unionByName(ivf).unionByName(hn).unionByName(sd)


_SQL_ANN_HARDNEG = f"""
WITH q AS (SELECT vec_id AS query_id, label AS qg, {_quant_sql('embedding')} AS qq
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, label AS ng, {_quant_sql('embedding')} AS qc FROM embeddings),
s AS (SELECT query_id, neighbor_id,
        CAST(list_sum(list_transform(range(len(qq)),
          i -> qq[CAST(i AS INT)+1] * qc[CAST(i AS INT)+1])) AS BIGINT) AS score
      FROM q, c WHERE neighbor_id != query_id AND ng != qg)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
  FROM s
) WHERE rank <= 5
"""


def _sql_ann_semdedup() -> str:
    dot_qq = _DOT_SQL.format(a="q", b="q")
    dot_assign = _DOT_SQL.format(a="v2.q", b="cent.qcent")
    dot_ab = _DOT_SQL.format(a="a.q", b="b.q")
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(1.01 AS DOUBLE))
  FROM embeddings
),
cent AS (SELECT vec_id AS cell, {_quant_sql('embedding')} AS qcent
         FROM base ORDER BY vec_id LIMIT 8),
v0 AS (SELECT vec_id AS id, {_quant_sql('embedding')} AS q FROM base),
v1 AS (SELECT id, q, {dot_qq} AS n2 FROM v0),
v2 AS (SELECT * FROM v1 WHERE n2 > 0),
va AS (SELECT id, q, n2, cell FROM (
    SELECT v2.id, v2.q, v2.n2, cent.cell,
      row_number() OVER (PARTITION BY v2.id ORDER BY {dot_assign} DESC, cent.cell) AS rn
    FROM v2, cent) WHERE rn = 1),
p AS (SELECT a.id AS id_a, b.id AS id_b,
        CAST(floor(CAST({dot_ab} * 1000000 AS DOUBLE) / sqrt(CAST(a.n2 * b.n2 AS DOUBLE))) AS BIGINT) AS cos_ppm
      FROM va a JOIN va b ON a.cell = b.cell AND a.id < b.id)
SELECT id_b AS query_id, min(id_a) AS neighbor_id, arg_min(cos_ppm, id_a) AS score,
       CAST(count(*) AS BIGINT) AS rank
FROM p WHERE cos_ppm >= 950000 GROUP BY id_b
"""


def _sql_ann_suite() -> str:
    return f"""
SELECT 'bf' AS method, query_id, neighbor_id, score, rank FROM ({_SQL_ANN_BF})
UNION ALL
SELECT 'lsh', query_id, neighbor_id, score, rank FROM ({_sql_ann_lsh()})
UNION ALL
SELECT 'ivf', query_id, neighbor_id, score, rank FROM ({_sql_ann_ivf()})
UNION ALL
SELECT 'hardneg', query_id, neighbor_id, score, rank FROM ({_SQL_ANN_HARDNEG})
UNION ALL
SELECT 'semdedup', query_id, neighbor_id, score, rank FROM ({_sql_ann_semdedup()})
"""


def _q_multimodal_suite(spark, sf):
    """Multimodal plumbing end to end: typed byte/codepoint metadata joined
    with the mapInPandas feature-extractor output (deterministic fake
    decoder — real codecs stubbed per SURVEY) per document."""
    m = _q_multimodal_meta(spark, sf)
    f = _q_multimodal_features(spark, sf).select(
        F.col("id").alias("doc_id"), "media_type",
        F.col("n_bytes").alias("n_bytes_decoded"), "feat_mean", "feat_dim",
    )
    return m.join(f, "doc_id")


_SQL_MULTIMODAL_SUITE = f"""
WITH m AS ({_SQL_MULTIMODAL}), f AS ({_SQL_MULTIMODAL_FEATS})
SELECT m.doc_id, m.n_bytes, m.first_cp, f.media_type,
  f.n_bytes AS n_bytes_decoded, f.feat_mean, f.feat_dim
FROM m JOIN f ON f.id = m.doc_id
"""


def _q_streaming_suite(spark, sf):
    """All five Structured Streaming behaviors in one verified result,
    normalized to (part, user_id, k1, k2, v1, v2) rows: session_window
    aggregation ('sess': k=start/end us, v=n/sum), watermark late-data drop
    ('late': same shape over the 3-batch replay), applyInPandasWithState
    running totals ('totals': v=n/sum), dropDuplicatesWithinWatermark
    exact dedup ('dedup': k=event_id/ts_us, v=1/value_c), and the foreachBatch
    point-in-time as-of backfill ('asof': k=event_id/ts_us,
    v=err_ts_us/err_value_c — must equal the batch j2 join over the union of
    micro-batches). Each part drains its own real streaming query; one green
    row certifies all five."""
    sess = _q_streaming_sessionize(spark, sf).select(
        F.lit("sess").alias("part"), "user_id",
        F.col("start_us").alias("k1"), F.col("end_us").alias("k2"),
        F.col("n_events").cast("long").alias("v1"),
        F.col("sum_value_c").cast("long").alias("v2"),
    )
    late = _q_streaming_late_data(spark, sf).select(
        F.lit("late").alias("part"), "user_id",
        F.col("start_us").alias("k1"), F.col("end_us").alias("k2"),
        F.col("n_events").cast("long").alias("v1"),
        F.col("sum_value_c").cast("long").alias("v2"),
    )
    tot = _q_streaming_stateful_totals(spark, sf).select(
        F.lit("totals").alias("part"), "user_id",
        F.lit(None).cast("long").alias("k1"), F.lit(None).cast("long").alias("k2"),
        F.col("n_events").cast("long").alias("v1"),
        F.col("sum_value_c").cast("long").alias("v2"),
    )
    ded = _q_streaming_dedup(spark, sf).select(
        F.lit("dedup").alias("part"), "user_id",
        F.col("event_id").cast("long").alias("k1"), F.col("ts_us").alias("k2"),
        F.lit(1).cast("long").alias("v1"), F.col("value_c").cast("long").alias("v2"),
    )
    aso = _q_streaming_asof(spark, sf).select(
        F.lit("asof").alias("part"), "user_id",
        F.col("event_id").cast("long").alias("k1"), F.col("ts_us").alias("k2"),
        F.col("err_ts_us").cast("long").alias("v1"),
        F.col("err_value_c").cast("long").alias("v2"),
    )
    return (
        sess.unionByName(late).unionByName(tot).unionByName(ded).unionByName(aso)
    )


def _sql_streaming_suite() -> str:
    return f"""
SELECT 'sess' AS part, user_id, start_us AS k1, end_us AS k2,
  n_events AS v1, sum_value_c AS v2 FROM ({_SQL_STREAM_SESS})
UNION ALL
SELECT 'late', user_id, start_us, end_us, n_events, sum_value_c FROM ({_SQL_STREAM_LATE})
UNION ALL
SELECT 'totals', user_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
  n_events, sum_value_c
FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum({_CENTS_SQL.format(c='value')}) AS BIGINT) AS sum_value_c
      FROM events GROUP BY user_id)
UNION ALL
SELECT 'dedup', user_id, CAST(event_id AS BIGINT), ts_us, CAST(1 AS BIGINT), value_c
FROM ({_SQL_STREAM_DEDUP})
UNION ALL
SELECT 'asof', user_id, CAST(event_id AS BIGINT), ts_us,
  CAST(err_ts_us AS BIGINT), CAST(err_value_c AS BIGINT)
FROM ({_SQL_J2})
"""


def _q_splits_suite(spark, sf):
    """Split assignment + mixture sampling in one per-doc result: the
    deterministic content-hash train/val/test split, a kept flag for the
    FIXED per-source mixture rates, and the DERIVED temperature-scaled
    rates (functions/splits.py::temperature_rates, tau=0.7 — share ∝
    n_lang^tau, the multilingual-BERT/XLM-R language-flattening recipe;
    grouped by lang because the fixture's sources are exactly uniform,
    which would make every rate the trivial 10000) with the per-doc keep
    decision they induce. Round-5 additions (operators/encoders.py): the
    EMBARGOED temporal split over the derived ingest timestamp (split_time
    — train strictly before the gap, test strictly after it, rows inside
    excluded from both: the purged split a lookback-feature pipeline needs
    for zero leakage) and the deterministic per-source cap keep flag
    (cap_keep, k=15 per source — 15 of each 25-doc source survive, so both
    branches are exercised — portable-hash rank so the DuckDB oracle
    mirrors the survivor election exactly)."""
    from marmot_spark.functions.splits import (
        split_hash_col, temperature_rates, token_budget_sample,
    )
    from marmot_spark.operators.encoders import cap_per_group, temporal_split_embargo

    s = _q_split_assign(spark, sf)
    m = _q_mixture_sample(spark, sf).select("doc_id", F.lit(1).alias("kept"))
    d = _tbl(spark, sf, "documents").select("doc_id", "lang")
    tr = temperature_rates(d, "lang", tau=0.7)
    taued = d.join(F.broadcast(tr), "lang").select(
        "doc_id",
        "rate_bps",
        (split_hash_col("doc_id", seed=1) < F.col("rate_bps")).alias("kept_tau"),
    )
    emb = temporal_split_embargo(
        _tbl(spark, sf, "documents").select(
            "doc_id",
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 600).alias("seq_ts"),
        ),
        "seq_ts", "2024-01-01 03:00:00", "2024-01-01 06:00:00",
    ).select("doc_id", "split_time")
    cap = cap_per_group(
        _tbl(spark, sf, "documents").select("doc_id", "source"),
        "source", 15, "doc_id", seed=5,
    ).select("doc_id", "cap_keep")
    bud = token_budget_sample(
        _tbl(spark, sf, "documents").select("doc_id", "source", "n_chars"),
        "source", "n_chars", 4000, seed=2,
    ).select("doc_id", "budget_keep")
    return (
        s.join(m, "doc_id", "left")
        .join(taued, "doc_id")
        .join(emb, "doc_id")
        .join(cap, "doc_id")
        .join(bud, "doc_id")
        .select(
            "doc_id", "source", "split",
            F.coalesce("kept", F.lit(0)).cast("int").alias("kept"),
            "rate_bps", "kept_tau", "split_time", "cap_keep", "budget_keep",
        )
    )


def _sql_splits_suite() -> str:
    from marmot_spark.functions.splits import split_hash_sql

    dt = repr(0.7 - 1.0)  # the exact double Spark uses for tau-1
    h = split_hash_sql("s.doc_id", seed=1)
    hcap = split_hash_sql("doc_id", seed=5)
    hbud = split_hash_sql("doc_id", seed=2)
    return f"""
WITH s AS ({_sql_split_assign()}), m AS ({_sql_mixture_sample()}),
cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
w AS (SELECT lang, exp(CAST({dt} AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS w FROM cnt),
mx AS (SELECT max(w) AS mx FROM w),
tr AS (SELECT w.lang,
         CAST(floor(CAST(10000.0 AS DOUBLE) * w.w / mx.mx) AS BIGINT) AS rate_bps
       FROM w, mx),
emb AS (SELECT doc_id,
          CASE WHEN make_timestamp((1704067200 + doc_id*600) * 1000000)
                    < TIMESTAMP '2024-01-01 03:00:00' THEN 'train'
               WHEN make_timestamp((1704067200 + doc_id*600) * 1000000)
                    >= TIMESTAMP '2024-01-01 06:00:00' THEN 'test'
               ELSE 'embargo' END AS split_time
        FROM documents),
cap AS (SELECT doc_id,
          row_number() OVER (PARTITION BY source ORDER BY {hcap}, doc_id) <= 15 AS cap_keep
        FROM documents),
bud AS (SELECT doc_id,
          sum(n_chars) OVER (PARTITION BY source ORDER BY {hbud}, doc_id
                             ROWS UNBOUNDED PRECEDING) <= 4000 AS budget_keep
        FROM documents)
SELECT s.doc_id, s.source, s.split,
  CAST(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS kept,
  tr.rate_bps, {h} < tr.rate_bps AS kept_tau,
  emb.split_time, cap.cap_keep, bud.budget_keep
FROM s LEFT JOIN m ON m.doc_id = s.doc_id
JOIN documents d ON d.doc_id = s.doc_id
JOIN tr ON tr.lang = d.lang
JOIN emb ON emb.doc_id = s.doc_id
JOIN cap ON cap.doc_id = s.doc_id
JOIN bud ON bud.doc_id = s.doc_id
"""


def _q_j8_viterbi_links(spark, sf):
    """J8 — IBM-1 Viterbi word alignment (operators/ibm1.py::viterbi_align)
    over a deterministic synthetic parallel corpus (src = the doc's token
    ids; tgt = the reversed sequence re-encoded (t*7+13)%1000). The lexical
    table here is the count model t(f|e) = cooc(e,f)/occ(e) — exact integer
    ratios, so Spark and DuckDB compute bit-identical doubles and the argmax
    (max_by over (t, -s_idx), ties to the smallest source index) is
    engine-independent. EM-trained tables are float-sum order-dependent and
    stay third-oracle-verified in tests/test_ibm1.py; this row certifies the
    Viterbi kernel itself: the NULL-word prepend, the pair-stream join, the
    per-(sent, t_pos) argmax and the link re-assembly."""
    from marmot_spark.operators.ibm1 import NULL_ID, viterbi_align

    docs = _docs(spark, sf)
    par = docs.select(
        "doc_id",
        F.col("tokens").alias("src_tokens"),
        F.transform(
            F.reverse("tokens"), lambda t: ((t * 7 + 13) % 1000).cast("int")
        ).alias("tgt_tokens"),
    ).filter(F.size("src_tokens") > 0)
    pairs = (
        par.select(
            "doc_id",
            F.concat(F.array(F.lit(NULL_ID).cast("int")), F.col("src_tokens")).alias("__src"),
            F.explode("tgt_tokens").alias("f"),
        )
        .select("doc_id", "f", F.explode("__src").alias("e"))
    )
    occ = pairs.groupBy("e").agg(F.count(F.lit(1)).alias("__occ"))
    tt = (
        pairs.groupBy("e", "f").agg(F.count(F.lit(1)).alias("__cooc"))
        .join(occ, "e")
        .select("e", "f", (F.col("__cooc").cast("double") / F.col("__occ").cast("double")).alias("t"))
    )
    out = viterbi_align(par, tt, "src_tokens", "tgt_tokens", id_col="doc_id")
    return out.select("doc_id", "src_tokens", "tgt_tokens", F.explode("links").alias("l")).select(
        "doc_id",
        F.col("l.t").alias("t_pos"),
        F.col("l.s").alias("s_pos"),
        F.get("tgt_tokens", F.col("l.t")).alias("f_tok"),
        F.get("src_tokens", F.col("l.s")).alias("e_tok"),
    )


_SQL_J8 = f"""
WITH {DOCS_T},
par AS (
  SELECT doc_id, tokens AS src,
    list_transform(list_reverse(tokens), t -> CAST((t*7+13)%1000 AS INT)) AS tgt
  FROM docs_t WHERE length(tokens) > 0
),
pairs AS (
  SELECT doc_id, CAST(u.j AS INT) AS f_pos, tgt[CAST(u.j AS INT)+1] AS f,
    CAST(v.i AS INT) - 1 AS s_idx, list_concat([-1], src)[CAST(v.i AS INT)+1] AS e
  FROM par, UNNEST(range(length(tgt))) AS u(j),
       UNNEST(range(length(src)+1)) AS v(i)
),
occ AS (SELECT e, count(*) AS o FROM pairs GROUP BY e),
tt AS (SELECT e, f, CAST(count(*) AS DOUBLE) / CAST(any_value(o) AS DOUBLE) AS t
       FROM pairs JOIN occ USING (e) GROUP BY e, f),
scored AS (
  SELECT p.doc_id, p.f_pos, p.f, p.s_idx, p.e, tt.t,
    row_number() OVER (PARTITION BY p.doc_id, p.f_pos ORDER BY tt.t DESC, p.s_idx ASC) AS rn
  FROM pairs p JOIN tt ON tt.e = p.e AND tt.f = p.f
)
SELECT doc_id, f_pos AS t_pos, s_idx AS s_pos, f AS f_tok, e AS e_tok
FROM scored WHERE rn = 1 AND e <> -1
"""


def _q_pos_context_features(spark, sf):
    """POS-tag context features through the REAL CoNLL reader: documents are
    materialized as a token<TAB>pos<TAB>label CoNLL file (tag = 'T' + tok%5,
    label = lang; one sentence per doc in doc_id order), read back via
    sources/corpus.py::read_conll_tagged, then the marmot word-QE tag
    features are computed per target position: its own tag, the lag-1 tag
    ('<S>' at the sentence start) and the tag of the ALIGNED source token
    under an identity alignment to the NEXT sentence (the J1 + W4
    composition; '<UNALIGNED>' where no source exists). The oracle rebuilds
    every feature from the documents table directly."""
    import os

    import pandas as pd

    from marmot_spark.operators.alignment import first_aligned_idx, join_alignments
    from marmot_spark.sources.corpus import read_conll_tagged

    pdf = pd.read_parquet(f"{sf}/documents.parquet", columns=["doc_id", "text", "lang"])
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)

    def tok_id(w: str) -> int:
        return (ord(w[0]) * 131 + ord(w[-1]) + 7 * len(w)) % 1000 if w else 0

    d = _fresh_tmpdir("conll_pos", sf)
    path = os.path.join(d, "docs.conll")
    with open(path, "w") as fh:
        for i, row in pdf.iterrows():
            if i:
                fh.write("\n")
            for w in str(row["text"]).split(" "):
                fh.write(f"{w}\tT{tok_id(w) % 5}\t{row['lang']}\n")

    conll = read_conll_tagged(spark, path).withColumn(
        "sent", F.substring("doc_id", 2, 8).cast("long")
    )
    ex = conll.select(
        "sent",
        F.get("labels", 0).alias("label"),
        "pos_tags",
        F.posexplode(F.arrays_zip("tokens", "pos_tags")).alias("pos", "z"),
    ).select(
        "sent", "label", "pos",
        F.col("z.tokens").alias("token"),
        F.col("z.pos_tags").alias("tag"),
        F.coalesce(F.get("pos_tags", F.col("pos") - 1), F.lit("<S>")).alias("prev_tag"),
    )
    src = conll.select(
        (F.col("sent") - 1).alias("sent"), F.col("pos_tags").alias("src_tags")
    )
    ex = ex.withColumn(
        "align", F.transform(F.sequence(F.lit(0), F.col("pos")), lambda i: F.array(i))
    )
    ex = join_alignments(ex, src, on="sent")
    idx = F.when(F.col("src_tags").isNotNull(), first_aligned_idx("align", "pos"))
    return ex.select(
        "sent", F.col("pos").cast("int").alias("pos"), "token", "tag", "prev_tag",
        F.when(idx.isNull(), F.lit("<UNALIGNED>"))
        .otherwise(F.coalesce(F.get("src_tags", idx), F.lit("<UNALIGNED>")))
        .alias("aligned_src_tag"),
        "label",
    )


_SQL_POS_CTX = f"""
WITH {DOCS_T},
d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS words, {TOK_SQL} AS toks,
    row_number() OVER (ORDER BY doc_id) - 1 AS sent
  FROM documents
),
e AS (
  SELECT sent, lang, words, toks, CAST(u.p AS INT) AS pos
  FROM d, UNNEST(range(length(words))) AS u(p)
)
SELECT e.sent, e.pos, e.words[e.pos+1] AS token,
  'T' || CAST(e.toks[e.pos+1] % 5 AS VARCHAR) AS tag,
  CASE WHEN e.pos >= 1 THEN 'T' || CAST(e.toks[e.pos] % 5 AS VARCHAR)
       ELSE '<S>' END AS prev_tag,
  CASE WHEN n.sent IS NULL THEN '<UNALIGNED>'
       WHEN e.pos+1 <= length(n.toks) THEN 'T' || CAST(n.toks[e.pos+1] % 5 AS VARCHAR)
       ELSE '<UNALIGNED>' END AS aligned_src_tag,
  e.lang AS label
FROM e LEFT JOIN d n ON n.sent = e.sent + 1
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "w1_context_window": _q_w1_context_window,
        "w4_lag_lead": _q_w4_lag_lead,
        "w6_sessionize": _q_w6_sessionize_suite,
        "a4_rolling_count": _q_a4_rolling_suite,
        "j2_asof_suite": _q_j2_asof_suite,
        "text_rarity_score": _q_text_rarity_score,
        "pivot_counts": _q_pivot_counts,
        "j1_alignment_join": _q_j1_alignment_join,
        "j4_pseudo_ref": _q_j4_pseudo_ref,
        "s5_external": _q_s5_external,
        "j3_ngram_suite": _q_j3_ngram_suite,
        "a1_length_stats": _q_a1_length_stats,
        "a2_vocab_counts": _q_a2_vocab_counts,
        "a3_label_distribution": _q_a3_label_distribution,
        "a5_rollup": _q_a5_rollup,
        "a7_quantiles": _q_a7_quantiles,
        "f8_binarize_onehot": _q_f8_binarize_onehot,
        "o2_topk_per_group": _q_o2_topk_per_group,
        "set_ops_vocab_overlap": _q_set_ops_vocab_overlap,
        "p3_filter_projection": _q_p3_filter_projection,
        "f6_json_extract": _q_f6_json_extract,
        "tpch_q1": _q_tpch_q1,
        "tpch_join_agg": _q_tpch_join_agg,
        "tpch_semi_anti": _q_tpch_semi_anti,
        "tpch_q3_shipping": _q_tpch_q3_shipping,
        "tpch_q18_large_orders": _q_tpch_q18_large_orders,
        "w5_window_rank": _q_w5_window_rank,
        "dedup_exact": _q_dedup_exact,
        "dedup_pairs_suite": _q_dedup_pairs_suite,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_spans": _q_dedup_spans,
        "dedup_simhash": _q_dedup_simhash,
        "text_metrics": _q_text_metrics,
        "ann_suite": _q_ann_suite,
        "multimodal_suite": _q_multimodal_suite,
        "flagship_composed": _q_flagship_composed,
        "streaming_suite": _q_streaming_suite,
        "j6_lookup_polysemy": _q_j6_lookup_polysemy,
        "checkpoint_lineage": _q_checkpoint_lineage,
        "splits_suite": _q_splits_suite,
        "pack_sequences": _q_pack_sequences,
        "contamination_check": _q_contamination_check,
        "bpe_train": _q_bpe_train,
        "bpe_encode": _q_bpe_encode,
        "text_curation": _q_text_curation,
        "f9_discretize": _q_f9_discretize,
        "a8_corr_stats": _q_a8_corr_stats,
        "a9_pmi_collocations": _q_a9_pmi_collocations,
        "j8_viterbi_links": _q_j8_viterbi_links,
        "pos_context_features": _q_pos_context_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "w1_context_window": _SQL_W1,
        "w4_lag_lead": _SQL_W4,
        "w6_sessionize": _SQL_W6_SUITE,
        "a4_rolling_count": _SQL_A4_SUITE,
        "j2_asof_suite": _SQL_J2_SUITE,
        "text_rarity_score": _SQL_RARITY,
        "pivot_counts": _SQL_PIVOT,
        "j1_alignment_join": _SQL_J1,
        "j4_pseudo_ref": _SQL_J4,
        "s5_external": _SQL_S5_SUITE,
        "j3_ngram_suite": _SQL_J3_SUITE,
        "a1_length_stats": _SQL_A1,
        "a2_vocab_counts": _sql_a2(),
        "a3_label_distribution": _SQL_A3,
        "a5_rollup": _SQL_A5,
        "a7_quantiles": _SQL_A7,
        "f8_binarize_onehot": _SQL_F8,
        "o2_topk_per_group": _SQL_O2,
        "set_ops_vocab_overlap": _sql_setops(),
        "p3_filter_projection": _SQL_P3,
        "f6_json_extract": _SQL_F6,
        "tpch_q1": _SQL_TPCH_Q1,
        "tpch_join_agg": _SQL_TPCH_JOIN,
        "tpch_semi_anti": _SQL_TPCH_SEMI_ANTI,
        "tpch_q3_shipping": _SQL_TPCH_Q3,
        "tpch_q18_large_orders": _SQL_TPCH_Q18,
        "w5_window_rank": _SQL_W5,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "dedup_pairs_suite": _sql_dedup_pairs_suite(),
        "dedup_clusters": _sql_dedup_clusters(),
        "dedup_spans": _sql_dedup_spans(),
        "dedup_simhash": _sql_simhash(),
        "text_metrics": _sql_text_metrics(),
        "ann_suite": _sql_ann_suite(),
        "multimodal_suite": _SQL_MULTIMODAL_SUITE,
        "flagship_composed": _SQL_FLAGSHIP,
        "streaming_suite": _sql_streaming_suite(),
        "j6_lookup_polysemy": _SQL_J6,
        "checkpoint_lineage": _SQL_CKPT_LINEAGE,
        "splits_suite": _sql_splits_suite(),
        "pack_sequences": _SQL_PACK,
        "contamination_check": _sql_contamination_check(),
        "bpe_train": _sql_bpe_train(),
        "bpe_encode": _sql_bpe_encode(),
        "text_curation": _sql_text_curation(),
        "f9_discretize": _SQL_F9,
        "a8_corr_stats": _SQL_A8,
        "a9_pmi_collocations": _SQL_A9,
        "j8_viterbi_links": _SQL_J8,
        "pos_context_features": _SQL_POS_CTX,
    }
