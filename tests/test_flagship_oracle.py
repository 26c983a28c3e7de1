"""End-to-end DuckDB oracle for the SHARED flagship construction site
(marmot_spark/plans/flagship.py, consumed by bench.flagship_pipeline and the
driver's entry()): every feature column of the full composed DAG — chunked
rolling counts, chunked sessionize, range-salted as-of backfill, conditional
join-back, +/-2 context explode — against one independent SQL mirror on the
same parquet fixture. The building blocks have their own parity tests; this
pins the COMPOSITION (and therefore any drift between the two gates)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

_MIRROR = """
WITH s AS (
  SELECT CAST(substr(doc_id, 2, 8) AS BIGINT) AS doc_key, seq_ts, tokens,
    CASE WHEN source='web' THEN 0 WHEN source='news' THEN 1
         WHEN source='wiki' THEN 2 ELSE 3 END AS source_key
  FROM sequences
),
l AS (
  SELECT CASE WHEN starts_with(doc_id, 'd') THEN CAST(substr(doc_id, 2, 8) AS BIGINT)
              ELSE -CAST(substr(doc_id, 2, 8) AS BIGINT) - 1 END AS doc_key,
    label_ts, label_seq, CAST(tag = 'OK' AS TINYINT) AS tag_ok,
    CAST(score AS FLOAT) AS score
  FROM labels
),
l1 AS (  -- engine tie-break: among equal (key, ts) keep the LARGEST label_seq
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_key, label_ts ORDER BY label_seq DESC) AS rn
    FROM l) WHERE rn = 1
),
g AS (
  SELECT *, epoch_us(seq_ts) - lag(epoch_us(seq_ts))
    OVER (PARTITION BY source_key ORDER BY seq_ts, doc_key) AS gap_us
  FROM s
),
sess AS (
  SELECT *, CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 3600000000 THEN 1 ELSE 0 END)
    OVER (PARTITION BY source_key ORDER BY seq_ts, doc_key ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
  FROM g
),
roll AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY source_key ORDER BY seq_ts
    RANGE BETWEEN INTERVAL 7200 SECOND PRECEDING AND CURRENT ROW) AS INT) AS rolling_docs
  FROM sess
),
a AS (
  SELECT r.doc_key, r.seq_ts, r.source_key, r.session_id, r.rolling_docs,
         r.tokens, l1.tag_ok, l1.score
  FROM roll r ASOF LEFT JOIN l1 ON r.doc_key = l1.doc_key AND l1.label_ts <= r.seq_ts
)
SELECT doc_key, epoch_us(seq_ts) AS ts_us, source_key, session_id, rolling_docs,
  tag_ok, score, CAST(u.p AS INT) AS pos, tokens[CAST(u.p AS INT)+1] AS tok,
  CAST(COALESCE(CASE WHEN CAST(u.p AS INT) >= 1 THEN tokens[CAST(u.p AS INT)] END, -1) AS INT) AS lag_1,
  CAST(COALESCE(CASE WHEN CAST(u.p AS INT) >= 2 THEN tokens[CAST(u.p AS INT)-1] END, -1) AS INT) AS lag_2,
  CAST(COALESCE(tokens[CAST(u.p AS INT)+2], -2) AS INT) AS lead_1,
  CAST(COALESCE(tokens[CAST(u.p AS INT)+3], -2) AS INT) AS lead_2
FROM a, UNNEST(range(length(tokens))) AS u(p)
"""


def _assert_matches_mirror(out: pd.DataFrame, fixture_dir) -> None:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW sequences AS FROM '{fixture_dir}/sequences.parquet'")
    con.execute(f"CREATE VIEW labels AS FROM '{fixture_dir}/labels.parquet'")
    oracle = con.execute(_MIRROR).df()
    assert len(out) == len(oracle) > 0

    out["ts_us"] = pd.to_datetime(out["seq_ts"]).astype("int64") // 1000
    cols = ["doc_key", "ts_us", "source_key", "pos", "tok", "lag_1", "lag_2",
            "lead_1", "lead_2", "session_id", "rolling_docs", "tag_ok", "score"]
    a = out[cols].sort_values(cols[:5], kind="stable").reset_index(drop=True)
    b = oracle[cols].sort_values(cols[:5], kind="stable").reset_index(drop=True)
    for c in cols:
        if c == "score":
            aa, bb = a[c].astype(float).values, b[c].astype(float).values
            assert np.allclose(
                np.nan_to_num(aa, nan=-9e9), np.nan_to_num(bb, nan=-9e9), rtol=1e-6
            ), c
        elif c == "tag_ok":
            assert a[c].fillna(-9).astype("int64").equals(b[c].fillna(-9).astype("int64")), c
        else:
            assert a[c].astype("int64").equals(b[c].astype("int64")), c


def test_flagship_pipeline_matches_duckdb_mirror(spark, fixture_dir):
    import bench

    _assert_matches_mirror(bench.flagship_pipeline(spark, fixture_dir).toPandas(), fixture_dir)


def test_flagship_serial_branch_accepts_ntz_ts(spark, fixture_dir, monkeypatch):
    """A TIMESTAMP_NTZ ts_col (how a default Spark 4 session reads naive
    parquet) on the serial branch — n_chunks=1, no hot keys — still gives the
    mirror's features: the ts is normalized before the unix_micros order key."""
    import bench
    from pyspark.sql import functions as F

    from marmot_spark.plans import flagship

    real = flagship.flagship_features

    def serial_ntz(wide, labels, **kw):
        ts = kw["ts_col"]
        wide = wide.withColumn(ts, F.col(ts).cast("timestamp_ntz"))
        return real(wide, labels, **{**kw, "n_chunks": 1, "hot_keys": None})

    monkeypatch.setattr(flagship, "flagship_features", serial_ntz)
    _assert_matches_mirror(bench.flagship_pipeline(spark, fixture_dir).toPandas(), fixture_dir)


def test_chunked_flagship_keeps_native_key_types(spark, fixture_dir):
    """The chunked path (n_chunks=4, every plan-time bound from one
    aggregate) equals the serial path (n_chunks=1, no hot keys) on two key
    shapes whose bounds must keep their native types: a string as-of key
    with hot keys, and an int entity column that holds NULLs."""
    from pyspark.sql import functions as F

    from marmot_spark.plans.flagship import flagship_features

    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    labels = spark.read.parquet(f"{fixture_dir}/labels.parquet")
    kw = dict(ts_col="seq_ts", asof_on="doc_id", right_ts="label_ts",
              payload=["tag", "score"], tie_break="label_seq")
    cases = (
        (seqs, dict(keys=["doc_id", "source"], entity_col="source"),
         dict(hot_keys=["d00000000", "d00000001"])),
        (seqs.withColumn("ent", F.when(F.col("source") != "web", F.length("source"))),
         dict(keys=["doc_id", "ent"], entity_col="ent"), {}),
    )
    for wide, case_kw, hot_kw in cases:
        frames = [
            flagship_features(wide, labels, **kw, **case_kw, **run_kw).toPandas()
            for run_kw in (dict(n_chunks=4, **hot_kw), dict(n_chunks=1))
        ]
        chunked, serial = (f.sort_values(list(f.columns)).reset_index(drop=True) for f in frames)
        assert len(serial) > 0, case_kw
        pd.testing.assert_frame_equal(chunked, serial)


def test_benchmark_trace_finds_the_calls_it_replays(spark, fixture_dir):
    """The benchmark's traced pass (perfbench/workloads.py,
    ``FlagshipWorkload.trace``) replays the operator calls the chunked
    flagship records, indexing some of their keywords: each call and keyword
    it reads must be recorded, and its windows-layer replay must build, or
    ``perfbench/run.py --trace 1`` fails."""
    import bench
    from pyspark.sql import functions as F

    from marmot_spark.operators.windows import rolling_count, sessionize, with_time_chunk
    from perfbench.workloads import _recording_plan_calls

    with _recording_plan_calls() as calls:
        bench.flagship_pipeline(spark, fixture_dir)
    assert set(calls) == {"flagship_features", "with_time_chunk", "sessionize", "rolling_count",
                          "asof_join", "explode_with_context"}
    (wide, _), kw = calls["flagship_features"]
    assert {"keys", "ts_col", "payload", "asof_on", "broadcast_max_rows"} <= set(kw)
    r_args, r_kw = calls["rolling_count"]
    assert {"order_col", "chunk_col"} <= set(r_kw)
    assert "hot_keys" in calls["asof_join"][1]

    # the windows layer as the trace replays it, down to the lazy checkpoint
    # between the two operators
    ts = kw["ts_col"]
    args, kwargs = calls["with_time_chunk"]
    base = with_time_chunk(wide.select(*kw["keys"], ts), *args[1:], **kwargs)
    base = base.withColumn(r_kw["order_col"], F.unix_micros(F.col(ts)))
    s_args, s_kw = calls["sessionize"]
    base = sessionize(base, *s_args[1:], **s_kw).localCheckpoint(eager=False)
    out = rolling_count(base, *r_args[1:], **r_kw).drop(r_kw["chunk_col"], r_kw["order_col"])
    assert "rolling_docs" in out.columns
