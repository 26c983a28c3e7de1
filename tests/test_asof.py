"""As-of join kernel tests: DuckDB ASOF oracle parity, both strategies agree,
zero temporal leakage, tie-breaks, tolerance, salting invariance."""

from __future__ import annotations

import contextlib

import duckdb
import pandas as pd
import pytest
from datetime import datetime
from pyspark.sql import functions as F

from marmot_spark.operators.asof import asof_join, asof_join_forward, asof_join_nearest, detect_hot_keys
from marmot_spark.operators.windows import entity_time_bounds


def _load(spark, fixture_dir):
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").select("doc_id", "seq_ts", "n_tok", "source")
    labels = spark.read.parquet(f"{fixture_dir}/labels.parquet")
    return seqs, labels


def _oracle(fixture_dir) -> pd.DataFrame:
    q = f"""
    SELECT s.doc_id, epoch_us(s.seq_ts) AS seq_us, l.tag, l.score,
           epoch_us(l.label_ts) AS match_us
    FROM read_parquet('{fixture_dir}/sequences.parquet') s
    ASOF LEFT JOIN (
        SELECT doc_id, label_ts, tag, score,
               row_number() OVER (PARTITION BY doc_id, label_ts ORDER BY label_seq DESC) rn
        FROM read_parquet('{fixture_dir}/labels.parquet')
        QUALIFY rn = 1
    ) l ON s.doc_id = l.doc_id AND s.seq_ts >= l.label_ts
    ORDER BY s.doc_id, seq_us, s.n_tok
    """
    return duckdb.sql(q).df()


def _engine(spark, fixture_dir, **kw) -> pd.DataFrame:
    seqs, labels = _load(spark, fixture_dir)
    out = asof_join(
        seqs, labels, on="doc_id", left_ts="seq_ts", right_ts="label_ts",
        payload=["tag", "score"], tie_break="label_seq", **kw,
    )
    pdf = (
        out.select(
            "doc_id",
            (F.unix_micros("seq_ts")).alias("seq_us"),
            "tag", "score",
            F.unix_micros("matched_ts").alias("match_us"),
            "n_tok",
        )
        .orderBy("doc_id", "seq_us", "n_tok")
        .toPandas()
    )
    return pdf.drop(columns=["n_tok"])


@pytest.mark.parametrize("strategy", ["window", "merge"])
def test_asof_matches_duckdb_oracle(spark, fixture_dir, strategy):
    got = _engine(spark, fixture_dir, strategy=strategy).reset_index(drop=True)
    want = _oracle(fixture_dir).reset_index(drop=True)
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["tag"], want["tag"], check_names=False)
    pd.testing.assert_series_equal(got["match_us"].astype("float"), want["match_us"].astype("float"), check_names=False)
    pd.testing.assert_series_equal(got["score"].astype("float"), want["score"].astype("float"), check_names=False)


def test_strategies_agree_with_salting(spark, fixture_dir):
    base = _engine(spark, fixture_dir, strategy="window").reset_index(drop=True)
    seqs, _ = _load(spark, fixture_dir)
    hot = detect_hot_keys(seqs, "doc_id", threshold=0.05)
    assert "d00000000" in hot
    for strategy in ["window", "merge"]:
        salted = _engine(spark, fixture_dir, strategy=strategy, hot_keys=hot, n_salts=8).reset_index(drop=True)
        pd.testing.assert_frame_equal(base, salted)


def test_zero_temporal_leakage(spark, fixture_dir):
    seqs, labels = _load(spark, fixture_dir)
    out = asof_join(seqs, labels, on="doc_id", left_ts="seq_ts", right_ts="label_ts",
                    payload=["tag", "score"], tie_break="label_seq")
    leaked = out.filter(F.col("matched_ts") > F.col("seq_ts")).count()
    assert leaked == 0
    # fixture places labels at exactly seq_ts (must join) and seq_ts+1us (must not)
    eq = out.filter(F.col("matched_ts") == F.col("seq_ts")).count()
    assert eq > 0


def test_adversarial_one_microsecond(spark):
    seqs = spark.createDataFrame(
        [("d1", datetime(2026, 1, 1, 0, 0, 10, 0))], "doc_id string, seq_ts timestamp"
    )
    labels = spark.createDataFrame(
        [
            ("d1", datetime(2026, 1, 1, 0, 0, 10, 1), 1, "LEAK", 1.0),
            ("d1", datetime(2026, 1, 1, 0, 0, 9, 0), 0, "OK", 0.5),
        ],
        "doc_id string, label_ts timestamp, label_seq long, tag string, score double",
    )
    for strategy in ["window", "merge"]:
        row = asof_join(seqs, labels, "doc_id", "seq_ts", "label_ts", ["tag", "score"],
                        tie_break="label_seq", strategy=strategy).collect()[0]
        assert row["tag"] == "OK", strategy


def test_null_payload_in_matched_row_stays_null(spark):
    """The matched (newest) right row has a NULL payload between two non-null
    rows: DuckDB ASOF returns the matched row's NULL — per-column
    last(ignorenulls) would leak the OLDER value. Also checks that a LATER
    non-null row is still ignored (no leakage) and that matched_ts is the
    null-payload row's ts."""
    seqs = spark.createDataFrame(
        [("d1", datetime(2026, 1, 1, 0, 0, 10, 0))], "doc_id string, seq_ts timestamp"
    )
    labels = spark.createDataFrame(
        [
            ("d1", datetime(2026, 1, 1, 0, 0, 8, 0), 0, "OLD", 0.5),
            ("d1", datetime(2026, 1, 1, 0, 0, 9, 0), 1, None, None),
            ("d1", datetime(2026, 1, 1, 0, 0, 11, 0), 2, "FUTURE", 0.9),
        ],
        "doc_id string, label_ts timestamp, label_seq long, tag string, score double",
    )
    for strategy in ["window", "merge"]:
        row = asof_join(seqs, labels, "doc_id", "seq_ts", "label_ts", ["tag", "score"],
                        tie_break="label_seq", strategy=strategy).collect()[0]
        assert row["tag"] is None, strategy
        assert row["score"] is None, strategy
        assert row["matched_ts"] == datetime(2026, 1, 1, 0, 0, 9, 0), strategy


def test_null_right_ts_never_matches(spark):
    seqs = spark.createDataFrame(
        [("d1", datetime(2026, 1, 1, 0, 0, 10, 0))], "doc_id string, seq_ts timestamp"
    )
    labels = spark.createDataFrame(
        [("d1", None, 0, "NULLTS", 0.5)],
        "doc_id string, label_ts timestamp, label_seq long, tag string, score double",
    )
    for strategy in ["window", "merge"]:
        row = asof_join(seqs, labels, "doc_id", "seq_ts", "label_ts", ["tag"],
                        tie_break="label_seq", strategy=strategy).collect()[0]
        assert row["tag"] is None and row["matched_ts"] is None, strategy


def test_ntz_timestamps_accepted(spark):
    """TIMESTAMP_NTZ inputs (default-session parquet reads) are normalized at
    the operator boundary instead of failing analysis."""
    seqs = spark.createDataFrame(
        [("d1", datetime(2026, 1, 1, 0, 0, 10, 0))], "doc_id string, seq_ts timestamp_ntz"
    )
    labels = spark.createDataFrame(
        [("d1", datetime(2026, 1, 1, 0, 0, 9, 0), 0, "OK", 0.5)],
        "doc_id string, label_ts timestamp_ntz, label_seq long, tag string, score double",
    )
    for strategy in ["window", "merge"]:
        row = asof_join(seqs, labels, "doc_id", "seq_ts", "label_ts", ["tag"],
                        tie_break="label_seq", strategy=strategy).collect()[0]
        assert row["tag"] == "OK", strategy


def test_tie_break_largest_label_seq_wins(spark):
    ts = datetime(2026, 1, 1, 0, 0, 10, 0)
    seqs = spark.createDataFrame([("d1", ts)], "doc_id string, seq_ts timestamp")
    labels = spark.createDataFrame(
        [("d1", ts, 1, "FIRST", 0.1), ("d1", ts, 2, "SECOND", 0.2)],
        "doc_id string, label_ts timestamp, label_seq long, tag string, score double",
    )
    for strategy in ["window", "merge"]:
        row = asof_join(seqs, labels, "doc_id", "seq_ts", "label_ts", ["tag", "score"],
                        tie_break="label_seq", strategy=strategy).collect()[0]
        assert row["tag"] == "SECOND", strategy


def test_tolerance_nulls_stale_matches(spark):
    seqs = spark.createDataFrame(
        [("d1", datetime(2026, 1, 1, 0, 10, 0, 0))], "doc_id string, seq_ts timestamp"
    )
    labels = spark.createDataFrame(
        [("d1", datetime(2026, 1, 1, 0, 0, 0, 0), 0, "OLD", 0.5)],
        "doc_id string, label_ts timestamp, label_seq long, tag string, score double",
    )
    no_tol = asof_join(seqs, labels, "doc_id", "seq_ts", "label_ts", ["tag"], tie_break="label_seq").collect()[0]
    assert no_tol["tag"] == "OLD"
    tol = asof_join(seqs, labels, "doc_id", "seq_ts", "label_ts", ["tag"],
                    tie_break="label_seq", tolerance_us=60_000_000).collect()[0]
    assert tol["tag"] is None and tol["matched_ts"] is None


def test_orphan_keys_get_null(spark, fixture_dir):
    seqs, labels = _load(spark, fixture_dir)
    only_orphan_labels = labels.filter(F.col("doc_id").startswith("x"))
    out = asof_join(seqs, only_orphan_labels, "doc_id", "seq_ts", "label_ts",
                    ["tag"], tie_break="label_seq")
    assert out.filter(F.col("tag").isNotNull()).count() == 0


def test_range_salting_equals_unsalted(spark, fixture_dir):
    """Time-range salting with boundary carries must be exactly the unsalted
    result, for both strategies and with tolerance — backward, and forward
    and nearest, which salt on reflected timestamps."""
    seqs, labels = _load(spark, fixture_dir)
    hot = ["d00000000", "d00000001"]
    sel = ["doc_id", "seq_ts", "n_tok", "tag", "score", "matched_ts"]
    kw = dict(on="doc_id", left_ts="seq_ts", right_ts="label_ts",
              payload=["tag", "score"], tie_break="label_seq")

    for join in (asof_join, asof_join_forward, asof_join_nearest):
        base = join(seqs, labels, **kw)
        for strategy in ["window", "merge"]:
            got = join(seqs, labels, **kw, hot_keys=hot, n_salts=8, strategy=strategy)
            assert got.count() == seqs.count()
            assert got.select(sel).exceptAll(base.select(sel)).count() == 0, (join.__name__, strategy)
            assert base.select(sel).exceptAll(got.select(sel)).count() == 0, (join.__name__, strategy)

        t_base = join(seqs, labels, **kw, tolerance_us=600_000_000)
        t_rng = join(seqs, labels, **kw, tolerance_us=600_000_000, hot_keys=hot, n_salts=8)
        assert t_rng.select(sel).exceptAll(t_base.select(sel)).count() == 0, join.__name__


def test_range_salting_external_bounds(spark, fixture_dir):
    """Precomputed hot_bounds_us (from a cheap scan, not the derived left plan)
    must give the exact unsalted result — even with deliberately LOOSE bounds,
    or none at all (every hot key falls back to one chunk, with a warning),
    or a single salt — since bounds affect chunk balance, never correctness."""
    seqs, labels = _load(spark, fixture_dir)
    hot = ["d00000000", "d00000001"]
    sel = ["doc_id", "seq_ts", "n_tok", "tag", "score", "matched_ts"]
    base = asof_join(seqs, labels, on="doc_id", left_ts="seq_ts", right_ts="label_ts",
                     payload=["tag", "score"], tie_break="label_seq")
    exact = entity_time_bounds(seqs.filter(F.col("doc_id").isin(hot)), "doc_id", "seq_ts")
    loose = {k: (mn - 86_400_000_000, mx + 86_400_000_000) for k, (mn, mx) in exact.items()}
    for hb, n_salts in ((exact, 8), (loose, 8), ({}, 8), (exact, 1)):
        warns = pytest.warns(UserWarning, match="not be range-salted") if not hb else contextlib.nullcontext()
        with warns:
            got = asof_join(seqs, labels, on="doc_id", left_ts="seq_ts", right_ts="label_ts",
                            payload=["tag", "score"], tie_break="label_seq",
                            hot_keys=hot, n_salts=n_salts, hot_bounds_us=hb)
        assert got.count() == seqs.count()
        assert got.select(sel).exceptAll(base.select(sel)).count() == 0
        assert base.select(sel).exceptAll(got.select(sel)).count() == 0


def test_range_salting_guards(spark, fixture_dir):
    seqs, labels = _load(spark, fixture_dir)
    with pytest.raises(ValueError, match="single join key"):
        asof_join(seqs, labels, on=["doc_id", "source"], left_ts="seq_ts", right_ts="label_ts",
                  payload=["score"], hot_keys=["d00000000"])
    # range chunks are micros of a TimestampType ts; a bigint ts is refused
    with pytest.raises(ValueError, match="TimestampType"):
        asof_join(seqs.withColumn("seq_ts", F.unix_micros("seq_ts")),
                  labels.withColumn("label_ts", F.unix_micros("label_ts")),
                  on="doc_id", left_ts="seq_ts", right_ts="label_ts",
                  payload=["score"], hot_keys=["d00000000"])


def test_asof_forward_matches_pandas(spark, fixture_dir):
    """asof_join_forward == pandas merge_asof(direction='forward') on the
    seeded fixtures, for both strategies and with a tolerance."""
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").select(
        "doc_id", "seq_ts"
    )
    labels = spark.read.parquet(f"{fixture_dir}/labels.parquet").select(
        "doc_id", "label_ts", "label_seq", F.col("score").alias("score")
    )
    lp = labels.toPandas().sort_values(["label_ts", "label_seq"])
    # pandas forward picks the first match; our tie rule is MAX tie_break at
    # equal ts — feed pandas the ties sorted so the max-label_seq row wins
    lp = (
        lp.sort_values(["doc_id", "label_ts", "label_seq"])
        .groupby(["doc_id", "label_ts"], as_index=False)
        .last()
    )
    sp = seqs.toPandas().sort_values(["seq_ts", "doc_id"]).reset_index(drop=True)
    for kwargs in ({"strategy": "window"}, {"strategy": "merge"},
                   {"strategy": "window", "tolerance_us": 3_600_000_000}):
        got = (
            asof_join_forward(
                seqs, labels, on="doc_id", left_ts="seq_ts", right_ts="label_ts",
                payload=["score"], tie_break="label_seq", **kwargs,
            )
            .select("doc_id", "seq_ts", "score")
            .toPandas()
            .sort_values(["seq_ts", "doc_id"])
            .reset_index(drop=True)
        )
        tol = kwargs.get("tolerance_us")
        want = pd.merge_asof(
            sp.sort_values("seq_ts"),
            lp.sort_values("label_ts")[["doc_id", "label_ts", "score"]],
            left_on="seq_ts", right_on="label_ts", by="doc_id",
            direction="forward",
            **({"tolerance": pd.Timedelta(microseconds=tol)} if tol else {}),
        ).sort_values(["seq_ts", "doc_id"]).reset_index(drop=True)
        pd.testing.assert_series_equal(
            got["score"].astype(float), want["score"].astype(float),
            check_names=False,
        )


def test_asof_nearest_matches_pandas_composition(spark, fixture_dir):
    """asof_join_nearest == combining pandas' OWN backward+forward merges
    under the documented tie rule (dist_b <= dist_f -> backward) — an
    independent construction of the same semantics on the seeded fixtures."""
    import numpy as np

    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").select("doc_id", "seq_ts")
    labels = spark.read.parquet(f"{fixture_dir}/labels.parquet").select(
        "doc_id", "label_ts", "label_seq", "score"
    )
    lp = (
        labels.toPandas()
        .sort_values(["doc_id", "label_ts", "label_seq"])
        .groupby(["doc_id", "label_ts"], as_index=False)
        .last()  # MAX tie_break at equal ts, both directions
    )
    sp = seqs.toPandas().sort_values(["seq_ts", "doc_id"]).reset_index(drop=True)
    mk = lambda d: pd.merge_asof(  # noqa: E731
        sp.sort_values("seq_ts"),
        lp.sort_values("label_ts")[["doc_id", "label_ts", "score"]],
        left_on="seq_ts", right_on="label_ts", by="doc_id", direction=d,
    ).sort_values(["seq_ts", "doc_id"]).reset_index(drop=True)
    b, f = mk("backward"), mk("forward")
    dist_b = (b["seq_ts"] - b["label_ts"]).dt.total_seconds()
    dist_f = (f["label_ts"] - f["seq_ts"]).dt.total_seconds()
    use_b = b["label_ts"].notna() & (f["label_ts"].isna() | (dist_b <= dist_f))
    want = pd.Series(np.where(use_b, b["score"], f["score"]), dtype=float)
    got = (
        asof_join_nearest(
            seqs, labels, on="doc_id", left_ts="seq_ts", right_ts="label_ts",
            payload=["score"], tie_break="label_seq",
        )
        .select("doc_id", "seq_ts", "score")
        .toPandas()
        .sort_values(["seq_ts", "doc_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_series_equal(got["score"].astype(float), want, check_names=False)


def test_asof_nearest_tie_prefers_backward(spark):
    """Equal distance on both sides -> the BACKWARD (earlier, leakage-safe)
    match wins; an exact-ts right row wins over any other candidate."""
    left = spark.createDataFrame(
        [("k", "2024-01-01 00:00:10"), ("k", "2024-01-01 00:01:00")],
        "id string, ts string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", 1), ("k", "2024-01-01 00:00:20", 2),
         ("k", "2024-01-01 00:01:00", 3)],
        "id string, rts string, v int",
    ).select("id", F.col("rts").cast("timestamp").alias("rts"), "v")
    rows = {
        r["ts"].second + r["ts"].minute * 60: r["v"]
        for r in asof_join_nearest(
            left, right, on="id", left_ts="ts", right_ts="rts", payload=["v"]
        ).collect()
    }
    assert rows[10] == 1  # 10s back vs 10s forward: backward wins the tie
    assert rows[60] == 3  # exact-ts match (distance 0 backward)
