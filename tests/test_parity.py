"""Allclose parity: engine output vs the pandas marmot-semantics oracle
(numpy.allclose per entity, token-array equality per row — BASELINE.json)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from marmot_spark.functions.binarize import binarize, fit_vocab
from marmot_spark.operators.alignment import join_alignments, with_aligned_token
from marmot_spark.operators.asof import asof_join
from marmot_spark.operators.windows import explode_tokens, explode_with_context, sessionize

from tests import reference_oracle as oracle


def test_token_array_passthrough_equality(spark, fixture_dir):
    """Per-row invariant: tokens ride through the full pipeline unchanged.

    After as-of join + ``explode_with_context`` (the flagship's explode),
    regrouping each row's (pos, tok) pairs in pos order must reproduce
    exactly its source array, with positions 0..len-1 each once. Rows are
    told apart by a pinned row id as well as (doc_id, seq_ts): the fixture
    plants duplicate (doc_id, seq_ts) rows.
    """
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").withColumn(
        "rid", F.monotonically_increasing_id()
    ).localCheckpoint()
    labels = spark.read.parquet(f"{fixture_dir}/labels.parquet")
    piped = asof_join(seqs, labels, "doc_id", "seq_ts", "label_ts", ["tag"], tie_break="label_seq")
    out = explode_with_context(piped, k=2, keep=["doc_id", "seq_ts", "rid"])
    pairs = F.array_sort(F.collect_list(F.struct("pos", "tok")))
    regrouped = out.groupBy("doc_id", "seq_ts", "rid").agg(
        F.transform(pairs, lambda p: p["tok"]).alias("tokens"),
        F.transform(pairs, lambda p: p["pos"]).alias("positions"),
    )
    assert regrouped.filter(
        F.col("positions") != F.sequence(F.lit(0), F.size("tokens") - 1)
    ).count() == 0
    src = seqs.filter(F.size("tokens") > 0).select("doc_id", "seq_ts", "rid", "tokens")
    got = regrouped.select("doc_id", "seq_ts", "rid", "tokens")
    assert src.exceptAll(got).count() == 0
    assert got.exceptAll(src).count() == 0


def test_context_window_parity(spark, fixture_dir):
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").limit(200)
    out = (
        explode_with_context(seqs, k=2, keep=["doc_id", "seq_ts"])
        .select("doc_id", "seq_ts", "pos", "tok", "lag_1", "lag_2", "lead_1", "lead_2")
        .toPandas()
    )
    src = seqs.select("doc_id", "seq_ts", "tokens").toPandas()
    # the fixture plants duplicate (doc_id, seq_ts) rows on purpose; the
    # row-wise oracle check needs a unique key, so restrict to unique pairs
    key_counts = src.groupby(["doc_id", "seq_ts"]).size()
    unique_keys = set(key_counts[key_counts == 1].index)
    by_key = {
        (r["doc_id"], r["seq_ts"]): list(r["tokens"])
        for _, r in src.iterrows()
        if (r["doc_id"], r["seq_ts"]) in unique_keys
    }
    got = out.sort_values(["doc_id", "seq_ts", "pos"])
    got = got[[k in by_key for k in zip(got["doc_id"], got["seq_ts"])]]
    assert len(got) > 1000
    for _, r in got.iterrows():
        toks = by_key[(r["doc_id"], r["seq_ts"])]
        want = oracle.context_window(toks, r["pos"], 2)
        assert r["tok"] == toks[r["pos"]]
        for k, v in want.items():
            assert r[k] == v, (r["doc_id"], r["pos"], k)


def test_alignment_parity(spark, fixture_dir):
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    aligns = spark.read.parquet(f"{fixture_dir}/alignments.parquet")
    ex = explode_tokens(seqs.dropDuplicates(["doc_id"]), keep=["doc_id"])
    out = with_aligned_token(join_alignments(ex, aligns)).select("doc_id", "pos", "aligned_tok").toPandas()
    a_pdf = aligns.toPandas()
    a_by_doc = {
        r["doc_id"]: (list(r["src_tokens"]), [list(x) for x in r["align"]]) for _, r in a_pdf.iterrows()
    }
    for _, r in out.head(2000).iterrows():
        src, al = a_by_doc.get(r["doc_id"], (None, []))
        assert r["aligned_tok"] == oracle.aligned_token(src, al, r["pos"]), (r["doc_id"], r["pos"])


def test_asof_backfill_parity_allclose(spark, fixture_dir):
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").select("doc_id", "seq_ts", "n_tok").limit(500)
    labels = spark.read.parquet(f"{fixture_dir}/labels.parquet")
    got = (
        asof_join(seqs, labels, "doc_id", "seq_ts", "label_ts", ["tag", "score"], tie_break="label_seq")
        .orderBy("doc_id", "seq_ts", "n_tok")
        .toPandas()
    )
    want = oracle.asof_backfill(
        seqs.toPandas().sort_values(["doc_id", "seq_ts", "n_tok"]).reset_index(drop=True),
        labels.toPandas(),
        ["tag", "score"],
    )
    assert len(got) == len(want)
    # numeric channel: allclose with nulls aligned
    g = got["score"].to_numpy(dtype=float)
    w = want["score"].to_numpy(dtype=float)
    assert np.array_equal(np.isnan(g), np.isnan(w))
    assert np.allclose(g[~np.isnan(g)], w[~np.isnan(w)])
    assert (got["tag"].fillna("_") == want["tag"].fillna("_")).all()


def test_binarize_parity(spark, fixture_dir):
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    vocab = fit_vocab(seqs, "source")
    out = binarize(seqs.limit(300), "source", vocab).select("doc_id", "source", "source_onehot").toPandas()
    ref_vocab = oracle.fit_sorted_vocab(seqs.select("source").toPandas()["source"])
    mat = np.stack(out["source_onehot"].to_numpy())
    ref = np.stack([oracle.binarize_value(v, ref_vocab) for v in out["source"]])
    assert np.allclose(mat, ref)


def test_sessionize_parity(spark, fixture_dir):
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").select("doc_id", "seq_ts", "source", "n_tok")
    got = (
        sessionize(seqs, "source", "seq_ts", 60.0, order_extra=["doc_id", "n_tok"])
        .orderBy("source", "seq_ts", "doc_id", "n_tok")
        .toPandas()
    )
    pdf = seqs.toPandas()
    want = oracle.sessionize(pdf, "source", "seq_ts", 60.0, ["doc_id", "n_tok"])
    w_sorted = pdf.loc[want.index].assign(session_id=want.values).sort_values(
        ["source", "seq_ts", "doc_id", "n_tok"], kind="stable"
    )
    assert np.array_equal(got["session_id"].to_numpy(), w_sorted["session_id"].to_numpy())


def test_chunked_sessionize_and_rolling_match_serial(spark, fixture_dir):
    """Time-chunked (hot-key scan parallelization) must be exactly equal to serial."""
    from marmot_spark.operators.windows import rolling_count, with_time_chunk

    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").select(
        "doc_id", "seq_ts", "n_tok", "source"
    )
    cols = ["doc_id", "seq_ts", "n_tok", "source"]
    chunked = with_time_chunk(seqs, "source", "seq_ts", 5)
    a = sessionize(chunked, "source", "seq_ts", 60.0, order_extra=["doc_id", "n_tok"], chunk_col="__tchunk")
    b = sessionize(seqs, "source", "seq_ts", 60.0, order_extra=["doc_id", "n_tok"])
    sel = cols + ["session_id"]
    assert a.select(sel).exceptAll(b.select(sel)).count() == 0

    for vc in [None, "n_tok"]:
        a = rolling_count(chunked, "source", "seq_ts", 3600, "rn", value_col=vc, chunk_col="__tchunk")
        b = rolling_count(seqs, "source", "seq_ts", 3600, "rn", value_col=vc)
        sel = cols + ["rn"]
        assert a.select(sel).exceptAll(b.select(sel)).count() == 0, vc

    # precomputed bounds (single collect on the cheap scan) must be identical,
    # even when the bounds are LOOSE — out-of-range rows clamp into end chunks
    from marmot_spark.operators.windows import entity_time_bounds

    bounds = entity_time_bounds(seqs, "source", "seq_ts")
    loose = {k: (mn - 10_000_000, mx + 250_000_000) for k, (mn, mx) in bounds.items()}
    for bset in [bounds, loose]:
        chunked = with_time_chunk(seqs, "source", "seq_ts", 5, bounds=bset)
        a = sessionize(chunked, "source", "seq_ts", 60.0, order_extra=["doc_id", "n_tok"], chunk_col="__tchunk")
        sel = cols + ["session_id"]
        assert a.select(sel).exceptAll(
            sessionize(seqs, "source", "seq_ts", 60.0, order_extra=["doc_id", "n_tok"]).select(sel)
        ).count() == 0
        r = rolling_count(chunked, "source", "seq_ts", 3600, "rn", chunk_col="__tchunk")
        sel = cols + ["rn"]
        assert r.select(sel).exceptAll(
            rolling_count(seqs, "source", "seq_ts", 3600, "rn").select(sel)
        ).count() == 0

    # guard: chunking a high-cardinality entity is refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="low-cardinality"):
        with_time_chunk(seqs, "doc_id", "seq_ts", 4)


def test_chunked_rolling_randomized_stress(spark):
    """Randomized adversarial check of the chunk-tail sideband algebra
    (rolling = lcum - llt + cnt_ge): duplicate timestamps ON chunk
    boundaries, negative deltas, windows sized to flood the boundary region,
    and a window >= span case that must fall back — all equal to the naive
    RANGE-frame formulation."""
    import numpy as np
    from datetime import datetime, timedelta

    from marmot_spark.operators.windows import rolling_count, with_time_chunk

    rng = np.random.default_rng(7)
    base = datetime(2026, 1, 1)
    for trial, (win, n_chunks) in enumerate([(50, 4), (290, 3), (1000, 2), (10_000, 4)]):
        rows = []
        for ent in ["a", "b"]:
            t = 0.0
            for _ in range(300):
                t += float(rng.choice([0.0, 0.0, 1.0, 7.0, 60.0, 300.0]))
                rows.append((ent, base + timedelta(seconds=t),
                             int(rng.integers(-5, 10))))
        df = spark.createDataFrame(rows, "ent string, ts timestamp, v long")
        chunked = with_time_chunk(df, "ent", "ts", n_chunks)
        for vc in [None, "v"]:
            got = rolling_count(chunked, "ent", "ts", win, "rn", value_col=vc,
                                chunk_col="__tchunk")
            want = rolling_count(df, "ent", "ts", win, "rn", value_col=vc,
                                 strategy="range")
            sel = ["ent", "ts", "v", "rn"]
            assert got.select(sel).exceptAll(want.select(sel)).count() == 0, (trial, vc)


def test_shared_chunk_col_matches_serial(spark, fixture_dir):
    """rolling+sessionize over one shared with_time_chunk column == serial."""
    from marmot_spark.operators.windows import (
        entity_time_bounds,
        rolling_count,
        sessionize,
        with_time_chunk,
    )

    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").select(
        "doc_id", "seq_ts", "n_tok", "source"
    )
    bounds = entity_time_bounds(seqs, "source", "seq_ts")
    # the one bounds format: integer unix_micros min/max per entity
    us = F.unix_micros("seq_ts")
    want = {r["source"]: (r["mn"], r["mx"])
            for r in seqs.groupBy("source").agg(F.min(us).alias("mn"), F.max(us).alias("mx")).collect()}
    assert bounds == want and all(type(v) is int for mn_mx in bounds.values() for v in mn_mx)
    shared = with_time_chunk(seqs, "source", "seq_ts", 5, bounds=bounds)
    # 50_000 s is at least the chunk span: rolling falls back to the serial
    # frames on a frame that still carries the shared chunk column
    sel = ["doc_id", "seq_ts", "n_tok", "source", "rn", "session_id"]
    for win in [3600, 50_000]:
        a = rolling_count(shared, "source", "seq_ts", win, "rn", chunk_col="__tchunk")
        a = sessionize(a, "source", "seq_ts", 60.0, order_extra=["doc_id", "n_tok"],
                       chunk_col="__tchunk").drop("__tchunk")
        b = rolling_count(seqs, "source", "seq_ts", win, "rn")
        b = sessionize(b, "source", "seq_ts", 60.0, order_extra=["doc_id", "n_tok"])
        assert a.select(sel).exceptAll(b.select(sel)).count() == 0, win
        assert b.select(sel).exceptAll(a.select(sel)).count() == 0, win


def test_chunk_col_must_carry_with_time_chunk_geometry(spark, fixture_dir):
    """with_time_chunk is the one way into the chunked path: its column
    records the geometry (entity, ts, n_chunks, bounds) both chunked
    operators compute with. A chunk column it did not build (here n_tok % 4,
    not a time range), a missing one, or one built for another entity fails
    while the plan is built instead of giving wrong sessions or counts."""
    import datetime

    import pytest

    from marmot_spark.operators.windows import rolling_count, with_time_chunk

    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").select(
        "doc_id", "seq_ts", "n_tok", "source"
    )
    foreign = seqs.withColumn("__tchunk", (F.col("n_tok") % 4).cast("int"))
    other = with_time_chunk(seqs.withColumn("src2", F.col("source")), "src2", "seq_ts", 4)
    ops = (
        lambda df: sessionize(df, "source", "seq_ts", 60.0, chunk_col="__tchunk"),
        lambda df: rolling_count(df, "source", "seq_ts", 3600, "rn", chunk_col="__tchunk"),
    )
    for op in ops:
        for bad in (foreign, seqs):
            with pytest.raises(ValueError, match="no chunk geometry"):
                op(bad)
        with pytest.raises(ValueError, match="chunks 'src2'"):
            op(other)
    # a key type JSON cannot hold exactly is refused when the column is built
    with pytest.raises(ValueError, match="strings, numbers or NULL"):
        with_time_chunk(seqs.withColumn("day", F.to_date("seq_ts")), "day", "seq_ts", 4,
                        bounds={datetime.date(2026, 1, 1): (0, 86_400_000_000)})


def test_order_col_must_be_bigint_micros(spark, fixture_dir):
    """A shared order key that is not a bigint unix_micros(ts) column — here
    seconds as double, or a missing column — fails while the plan is built,
    for both window operators that take one."""
    import pytest

    from marmot_spark.operators.windows import rolling_count

    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").select("doc_id", "seq_ts", "source")
    secs = seqs.withColumn("__ous", F.col("seq_ts").cast("double"))
    ops = (
        lambda df: sessionize(df, "source", "seq_ts", 60.0, order_col="__ous"),
        lambda df: rolling_count(df, "source", "seq_ts", 3600, "rn", order_col="__ous"),
    )
    for op in ops:
        for bad in (secs, seqs):
            with pytest.raises(ValueError, match="order_col"):
                op(bad)
        op(seqs.withColumn("__ous", F.unix_micros("seq_ts")))


def test_window_ops_require_timestamp_ts(spark):
    """One time domain: a bare-number ts (here bigint epoch seconds) has no
    unit, so every event-time window operator refuses it while the plan is
    built instead of framing it as seconds or micros."""
    import pytest

    from marmot_spark.operators.windows import (
        entity_time_bounds,
        rolling_count,
        rolling_distinct,
        session_features,
        with_time_chunk,
    )

    df = spark.createDataFrame([("a", 0, 1), ("a", 10, 2), ("a", 5000, 1)], "ent string, ts bigint, v int")
    ops = (
        lambda: sessionize(df, "ent", "ts", 60.0),
        lambda: rolling_count(df, "ent", "ts", 3600, "rn"),
        lambda: rolling_count(df, "ent", "ts", 3600, "rn", strategy="range"),
        lambda: rolling_distinct(df, "ent", "ts", 3600, "v"),
        lambda: with_time_chunk(df, "ent", "ts", 4, bounds={"a": (0, 5_000_000_000)}),
        lambda: entity_time_bounds(df, "ent", "ts"),
        lambda: session_features(df.withColumn("session_id", F.lit(1)), "ent", "ts"),
    )
    for op in ops:
        with pytest.raises(ValueError, match="TimestampType"):
            op()
