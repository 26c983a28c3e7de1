"""The materialize/release pair: iterative kernels keep pinned only what
their result reads, and a released frame fails loudly when used."""

from __future__ import annotations

import random

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from marmot_spark.materialize import materialize, release


def _pinned_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _new_pins(spark, fn):
    """(result of fn(), ids of RDDs pinned by the call and still pinned)."""
    before = _pinned_ids(spark)
    out = fn()
    return out, _pinned_ids(spark) - before


def test_iterative_kernels_keep_only_what_the_result_reads(spark):
    from marmot_spark.operators.bpe import train_bpe_merges
    from marmot_spark.operators.graph import connected_components
    from marmot_spark.operators.ibm1 import train_fast_align, train_ibm1

    rng = random.Random(7)
    sents = [
        ([rng.randrange(6) for _ in range(rng.randrange(1, 6))],
         [10 + rng.randrange(6) for _ in range(rng.randrange(1, 6))])
        for _ in range(40)
    ]
    par = spark.createDataFrame(sents, "src_tokens array<int>, tgt_tokens array<int>")

    # the t-table is the one frame an EM result reads
    t, pins = _new_pins(spark, lambda: train_ibm1(par, n_iter=4))
    assert len(pins) == 1 and t.count() > 0
    release(t)
    (t, _lam), pins = _new_pins(spark, lambda: train_fast_align(par, n_iter=4))
    assert len(pins) == 1 and t.count() > 0
    release(t)

    seqs = [[rng.randrange(5) for _ in range(rng.randrange(2, 30))] for _ in range(150)]
    toks = spark.createDataFrame([(i, s) for i, s in enumerate(seqs)], "id long, tokens array<int>")
    merges, pins = _new_pins(
        spark, lambda: train_bpe_merges(toks, "tokens", n_merges=12, new_id_base=500)
    )
    assert len(merges) == 12 and not pins

    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11), (11, 12), (20, 21)], "src long, dst long"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # min-label returns its last label round
    labels, pins = _new_pins(spark, lambda: connected_components(edges, "src", "dst"))
    assert len(pins) == 1
    assert {r["id"]: r["comp"] for r in labels.collect()} == want
    release(labels)
    # star joins the node inventory with the final edge set
    comps, pins = _new_pins(
        spark, lambda: connected_components(edges, "src", "dst", mode="star")
    )
    assert len(pins) == 2
    assert {r["id"]: r["comp"] for r in comps.collect()} == want


def test_failed_iterative_kernels_leave_nothing_pinned(spark):
    from marmot_spark.operators.graph import connected_components
    from marmot_spark.operators.ibm1 import train_fast_align

    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], "src long, dst long")
    for mode in ("min_label", "star"):
        before = _pinned_ids(spark)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, "src", "dst", max_iter=1, mode=mode)
        assert _pinned_ids(spark) - before == set(), mode

    par = spark.createDataFrame(
        [([1, 2, 3], [11, 12]), ([4, 5], [14, 15, 16]), ([6], [17])],
        "src_tokens array<int>, tgt_tokens array<int>",
    )
    before = _pinned_ids(spark)
    with pytest.raises(ValueError, match="sentence shapes"):
        train_fast_align(par, n_iter=2, max_shape_rows=2)
    assert _pinned_ids(spark) - before == set()


def test_release_frees_blocks_and_later_use_raises(spark):
    df = spark.range(200).withColumn("k", F.col("id") % 7)
    m, pins = _new_pins(spark, lambda: materialize(df.groupBy("k").count()))
    assert len(pins) == 1 and m.count() == 7
    derived = m.filter(F.col("count") > 0)
    release(m)
    assert not pins & _pinned_ids(spark)
    with pytest.raises(Py4JJavaError):
        m.collect()
    with pytest.raises(Py4JJavaError):
        derived.count()
    # only a frame materialize returned can be released
    with pytest.raises(ValueError, match="materialize"):
        release(df)
    lazy = materialize(df, eager=False)
    with pytest.raises(ValueError, match="materialize"):
        release(lazy.select("id"))
    release(lazy)
