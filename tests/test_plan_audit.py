"""Physical-plan audits: the scale-critical properties the engine relies on.

These assert the *plan*, not the result — a correct-but-degenerate plan (full
scan for a 2-column projection, sort-merge join against a dictionary, a
shuffle inside the narrow explode) would pass every value test and still fall
over at 100 TB. Each test pins one property:

* predicate pushdown + column pruning reach the parquet scan,
* dictionary joins broadcast (never sort-merge),
* the context-window explode is shuffle-free,
* the flagship pipeline stays within its shuffle budget,
* hot expressions run inside whole-stage codegen.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("n_chars") > 100)
        .select("doc_id", "lang")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]" in plan
    # ReadSchema carries only the touched columns — not text/source
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema and "source" not in read_schema


def test_dictionary_join_broadcasts(spark, sf_dir):
    import __spark_entry__ as e

    plan = plan_of(e.queries()["tpch_join_agg"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # J3: n-gram membership against the (small) LM dict must broadcast too
    # (the registry entry is the composed j3_ngram_suite; audit the J3 leg)
    plan = plan_of(e._q_j3_ngram_membership(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_explode_with_context_is_shuffle_free(spark, sf_dir):
    from marmot_spark.operators.windows import explode_with_context

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "tokens", F.transform(F.split("text", " "), lambda x: F.length(x).cast("int"))
    )
    plan = plan_of(explode_with_context(docs, k=2, keep=["doc_id"]))
    assert "Exchange" not in plan, "context-window explode must stay narrow"
    assert "Generate" in plan and "posexplode" in plan


def test_flagship_shuffle_budget(spark):
    """The bench flagship must not grow extra shuffles as it evolves.

    Budget: rolling_count (2 window passes + probe join), sessionize
    (1 window pass + offset join), as-of (1 partition-by-key window) — every
    hashpartitioning rides source_key/doc_key; the final explode adds none.
    """
    import re

    import bench

    flag = bench.flagship_pipeline(spark, bench._bench_data())
    plan = plan_of(flag, "simple")
    # static plans duplicate subtrees per reference (runtime dedupes identical
    # exchanges via ReuseExchange); the stable invariant is the set of DISTINCT
    # shuffle key shapes, normalized over expr-ids
    keys = {
        re.sub(r"#\d+", "", m)
        for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert len(keys) <= 8, f"flagship shuffle key shapes grew: {sorted(keys)}"
    assert "Exchange rangepartitioning" not in plan  # no stray global sorts
    assert "Exchange SinglePartition" not in plan  # nothing serializes on one task
    # the 57M-row explode is the LAST stage — nothing shuffles after it
    head = plan.split("Generate", 1)[0]
    assert "Exchange" not in head, "no shuffle may sit above the explode"


def test_flagship_tokens_never_shuffle(spark):
    """The round's key shuffle-topology claim: the wide ``tokens`` arrays
    (~85% of scan bytes) appear in NO exchange — shuffle or broadcast.
    Features are computed on a narrow projection and joined back, so only
    narrow frames ever move."""
    import re

    import bench

    plan = plan_of(bench.flagship_pipeline(spark, bench._bench_data()), "formatted")
    # formatted detail: "(n) <NodeName>" header, then attribute lines
    # (Input/Output/Arguments) until the next header — scan Exchange nodes
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    exchanges = [n for n in nodes if re.match(r"\(\d+\) (Broadcast)?Exchange", n)]
    assert exchanges, "expected at least one exchange in the flagship plan"
    for node in exchanges:
        assert "tokens#" not in node, f"tokens crossed an exchange:\n{node[:400]}"


def test_flagship_joinback_regimes(spark):
    """The join-back hint is conditional on narrow-side size: small regime
    broadcasts the feature frame (tokens cross NO exchange); large regime
    (threshold forced to 0) must NOT broadcast — a driver OOM at design scale
    — and falls back to a shuffle-hash join (no sort of the wide rows), where
    tokens cross exactly the one co-partitioning exchange."""
    import re

    import bench

    data = bench._bench_data()

    small = plan_of(bench.flagship_pipeline(spark, data), "formatted")
    assert "BroadcastHashJoin" in small
    nodes = re.split(r"\n(?=\(\d+\) )", small)
    for node in [n for n in nodes if re.match(r"\(\d+\) (Broadcast)?Exchange", n)]:
        assert "tokens#" not in node

    big = plan_of(bench.flagship_pipeline(spark, data, broadcast_max_rows=0), "formatted")
    assert "ShuffledHashJoin" in big
    assert "SortMergeJoin" not in big, "wide rows must not be sorted for the join-back"
    nodes = re.split(r"\n(?=\(\d+\) )", big)
    tok_exchanges = [
        n for n in nodes
        if re.match(r"\(\d+\) (Broadcast)?Exchange", n) and "tokens#" in n
    ]
    assert all(not n.startswith("(0) BroadcastExchange") and "Broadcast" not in n.split("\n")[0]
               for n in tok_exchanges), "tokens must never be broadcast"
    assert len(tok_exchanges) <= 1, "tokens may cross only the join-back co-partitioning"


def test_window_features_in_codegen(spark, sf_dir):
    """W1 context features (shift/zip/explode) run inside whole-stage codegen —
    no Python workers, no row-at-a-time eval in the hot path."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["w1_context_window"](spark, sf_dir))
    assert "[codegen id :" in plan  # explode + projections inside codegen stages
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_flagship_has_no_python_udfs(spark):
    """input_hint: vectorized/JVM throughout — the default flagship path keeps
    Python out entirely (mapInPandas appears only in the opt-in merge kernel)."""
    import bench

    plan = plan_of(bench.flagship_pipeline(spark, bench._bench_data()), "simple")
    for marker in ["BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"]:
        assert marker not in plan, marker


def _python_rdd_scans(jplan) -> list[str]:
    """Every RDD scan in a physical plan (all children, broadcast subplans
    included, and subqueries) whose RDD lineage holds a PythonRDD."""
    found, stack = [], [jplan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "RDDScanExec" and "PythonRDD" in node.rdd().toDebugString():
            found.append(node.toString())
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return found


def test_flagship_plan_build_stays_in_the_jvm(spark, fixture_dir):
    """The salted as-of's (hot key x chunk boundary) relation is a JVM
    literal relation, so no RDD scan of the executed flagship plan reads a
    PythonRDD (a Python-list ``createDataFrame`` did, and every run started
    Python workers to serialize ~30 rows). The join-back's row count rides
    the one bounds aggregate, so the plan build runs 4 jobs, not 5: the two
    parquet schema reads, the bounds aggregate, and the broadcast that the
    lazy pin of the sessionized frame starts when it plans its RDD."""
    import bench

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # as bench.py runs it
    group = "test_flagship_plan_build_stays_in_the_jvm"
    try:
        sc.setJobGroup(group, group)
        flag = bench.flagship_pipeline(spark, fixture_dir)
        sc._jsc.clearJobGroup()
        jplan = flag._jdf.queryExecution().executedPlan()
        assert "Generate inline" in jplan.toString()  # the boundary relation
        assert _python_rdd_scans(jplan) == []
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4
    finally:
        sc._jsc.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_pack_segments_plan_is_parallel(spark, sf_dir):
    """The packing cumsum must partition by (part, chunk) — never a
    SinglePartition exchange (which the naive whole-part window would emit
    for each part at scale); the segment fan-out stays in the same stage
    (no exchange between the window and the generate)."""
    from marmot_spark.operators.packing import pack_segments

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("lang", "doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    )
    plan = plan_of(pack_segments(d, "doc_id", "n_tok", 128, "lang", n_chunks=4))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(lang" in plan  # (part, chunk) keyed exchange
    assert "Generate" in plan  # the inline() segment fan-out


def test_split_and_mixture_are_narrow(spark, sf_dir):
    """Split assignment and mixture sampling are pure projections/filters —
    zero exchanges at any scale."""
    from marmot_spark.functions.splits import mixture_sample, split_assign

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    assert "Exchange" not in plan_of(split_assign(d))
    assert "Exchange" not in plan_of(
        mixture_sample(d, {"src0": 5000}, default_bps=2500)
    )


def test_contamination_plan_shape(spark, sf_dir):
    """The contamination join must key on the int64 shingle hash (both
    aggregations partial — no SinglePartition anywhere), and the shingle
    computation itself must not shuffle the token arrays."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["contamination_check"](spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(sh" in plan


def test_contamination_bloom_prefilter_shape(spark, sf_dir):
    """The bloom pre-filter must be an Arrow-vectorized probe that adds ZERO
    exchanges: same shuffle count as bloom-off (it only shrinks the rows
    entering the existing shingle-hash exchange), with the probe present
    only in the bloom-on plan."""
    from marmot_spark.functions.splits import split_assign
    from marmot_spark.operators.dedup import cross_split_contamination

    d = split_assign(
        spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
            "tokens", F.transform(F.split("text", " "), lambda x: F.length(x).cast("int"))
        ),
        id_col="doc_id",
    )
    off = plan_of(cross_split_contamination(d, "tokens", "split", "doc_id", k=3), "simple")
    on = plan_of(
        cross_split_contamination(d, "tokens", "split", "doc_id", k=3, bloom_bits=1 << 16),
        "simple",
    )
    assert "ArrowEvalPython" not in off and "ArrowEvalPython" in on
    assert off.count("Exchange hashpartitioning") == on.count("Exchange hashpartitioning")
    assert "SinglePartition" not in on


def test_no_global_sort_or_window_in_any_driver_query(spark, sf_dir):
    """Registry-wide anti-pattern gate: NO driver query may plan a Sort or
    Window directly on top of an ``Exchange SinglePartition`` — the global
    row_number()/orderBy rank that funnels the whole frame through one task
    (the class of defect text_rarity_score had in r3). Scalar aggregates
    (HashAggregate over SinglePartition after map-side partials) are fine
    and deliberately NOT matched."""
    import re

    import __spark_entry__ as e

    # Sort/Window whose direct child (next tree line) is the single-partition
    # exchange; tree glyphs (+- :- spaces) between them. No exemptions: the
    # last one (read_conll_tagged's line-order window) was removed in r6 by
    # partitioning sentence recovery per input file.
    bad = re.compile(r"(Sort|Window)[^\n]*\n[\s:+-]*Exchange SinglePartition")
    offenders = {}
    for name, q in e.queries().items():
        plan = plan_of(q(spark, sf_dir), "simple")
        m = bad.search(plan)
        if m:
            offenders[name] = m.group(0)
    assert not offenders, f"global one-task sorts found: {offenders}"


def test_detect_hot_keys_single_scan(spark, sf_dir):
    """Hot-key detection must execute its input ONCE: the grand total rides
    the grouped counts through a reused exchange instead of a separate
    count() job re-executing the upstream plan (VERDICT r2 §wrong 3)."""
    from pyspark.sql import functions as F  # noqa: F811

    from marmot_spark.operators.asof import detect_hot_keys

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # behavior: same answer as the naive two-job form
    counts = ev.groupBy("user_id").count().collect()
    total = sum(r["count"] for r in counts)
    want = sorted(r["user_id"] for r in counts if r["count"] >= 0.05 * total)
    got = sorted(detect_hot_keys(ev, "user_id", threshold=0.05))
    assert got == want
    # plan: the counts exchange is reused, not recomputed
    src = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("__c"))
    tot = F.broadcast(src.agg(F.sum("__c").alias("__t")).withColumn("__j", F.lit(0)))
    frame = src.withColumn("__j", F.lit(0)).join(tot, "__j").filter(
        F.col("__c") >= F.lit(0.05) * F.col("__t")
    )
    frame.collect()  # AQE finalizes the plan
    assert "ReusedExchange" in frame._jdf.queryExecution().executedPlan().toString()
    # empty input -> no keys, no crash
    assert detect_hot_keys(ev.filter(F.lit(False)), "user_id") == []


def test_scoring_plans_broadcast_small_tables(spark, sf_dir):
    """Scale shape of the scoring operators: every vocabulary/bucket-sized
    lookup (document frequency, bigram contexts, V, bucket log-ratios, doc
    count) joins by BROADCAST — the corpus-sized stream is never on the
    build side and never sort-merges against a small table. The corpus's own
    exchanges are hash-partitioned on (doc, tok)/(a, b)/doc keys only (the
    registry-wide SinglePartition gate covers the rest)."""
    import __spark_entry__ as e

    # registry entry is the composed text_curation; audit each scoring leg
    for fn, want_bcast in [
        (e._q_text_tfidf, 2),           # dfd + n_docs
        (e._q_importance_weights, 2),   # ratio + totals
        (e._q_lm_score_bigram, 2),      # ctx + V (pair counts may shuffle-join)
    ]:
        plan = plan_of(fn(spark, sf_dir))
        assert plan.count("BroadcastExchange") >= want_bcast, (fn.__name__, plan)
        assert "SortMergeJoin" not in plan, fn.__name__


def test_scoring_broadcast_regimes(spark, sf_dir):
    """The vocab-table broadcasts in tf_idf / bigram_lm_loglik are
    CONDITIONAL on a probed row ceiling: under it the lookup broadcasts
    (previous test); with the ceiling forced to 0 — the web-vocabulary
    regime, where an unconditional broadcast is a driver OOM — the join
    must fall back to a shuffle-hash join (never a broadcast of the vocab
    table, never a sort of the corpus-sized stream). Values must be
    identical in both regimes."""
    import __spark_entry__ as e
    from marmot_spark.operators.scoring import bigram_lm_loglik, tf_idf

    docs = e._docs(spark, sf_dir)
    big_tfidf = tf_idf(docs, "doc_id", "tokens", quant=1000, broadcast_max_rows=0)
    plan = plan_of(big_tfidf)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan

    train = docs.filter(F.col("doc_id") % 5 != 0)
    score = docs.filter(F.col("doc_id") % 5 == 0)
    big_lm = bigram_lm_loglik(train, score, "doc_id", "tokens", broadcast_max_rows=0)
    plan = plan_of(big_lm)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan

    small = sorted(map(tuple, tf_idf(docs, "doc_id", "tokens", quant=1000).collect()))
    assert sorted(map(tuple, big_tfidf.collect())) == small
    small_lm = sorted(map(tuple, bigram_lm_loglik(train, score, "doc_id", "tokens").collect()))
    assert sorted(map(tuple, big_lm.collect())) == small_lm

    from marmot_spark.operators.scoring import nb_logodds

    big_nb = nb_logodds(docs, F.col("lang") == "en", broadcast_max_rows=0)
    plan = plan_of(big_nb)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    small_nb = sorted(map(tuple, nb_logodds(docs, F.col("lang") == "en").collect()))
    assert sorted(map(tuple, big_nb.collect())) == small_nb


def test_narrow_chain_fused_rolling_and_shared_sort(spark):
    """r6 second pass: the chunked narrow feature chain plans (1) ONE Window
    node carrying all three rolling frames (__lcum growing-range, __llt
    lagged-range, row_number) — separate withColumns re-alias the computed
    unix_micros order key to a fresh _w0 per window, the specs stop being
    equal, and CollapseWindow leaves 3 Sort+WindowExec passes — and (2) NO
    rolling-owned Sort when both operators order by one MATERIALIZED __ous
    column and sessionize runs first: rolling's required (entity, chunk,
    __ous) ordering prefix-matches sessionize's (entity, chunk, __ous, tie)
    sort on the same attribute and is elided."""
    from marmot_spark.operators.windows import (
        entity_time_bounds,
        rolling_count,
        sessionize,
        with_time_chunk,
    )

    df = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("ent"),
        F.timestamp_micros((F.col("id") * 700_000).cast("long")).alias("ts"),
        (F.col("id") % 7).alias("tie"),
    )
    bounds = entity_time_bounds(df, "ent", "ts")
    base = with_time_chunk(df, "ent", "ts", 4, bounds=bounds).withColumn(
        "__ous", F.unix_micros(F.col("ts"))
    )
    sess = sessionize(
        base, "ent", "ts", 30.0, order_extra=["tie"],
        chunk_col="__tchunk", order_col="__ous",
    )
    roll = rolling_count(
        sess, "ent", "ts", 60, "rn", chunk_col="__tchunk", order_col="__ous",
    )
    plan = plan_of(roll, "simple")
    # (1) every Window node computing __lcum also carries __llt and
    # row_number — the three frames fused into one WindowExec
    lcum_windows = [
        ln for ln in plan.splitlines() if "Window [" in ln and "__lcum" in ln
    ]
    assert lcum_windows, "expected the rolling Window node in the plan"
    for ln in lcum_windows:
        assert "__llt" in ln and "row_number" in ln, f"rolling frames split:\n{ln}"
    # (2) the flagship composition adds a lazy localCheckpoint between the
    # two operators (truncating the sideband branches, where column pruning
    # strips the session window and would otherwise re-sort). Under the bench
    # flagship regime (AQE off — with AQE on the unexecuted checkpoint plan
    # reports unknown partitioning and the tiny frame is re-exchanged, which
    # the driver-gated small queries tolerate) the LogicalRDD keeps the
    # (entity, chunk) partitioning and (entity, chunk, __ous, tie) sort
    # order, so rolling's Window sits DIRECTLY on the checkpoint scan: no
    # visible Sort orders by __ous at all.
    # AQE must be off BEFORE the checkpoint call: LogicalRDD snapshots the
    # physical plan's partitioning/ordering at localCheckpoint() time
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ck = sess.localCheckpoint(eager=False)
        roll_ck = rolling_count(
            ck, "ent", "ts", 60, "rn", chunk_col="__tchunk", order_col="__ous",
        )
        plan_ck = plan_of(roll_ck, "simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert "Scan ExistingRDD" in plan_ck  # the checkpoint boundary is there
    for ln in plan_ck.splitlines():
        if "Sort [" in ln:
            assert "__ous" not in ln, f"rolling planned its own sort:\n{ln}"


def test_a4_two_rolling_counts_share_one_window(spark, sf_dir):
    """The a4 bench query's two serial rolling passes (count + value sum)
    share one materialized order attribute, so the plan is ONE Exchange +
    ONE Sort + ONE WindowExec carrying all four frames."""
    import __spark_entry__ as e

    plan = plan_of(e._q_a4_rolling_count(spark, sf_dir), "simple")
    n_sort = sum("Sort [" in ln for ln in plan.splitlines())
    n_window = sum("Window [" in ln for ln in plan.splitlines())
    n_exchange = plan.count("Exchange hashpartitioning")
    assert (n_sort, n_window, n_exchange) == (1, 1, 1), (n_sort, n_window, n_exchange)
