"""Checkpoint/resume, TableIO snapshots, multimodal plumbing, streaming,
corpus sources — the operational surface."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from marmot_spark.checkpoint import CheckpointedJob
from marmot_spark.operators.multimodal import (
    attach_media,
    default_decoder,
    extract_media_features,
    fake_decoder,
)
from marmot_spark.sources.corpus import read_alignment_file, read_token_corpus, read_wmt_tsv
from marmot_spark.sources.tables import TableIO
from marmot_spark.streaming.stream import streaming_session_counts, streaming_source


def test_checkpoint_resume_idempotent(spark, fixture_dir, tmp_path):
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    transform = lambda df: df.withColumn("n2", F.col("n_tok") * 2)  # noqa: E731

    job = CheckpointedJob(str(tmp_path), "feat", snapshot_id=1, n_buckets=8)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(seqs, transform, bucket_key="doc_id", fail_after=3)
    assert len(job.committed_buckets()) == 3
    with pytest.raises(RuntimeError, match="incomplete"):
        job.read_output(spark)

    # resume: only remaining buckets run; final result == direct computation
    done2 = CheckpointedJob(str(tmp_path), "feat", snapshot_id=1, n_buckets=8).run(
        seqs, transform, bucket_key="doc_id"
    )
    assert len(done2) == 5
    out = job.read_output(spark)
    assert out.count() == seqs.count()
    direct = transform(seqs)
    assert out.exceptAll(direct).count() == 0 and direct.exceptAll(out).count() == 0

    # second resume is a no-op (idempotent)
    done3 = CheckpointedJob(str(tmp_path), "feat", snapshot_id=1, n_buckets=8).run(
        seqs, transform, bucket_key="doc_id"
    )
    assert done3 == []
    # lineage manifests carry metrics
    ms = job.manifests()
    assert len(ms) == 8
    assert sum(m["input_rows"] for m in ms) == seqs.count()
    assert all(m["wall_ms"] >= 0 and "checksum" in m for m in ms)


def test_checkpoint_prebucketed_prunes(spark, fixture_dir, tmp_path):
    """bucket_col on a storage-partitioned source: the per-bucket filter must
    reach the scan as a partition filter (each input byte read once across
    all bucket jobs — the 100 TB path), and results must equal the hash path."""
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    n_b = 4
    src_dir = str(tmp_path / "bucketed_src")
    seqs.withColumn(
        "bkt", F.pmod(F.xxhash64("doc_id"), F.lit(n_b)).cast("int")
    ).write.partitionBy("bkt").parquet(src_dir)
    bucketed = spark.read.parquet(src_dir)

    # pruning evidence through run()'s actual plan shape: the filter is
    # applied AFTER withColumnRenamed(bucket_col, '__bucket'), so assert the
    # rename doesn't block partition-filter pushdown
    renamed = bucketed.withColumnRenamed("bkt", "__bucket")
    plan = renamed.filter(F.col("__bucket") == 2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bkt" in plan.split("PartitionFilters:")[1][:80]

    transform = lambda df: df.withColumn("n2", F.col("n_tok") * 2)  # noqa: E731
    job = CheckpointedJob(str(tmp_path), "pre", snapshot_id=1, n_buckets=n_b)
    # verify_readback audits the storage round-trip against the observed
    # (single-pass) row count + checksum lineage metrics
    done = job.run(bucketed, transform, bucket_key="doc_id", bucket_col="bkt", verify_readback=True)
    assert len(done) == n_b
    out = job.read_output(spark)
    direct = transform(seqs)
    assert out.count() == seqs.count()
    assert out.select(direct.columns).exceptAll(direct).count() == 0


def test_checkpoint_rejects_mismatched_bucket_col(spark, fixture_dir, tmp_path):
    """Storage bucketing that disagrees with n_buckets (or null ids) must fail
    loudly up front — silently dropping unmatched rows while committing every
    manifest would be undetectable data loss."""
    import pytest as _pytest

    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    bad_range = seqs.withColumn("bkt", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"))
    job = CheckpointedJob(str(tmp_path), "bad1", snapshot_id=1, n_buckets=4)
    with _pytest.raises(ValueError, match="outside"):
        job.run(bad_range, lambda df: df, bucket_key="doc_id", bucket_col="bkt")

    bad_null = seqs.withColumn(
        "bkt", F.when(F.col("n_tok") % 2 == 0, F.lit(None)).otherwise(F.lit(1)).cast("int")
    )
    job2 = CheckpointedJob(str(tmp_path), "bad2", snapshot_id=1, n_buckets=4)
    with _pytest.raises(ValueError, match="NULL"):
        job2.run(bad_null, lambda df: df, bucket_key="doc_id", bucket_col="bkt")


def test_tableio_snapshots(spark, fixture_dir, tmp_path):
    tio = TableIO(spark, str(tmp_path))
    seqs = spark.read.parquet(f"{fixture_dir}/sequences.parquet").limit(100)
    s1 = tio.write(seqs, "sequences")
    s2 = tio.write(seqs.limit(10), "sequences")
    assert tio.snapshots("sequences") == sorted([s1, s2])
    assert tio.read("sequences", version_as_of=s1).count() == 100
    assert tio.read("sequences").count() == 10  # latest
    with pytest.raises(FileNotFoundError):
        tio.read("sequences", version_as_of=123)
    with pytest.raises(FileNotFoundError):
        tio.read("nope")


def test_external_pipe_tool(spark):
    """S5 external-tool source: subprocess per Arrow batch and long-lived
    per-partition worker agree; NULLs bypass the tool; a tool that breaks the
    one-line-per-line contract fails loudly."""
    from marmot_spark.sources.external import pipe_text

    import sys as _sys

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "MiXeD case"), (4, "")],
        "id long, text string",
    ).repartition(2)

    # per-batch mode: any line-oriented filter works (tool sees EOF per batch)
    rows = {r["id"]: r["up"] for r in pipe_text(
        df, "text", ["tr", "a-z", "A-Z"], out_col="up"
    ).collect()}
    assert rows == {1: "HELLO WORLD", 2: None, 3: "MIXED CASE", 4: ""}

    # per-partition long-lived worker: requires a line-FLUSHING interactive
    # tool (the fast_align force-align shape) — a python -u upcaser stands in
    worker = [
        _sys.executable, "-u", "-c",
        "import sys\nfor line in sys.stdin: print(line.rstrip('\\n').upper(), flush=True)",
    ]
    rows = {r["id"]: r["up"] for r in pipe_text(
        df, "text", worker, out_col="up", per_partition=True
    ).collect()}
    assert rows == {1: "HELLO WORLD", 2: None, 3: "MIXED CASE", 4: ""}

    # tool emitting the wrong line count (uniq collapses duplicates)
    dup = spark.createDataFrame([(1, "same"), (2, "same")], "id long, text string").coalesce(1)
    import pytest as _pytest

    with _pytest.raises(Exception, match="contract|emitted"):
        pipe_text(dup, "text", ["uniq"], out_col="u").collect()

    # embedded newline must be rejected, not silently mis-align rows
    nl = spark.createDataFrame([(1, "a\nb")], "id long, text string")
    with _pytest.raises(Exception, match="newline"):
        pipe_text(nl, "text", ["cat"], out_col="c").collect()


def test_external_pipe_worker_death_and_overflow_fail_loudly(spark):
    """per_partition mode must NOT silently emit '' when the worker dies
    mid-partition (EOF on readline), and must reject a tool that emits more
    than one line per input (trailing buffered output) — both previously
    corrupted rows silently (ADVICE r2)."""
    import sys as _sys

    from marmot_spark.sources.external import pipe_text

    df = spark.createDataFrame(
        [(i, f"line{i}") for i in range(6)], "id long, text string"
    ).coalesce(1)

    # worker echoes 2 lines then exits -> EOF mid-partition must raise
    dying = [
        _sys.executable, "-u", "-c",
        "import sys\n"
        "for i, line in enumerate(sys.stdin):\n"
        "    if i >= 2: sys.exit(3)\n"
        "    print(line.rstrip(chr(10)), flush=True)",
    ]
    with pytest.raises(Exception, match="exited|contract"):
        pipe_text(df, "text", dying, out_col="o", per_partition=True).collect()

    # worker emits TWO lines per input -> misalignment must be detected
    doubler = [
        _sys.executable, "-u", "-c",
        "import sys\n"
        "for line in sys.stdin:\n"
        "    s = line.rstrip(chr(10))\n"
        "    print(s, flush=True)\n"
        "    print(s + '!', flush=True)",
    ]
    with pytest.raises(Exception, match="trailing|more than one"):
        pipe_text(df, "text", doubler, out_col="o", per_partition=True).collect()

    # nonzero exit AFTER clean output must also surface
    failing = [
        _sys.executable, "-u", "-c",
        "import sys\n"
        "for line in sys.stdin:\n"
        "    print(line.rstrip(chr(10)), flush=True)\n"
        "sys.exit(7)",
    ]
    with pytest.raises(Exception, match="rc=7"):
        pipe_text(df, "text", failing, out_col="o", per_partition=True).collect()


def test_build_session_errors_name_the_column_at_plan_build(spark):
    """``build_session`` turns off PySpark's per-call call-site capture; a bad
    column still fails while the plan is built, with its error class and a
    message naming the column (only the Python call-site block is gone)."""
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.range(3).withColumn("ok", F.col("id") + 1)
    with pytest.raises(AnalysisException, match="no_such_col") as err:
        df.select(F.upper(F.col("no_such_col")).alias("up"))
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")


def test_binarize_guardrails(spark):
    """F8: fitting a high-cardinality (non-categorical) column must raise
    before the single-task global sort / giant broadcast (VERDICT r2 §wrong 1);
    the check itself is bounded (limit N+1), not a full-domain aggregate."""
    from marmot_spark.functions.binarize import binarize, fit_vocab

    ids = spark.range(0, 500).select(F.col("id").cast("string").alias("v"))
    with pytest.raises(ValueError, match="categorical"):
        fit_vocab(ids, "v", max_vocab=100)

    # small categorical domain still fits + binarizes fine
    cats = spark.range(0, 500).select((F.col("id") % 5).cast("string").alias("v"))
    vocab = fit_vocab(cats, "v", max_vocab=100)
    assert vocab.count() == 5
    out = binarize(cats, "v", vocab).limit(10).collect()
    assert all(len(r["v_onehot"]) == 5 and sum(r["v_onehot"]) == 1.0 for r in out)

    # an oversized vocab handed directly to binarize is refused too
    big_vocab = spark.range(0, 200).select(
        F.col("id").cast("string").alias("value"), F.col("id").cast("int").alias("idx")
    )
    with pytest.raises(ValueError, match="max_vocab"):
        binarize(cats, "v", big_vocab, max_vocab=100)


def test_tableio_iceberg_branch_logic(monkeypatch, tmp_path):
    """The iceberg backend is import-guarded (no runtime jar in this sandbox);
    exercise its read/write branch logic against recording fakes so the
    VERSION AS OF / snapshot-id plumbing is tested even without the jar."""
    from marmot_spark.sources.tables import TableIO

    calls = []

    class FakeReader:
        def __init__(self):
            self.opts = {}

        def format(self, fmt):
            calls.append(("format", fmt))
            return self

        def option(self, k, v):
            self.opts[k] = v
            calls.append(("option", k, v))
            return self

        def load(self, path):
            calls.append(("load", path))
            return "df"

    class FakeWriteTo:
        def createOrReplace(self):
            calls.append(("createOrReplace",))

        def append(self):
            calls.append(("append",))

    class FakeDF:
        def writeTo(self, ident):
            calls.append(("writeTo", ident))
            return FakeWriteTo()

    class FakeSpark:
        read = FakeReader()

    monkeypatch.setattr(TableIO, "_iceberg_available", lambda self: True)
    tio = TableIO(FakeSpark(), "cat.db", backend="iceberg")

    tio.write(FakeDF(), "seqs", mode="overwrite")
    assert ("writeTo", "cat.db.seqs") in calls and ("createOrReplace",) in calls
    tio.write(FakeDF(), "seqs", mode="append")
    assert ("append",) in calls

    assert tio.read("seqs", version_as_of=42) == "df"
    assert ("format", "iceberg") in calls
    assert ("option", "snapshot-id", "42") in calls
    assert ("load", "cat.db.seqs") in calls

    # without the jar the constructor must refuse iceberg loudly
    monkeypatch.setattr(TableIO, "_iceberg_available", lambda self: False)
    with pytest.raises(RuntimeError, match="classpath"):
        TableIO(FakeSpark(), "cat.db", backend="iceberg")


def test_multimodal_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    media = attach_media(docs, "text", "blob/text", "doc_id")
    assert [f.name for f in media.schema.fields] == ["id", "content", "meta"]
    feats = extract_media_features(media, decoder=fake_decoder).toPandas()
    assert len(feats) == 50
    assert (feats["feat_dim"] == 4).all()
    assert (feats["n_bytes"] > 0).all()
    # determinism
    feats2 = extract_media_features(attach_media(docs, "text", "blob/text", "doc_id"), decoder=fake_decoder).toPandas()
    assert feats.sort_values("id").reset_index(drop=True).equals(feats2.sort_values("id").reset_index(drop=True))


def test_multimodal_default_decoder_is_stub():
    with pytest.raises(NotImplementedError):
        default_decoder(b"abc", "image/png")


def test_streaming_sessionize(spark, sf_dir, tmp_path):
    # streaming file source requires a directory
    import shutil

    ev_dir = tmp_path / "events_stream"
    ev_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", ev_dir / "part-0.parquet")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = streaming_source(spark, str(ev_dir), schema)
    agg = streaming_session_counts(stream, gap="30 minutes")
    q = (
        agg.writeStream.outputMode("append").format("memory").queryName("sess_out").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM sess_out")
    # append mode emits only watermark-closed sessions; check shape + sanity
    assert out.columns == ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    assert out.count() > 0
    assert out.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_corpus_sources(spark, tmp_path):
    corpus = tmp_path / "corpus.txt"
    corpus.write_text("the quick fox\njumps over\n")
    df = read_token_corpus(spark, str(corpus)).orderBy("doc_id").collect()
    assert df[0]["tokens"] == ["the", "quick", "fox"] and df[0]["n_tok"] == 3
    assert df[1]["tokens"] == ["jumps", "over"]

    wmt = tmp_path / "wmt.tsv"
    wmt.write_text("0\t0\thello\tOK\n0\t1\tworld\tBAD\n1\t0\tbye\tOK\n")
    rows = {r["doc_id"]: r for r in read_wmt_tsv(spark, str(wmt)).collect()}
    assert rows["s00000000"]["tokens"] == ["hello", "world"]
    assert rows["s00000000"]["tags"] == ["OK", "BAD"]
    assert rows["s00000001"]["tokens"] == ["bye"]

    al = tmp_path / "align.txt"
    al.write_text("0-0 1-1 1-2\n0-1\n")
    arows = {r["doc_id"]: r for r in read_alignment_file(spark, str(al)).collect()}
    assert arows["s00000000"]["align"] == [[0], [1, 2]]
    assert arows["s00000001"]["align"] == [[1]]


def test_ivf_topk_recall_and_shape(spark, sf_dir):
    """IVF ANN: correct schema, subset-of-brute-force scores within probed cells."""
    from marmot_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    ivf = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=2).collect()
    assert len(ivf) == 15  # 3 queries x k
    bf = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in brute_force_topk(emb, queries, k=500).collect()
    }
    for r in ivf:
        # every IVF score must equal the exact score for that pair
        assert bf[(r["query_id"], r["neighbor_id"])] == r["score"]
    # ranks are 1..k per query, descending scores
    by_q = {}
    for r in sorted(ivf, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["score"])
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)


def test_embedding_cosine_pairs_finds_rescaled_copies(spark, sf_dir):
    """A rescaled copy of every vector must pair with its original at ~cos=1."""
    from marmot_spark.operators.similarity import embedding_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    base = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    copies = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * F.lit(1.01)).alias("embedding"),
    )
    pairs = embedding_cosine_pairs(
        base.unionByName(copies), threshold_ppm=950_000, n_planes=6
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # near-all copies found (a copy can miss only via a quantization sign flip)
    expected = {(i, i + 100000) for i in range(50)}
    assert len(found & expected) >= 48
    assert all(r["cos_ppm"] >= 950_000 for r in pairs)
    # no false positives: every surviving pair is an (original, copy) pair
    assert found <= expected


def test_kmeans_codebook_ivf(spark):
    """Spherical k-means codebook: bit-deterministic across runs, and on
    CLUSTERED data where the first-N seed codebook is degenerate (all seed
    vectors from one cluster), training must recover the cluster structure
    and decisively beat the seed's recall."""
    import numpy as np

    from marmot_spark.operators.similarity import (
        brute_force_topk, ivf_topk, kmeans_codebook,
    )

    rng = np.random.default_rng(11)
    bases = rng.integers(-1000, 1000, size=(8, 32)).astype(float)
    rows = []
    vid = 0
    # ids 0..59 all belong to cluster 0 -> the lowest-id seed codebook puts
    # every centroid inside one cluster
    for c in range(8):
        for _ in range(60):
            vec = bases[c] + rng.integers(-3, 4, size=32)
            rows.append((vid, [float(x) / 1000.0 for x in vec]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 60 == 30)  # one probe per cluster

    cb1 = {r["cell"]: list(r["qcent"]) for r in kmeans_codebook(emb, n_cells=8, n_iters=5).collect()}
    cb2 = {r["cell"]: list(r["qcent"]) for r in kmeans_codebook(emb, n_cells=8, n_iters=5).collect()}
    assert cb1 == cb2, "k-means must be bit-deterministic"

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(codebook):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, queries, k=5, n_cells=8, n_probe=1, codebook=codebook).collect()
        }
        return len(got & truth) / len(truth)

    def assignments(codebook):
        from marmot_spark.operators.similarity import int_dot, quantized_col

        c = emb.select(F.col("vec_id").alias("id"), quantized_col("embedding").alias("qc"))
        return (
            c.join(F.broadcast(codebook))
            .withColumn("s", int_dot(F.col("qc"), F.col("qcent")))
            .groupBy("id").agg(F.max_by("cell", F.struct(F.col("s"), -F.col("cell"))).alias("cell"))
            .collect()
        )

    trained = kmeans_codebook(emb, n_cells=8, n_iters=5)
    r_trained = recall(trained)
    assert r_trained >= 0.95, r_trained
    # training must RECOVER the 8 ground-truth clusters: every trained cell
    # is pure (one cluster only) and every cluster got its own cell
    cell_to_clusters: dict[int, set[int]] = {}
    for r in assignments(trained):
        cell_to_clusters.setdefault(r["cell"], set()).add(r["id"] // 60)
    assert len(cell_to_clusters) == 8, sorted(cell_to_clusters)
    assert all(len(cls) == 1 for cls in cell_to_clusters.values()), cell_to_clusters


def test_kmeans_codebook_high_dim_smoke(spark):
    """Plan-size scaling: the per-dim sums run over posexplode rows
    (groupBy(cell, dim) — ONE sum expression at any width), so a 256-dim
    codebook trains without a thousands-of-aggregates Catalyst plan
    (VERDICT r2 §wrong 2). Also pins the `cell long` schema so big vec_ids
    seed cells without int overflow (ADVICE r2)."""
    import numpy as np

    from marmot_spark.operators.similarity import kmeans_codebook

    rng = np.random.default_rng(11)
    dim, n = 256, 120
    # ids above 2^31-1 exercise the long cell schema
    base = 5_000_000_000
    rows = [
        (base + i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = kmeans_codebook(emb, n_cells=4, n_iters=2)
    assert dict(cb.dtypes)["cell"] == "bigint"
    got = cb.collect()
    assert len(got) == 4
    assert all(len(r["qcent"]) == dim for r in got)
    # determinism across runs
    cb2 = kmeans_codebook(emb, n_cells=4, n_iters=2).collect()
    assert sorted((r["cell"], list(r["qcent"])) for r in got) == sorted(
        (r["cell"], list(r["qcent"])) for r in cb2
    )


def test_derive_n_planes_scales_with_corpus():
    """Bucket count must grow with N: fixed 64 buckets over a web corpus is
    N^2/64 candidate pairs. Derived planes keep occupancy ~target_bucket."""
    from marmot_spark.operators.similarity import derive_n_planes

    assert derive_n_planes(100, target_bucket=256) == 1
    assert derive_n_planes(256 * 64, target_bucket=256) == 6
    assert derive_n_planes(10**9, target_bucket=256) == 22
    assert derive_n_planes(10**15, target_bucket=256) == 30  # capped
    # monotone in N
    vals = [derive_n_planes(n) for n in [10**3, 10**5, 10**7, 10**9]]
    assert vals == sorted(vals)


def test_embedding_cosine_auto_planes(spark, sf_dir):
    """n_planes=None derives the plane count from the corpus size and still
    finds every rescaled copy (copies agree on ALL hyperplane signs, so
    exact-copy recall is planes-independent)."""
    from marmot_spark.operators.similarity import embedding_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(40)
    base = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    copies = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * F.lit(1.01)).alias("embedding"),
    )
    pairs = embedding_cosine_pairs(
        base.unionByName(copies), threshold_ppm=950_000, n_planes=None, target_bucket=16
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    expected = {(i, i + 100000) for i in range(40)}
    assert len(found & expected) >= 38
    assert found <= expected


def test_ngram_jaccard_guardrails(spark, sf_dir):
    """max_block drops oversize blocks; sub_block_shingles shatters a corpus-
    sized block while keeping near-dup recall (exact-dup docs always share
    their smallest shingle)."""
    from marmot_spark.operators.dedup import ngram_jaccard_pairs

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
        .withColumn("tokens", F.transform(F.split("text", " "), lambda x: F.length(x).cast("int")))
        .withColumn("blk1", F.lit("all"))  # one degenerate corpus-wide block
    )
    dup = docs.select((F.col("doc_id") + 5000).alias("doc_id"), "tokens", "blk1")
    both = docs.select("doc_id", "tokens", "blk1").unionByName(dup)

    # the degenerate block exceeds max_block -> dropped entirely
    assert ngram_jaccard_pairs(both, "doc_id", "tokens", "blk1", max_block=50).count() == 0

    # sub-block refinement: the single block shatters, exact dups still pair
    refined = ngram_jaccard_pairs(
        both, "doc_id", "tokens", "blk1", threshold_ppm=999_999, sub_block_shingles=3, max_block=50
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in refined}
    expected = {(int(i), int(i) + 5000) for i in [r["doc_id"] for r in docs.select("doc_id").collect()]}
    assert expected <= found | expected  # sanity on shapes
    assert len(found & expected) >= len(expected) - 2  # near-total recall of exact dups
    for r in refined:
        assert r["jaccard_ppm"] >= 999_999


def test_streaming_stateful_totals(spark, sf_dir, tmp_path):
    """applyInPandasWithState running totals must equal the batch groupBy."""
    import shutil

    from marmot_spark.streaming.stream import streaming_stateful_totals

    ev_dir = tmp_path / "events_state_stream"
    ev_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", ev_dir / "part-0.parquet")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = streaming_source(spark, str(ev_dir), batch.schema)
    q = (
        streaming_stateful_totals(stream)
        .writeStream.outputMode("update").format("memory").queryName("state_out").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # one micro-batch -> latest update per key IS the final total
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql("SELECT * FROM state_out").collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_streaming_stateful_totals_multibatch_drain(spark, sf_dir, tmp_path):
    """Update mode emits one running-totals row per touched key per
    micro-batch; the query-layer drain (max_by on strictly-increasing
    n_events) must recover the exact final totals under FORCED multi-batch
    execution — the determinism contract VERDICT r2 asked to pin."""
    import pandas as pd

    from marmot_spark.streaming.stream import streaming_stateful_totals

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    d = tmp_path / "ev_multibatch"
    d.mkdir()
    third = len(ev) // 3
    for i in range(3):
        ev.iloc[i * third : (i + 1) * third if i < 2 else len(ev)].to_parquet(
            d / f"part{i}.parquet", index=False
        )
    schema = spark.read.parquet(str(d)).schema
    src = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(d))
    )
    q = (
        streaming_stateful_totals(src)
        .writeStream.outputMode("update").format("memory")
        .queryName("state_mb").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    sink = spark.table("state_mb")
    n_users = sink.select("user_id").distinct().count()
    assert sink.count() > n_users  # genuinely multiple updates per key
    got = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n"),
            F.max_by("sum_value", "n_events").alias("s"),
        )
        .collect()
    }
    batch = spark.read.parquet(str(d))
    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_simhash_hamming_banding_complete(spark, sf_dir):
    """Pigeonhole banding must find EXACTLY the naive quadratic pair set."""
    from marmot_spark.operators.dedup import simhash_col, simhash_hamming_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "tokens", F.transform(F.split("text", " "), lambda x: F.length(x).cast("int"))
    ).limit(120)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_hamming_pairs(
            docs, "doc_id", "tokens", bits=16, max_hamming=2, max_bucket=None
        ).collect()
    }
    s = docs.select(F.col("doc_id").alias("id"), simhash_col("tokens", 16).alias("sh"))
    a = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = s.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    naive = {
        (r["id_a"], r["id_b"], r["h"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("h"))
        .filter(F.col("h") <= 2)
        .collect()
    }
    assert got == naive and len(got) > 0


def test_simhash_64bit_entropy_and_banding(spark, sf_dir):
    """The 64-bit default must draw real entropy above bit 31 (the per-token
    hashes are mod 2^31-1, so bits 31+ come from hash_1/hash_2, not zeros),
    and pigeonhole banding must stay exact at 64 bits (incl. the sign bit)."""
    from marmot_spark.operators.dedup import simhash_col, simhash_hamming_pairs

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn(
            "tokens", F.transform(F.split("text", " "), lambda x: F.length(x).cast("int"))
        )
        .limit(80)
    )
    sh = [r["sh"] for r in docs.select(simhash_col("tokens", 64).alias("sh")).collect()]
    # upper 32 bits vary across docs -> not the zero-padded 16/31-bit hash
    assert len({s >> 32 for s in sh}) > 1
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_hamming_pairs(
            docs, "doc_id", "tokens", bits=64, max_hamming=3, max_bucket=None
        ).collect()
    }
    s64 = docs.select(F.col("doc_id").alias("id"), simhash_col("tokens", 64).alias("sh"))
    a = s64.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = s64.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    naive = {
        (r["id_a"], r["id_b"], r["h"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("h"))
        .filter(F.col("h") <= 3)
        .collect()
    }
    assert got == naive


def test_simhash_hamming_max_bucket_guardrail(spark):
    """A degenerate band bucket (every doc identical) above the cap is
    dropped before the self-join — the O(n^2) blowup guard — while small
    buckets still pair up."""
    from marmot_spark.operators.dedup import simhash_hamming_pairs

    rows = [(f"dup{i:02d}", [5, 9, 5, 9, 5, 9]) for i in range(30)]
    rows += [("ua", [1, 2, 3, 4, 5, 6, 7, 8]), ("ub", [1, 2, 3, 4, 5, 6, 7, 9])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    capped = simhash_hamming_pairs(df, "doc_id", "tokens", max_hamming=2, max_bucket=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the 30-dup clique (C(30,2)=435 pairs) is entirely suppressed by the cap
    assert all(not (p[0].startswith("dup") and p[1].startswith("dup")) for p in got)
    uncapped = simhash_hamming_pairs(df, "doc_id", "tokens", max_hamming=2, max_bucket=None)
    n_unc = uncapped.filter(F.col("id_a").startswith("dup") & F.col("id_b").startswith("dup")).count()
    assert n_unc == 435


def test_frequency_rank_matches_global_window(spark, sf_dir):
    """The distributed dense rank (octave offsets + chunked tie-break) must
    equal the naive global-window row_number on (cnt DESC, id ASC) — ties
    included — while planning with NO Exchange SinglePartition."""
    from pyspark.sql import Window

    from marmot_spark.operators.rank import frequency_rank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "tokens", F.transform(F.split("text", " "), lambda x: F.length(x).cast("int") * 37 + F.ascii(x))
    )
    counts = (
        docs.select(F.explode("tokens").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    got = {
        r["tok"]: r["rank"]
        for r in frequency_rank(counts, "tok", "cnt", chunk=16).collect()
    }
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    want = {
        r["tok"]: r["rank"]
        for r in counts.withColumn("rank", F.row_number().over(w).cast("long")).collect()
    }
    assert got == want and len(got) > 20
    # larger synthetic vocab: Zipf-ish counts, many octaves, many chunks
    big = spark.createDataFrame(
        [(t, 1 + (7919 * (t + 3)) % (t % 13 + 1) + (1 << (t % 11))) for t in range(0, 4000, 3)],
        "tok int, cnt int",
    )
    got_b = {r["tok"]: r["rank"] for r in frequency_rank(big, "tok", "cnt", chunk=64).collect()}
    want_b = {
        r["tok"]: r["rank"]
        for r in big.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())).cast("long"),
        ).collect()
    }
    assert got_b == want_b and len(got_b) == 1334
    # heavy ties (every cnt equal) exercise the pure tie-break path
    tied = spark.createDataFrame(
        [(i * 7 % 101, 5) for i in range(101)], "tok int, cnt int"
    )
    got_t = {r["tok"]: r["rank"] for r in frequency_rank(tied, "tok", "cnt", chunk=8).collect()}
    assert got_t == {t: i + 1 for i, t in enumerate(sorted(got_t))}
    # plan: distributed — no single-task sort anywhere
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        frequency_rank(counts, "tok", "cnt").explain("simple")
    assert "SinglePartition" not in buf.getvalue()


def test_operators_on_empty_and_degenerate_inputs(spark):
    """Empty frames and degenerate docs must flow through, not crash."""
    from pyspark.sql import types as T

    from marmot_spark.operators.dedup import minhash_lsh_pairs, simhash_col
    from marmot_spark.operators.windows import (
        entity_time_bounds,
        explode_with_context,
        rolling_count,
        sessionize,
        with_time_chunk,
    )

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("seq_ts", T.TimestampType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("source", T.StringType()),
    ])
    empty = spark.createDataFrame([], schema=schema)
    assert explode_with_context(empty, k=2, keep=["doc_id"]).count() == 0
    assert sessionize(empty, "source", "seq_ts", 60.0).count() == 0
    assert rolling_count(empty, "source", "seq_ts", 3600, "rn").count() == 0
    assert entity_time_bounds(empty, "source", "seq_ts") == {}
    # chunked paths: empty bounds put every row in chunk 0
    assert with_time_chunk(empty, "source", "seq_ts", 4).count() == 0
    assert sessionize(empty, "source", "seq_ts", 60.0, n_chunks=4).count() == 0
    assert rolling_count(empty, "source", "seq_ts", 3600, "rn", n_chunks=4).count() == 0
    assert minhash_lsh_pairs(empty, "doc_id", "tokens").count() == 0

    from datetime import datetime

    one = spark.createDataFrame(
        [("d0", datetime(2026, 1, 1), [], "web"),        # empty tokens
         ("d1", datetime(2026, 1, 1), [7], "web")],      # single token
        schema=schema,
    )
    ex = explode_with_context(one, k=2, keep=["doc_id"]).collect()
    assert len(ex) == 1  # empty doc contributes no rows
    r = ex[0]
    assert (r["tok"], r["lag_1"], r["lead_1"], r["lag_2"], r["lead_2"]) == (7, -1, -2, -1, -2)
    assert simhash_col("tokens", 16) is not None
    s = sessionize(one, "source", "seq_ts", 60.0, order_extra=["doc_id"]).collect()
    assert sorted(x["session_id"] for x in s) == [1, 1]  # same ts -> one session
    rc = rolling_count(one, "source", "seq_ts", 3600, "rn").collect()
    assert sorted(x["rn"] for x in rc) == [2, 2]  # RANGE peers share the frame


def test_streaming_dedup_drops_replays(spark, tmp_path):
    """dropDuplicatesWithinWatermark wrapper: duplicates WITHIN a batch and
    exact replays in a LATER batch are both dropped; the drained sink equals
    the distinct key set. Watermark exceeds the data span, so no state
    evicts mid-run (the exactness precondition the operator documents)."""
    import datetime as dt
    import os

    from marmot_spark.streaming.stream import streaming_dedup

    base = dt.datetime(2024, 1, 1)
    rows_a = [(i, base + dt.timedelta(hours=i)) for i in range(20)]
    rows_a += rows_a[:5]  # in-batch duplicates
    rows_b = [(i, base + dt.timedelta(hours=i)) for i in range(0, 20, 2)]  # replay
    d = tmp_path / "dedup_stream"
    os.makedirs(d)
    df_a = spark.createDataFrame(rows_a, "k long, ts timestamp")
    df_b = spark.createDataFrame(rows_b, "k long, ts timestamp")
    df_a.toPandas().to_parquet(str(d / "a.parquet"), index=False, coerce_timestamps="us")
    df_b.toPandas().to_parquet(str(d / "b.parquet"), index=False, coerce_timestamps="us")
    os.utime(d / "a.parquet", (1_000_000, 1_000_000))
    os.utime(d / "b.parquet", (1_000_100, 1_000_100))

    src = (
        spark.readStream.format("parquet").schema(df_a.schema)
        .option("maxFilesPerTrigger", "1").load(str(d))
    )
    out = streaming_dedup(src, ["k"], ts="ts", watermark="365 days")
    q = (
        out.writeStream.format("memory").queryName("dedup_unit_q")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(r["k"] for r in spark.table("dedup_unit_q").collect())
    assert got == list(range(20))


def test_quantile_buckets_matches_model(spark):
    """Exact CDF binning: bucket = floor(cum_lt * k / n) with ties sharing a
    bucket, against a direct python model over a skewed random value set
    (zeros, heavy ties, octave boundaries at powers of two)."""
    import random

    from marmot_spark.operators.rank import quantile_buckets

    rng = random.Random(11)
    vals = (
        [0] * 17 + [1, 2, 3, 4] * 5 + [255, 256, 257] * 7
        + [rng.randrange(0, 5000) for _ in range(400)]
    )
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "doc_id long, v long")
    for k in (4, 8, 10):
        got = {r["doc_id"]: r["bucket"]
               for r in quantile_buckets(df, "v", k, keep=["doc_id"]).collect()}
        n = len(vals)
        cum_lt = {v: sum(1 for w in vals if w < v) for v in set(vals)}
        want = {i: (cum_lt[v] * k) // n for i, v in rows}  # exact long DIV, like the operator
        assert got == want, f"k={k}"
        assert all(0 <= b < k for b in got.values())

    # NULL and negative values must raise, not silently mis-bucket
    import pytest as _pytest

    bad_null = spark.createDataFrame([(1, 5), (2, None)], "doc_id long, v long")
    with _pytest.raises(ValueError, match="NULL"):
        quantile_buckets(bad_null, "v", 4, keep=["doc_id"])
    bad_neg = spark.createDataFrame([(1, 5), (2, -3)], "doc_id long, v long")
    with _pytest.raises(ValueError, match="negative"):
        quantile_buckets(bad_neg, "v", 4, keep=["doc_id"])


def test_read_conll_tagged(spark, tmp_path):
    """CoNLL reader: blank-line sentence recovery, position-ordered arrays."""
    from marmot_spark.sources.corpus import read_conll_tagged

    p = tmp_path / "corpus.conll"
    p.write_text(
        "The\tDT\tOK\nquick\tJJ\tOK\nfox\tNN\tBAD\n"
        "\n"
        "It\tPRP\tOK\nran\tVBD\tOK\n"
        "\n"
        "End\tNN\tBAD\n"
    )
    rows = {r["doc_id"]: r for r in read_conll_tagged(spark, str(p)).collect()}
    assert set(rows) == {"s00000000", "s00000001", "s00000002"}
    assert rows["s00000000"]["tokens"] == ["The", "quick", "fox"]
    assert rows["s00000000"]["pos_tags"] == ["DT", "JJ", "NN"]
    assert rows["s00000000"]["labels"] == ["OK", "OK", "BAD"]
    assert rows["s00000001"]["tokens"] == ["It", "ran"]
    assert rows["s00000002"]["n_tok"] == 1


def test_read_conll_tagged_multi_file(spark, tmp_path):
    """Per-file sentence recovery (r6): a directory of CoNLL files recovers
    every file independently — no single-task stage, sentence numbering per
    file — and the reader plans NO Exchange SinglePartition."""
    from marmot_spark.sources.corpus import read_conll_tagged

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.conll").write_text("A\tDT\tOK\nfox\tNN\tOK\n\nIt\tPRP\tBAD\n")
    (d / "b.conll").write_text("End\tNN\tOK\n")
    df = read_conll_tagged(spark, str(d))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    rows = df.collect()
    toks = sorted(tuple(r["tokens"]) for r in rows)
    assert toks == [("A", "fox"), ("End",), ("It",)]
    # per-file numbering: each file starts at sentence 0
    assert sorted(r["doc_id"] for r in rows) == ["s00000000", "s00000000", "s00000001"]


def _gdfa_reference(fwd, bwd, n_src, n_tgt, final_and=True):
    """Independent re-implementation of Moses grow-diag-final(-and) (scan
    order matched to the operator: (s, t) grid, passes to fixpoint)."""
    inter = set(fwd) & set(bwd)
    union = set(fwd) | set(bwd)
    A = set(inter)
    while True:
        added = False
        for s in range(n_src):
            for t in range(n_tgt):
                if (s, t) in A:
                    # Moses's canonical neighbor order — part of the
                    # operator's determinism contract (within-pass adds
                    # change later eligibility, so order matters)
                    for ds, dt in ((-1, 0), (0, -1), (1, 0), (0, 1),
                                   (-1, -1), (-1, 1), (1, -1), (1, 1)):
                        ns, nt = s + ds, t + dt
                        if (
                            0 <= ns < n_src and 0 <= nt < n_tgt
                            and (ns, nt) in union and (ns, nt) not in A
                            and (
                                all(x != ns for x, _ in A)
                                or all(y != nt for _, y in A)
                            )
                        ):
                            A.add((ns, nt))
                            added = True
        if not added:
            break
    for side in (fwd, bwd):
        for s, t in sorted(set(side)):
            if (s, t) in A:
                continue
            fs = all(x != s for x, _ in A)
            ft = all(y != t for _, y in A)
            if (fs and ft) if final_and else (fs or ft):
                A.add((s, t))
    return sorted(A)


def test_grow_diag_final_matches_reference(spark):
    """Symmetrization parity: the operator's python core and the Spark
    mapInPandas path both match an independently-written Moses reference on
    random directional link sets; intersection ⊆ result ⊆ union holds."""
    import random

    from marmot_spark.operators.alignment import grow_diag_final, symmetrize_alignments

    rng = random.Random(5)
    cases = []
    for i in range(25):
        n_src, n_tgt = rng.randrange(1, 8), rng.randrange(1, 8)
        mk = lambda: sorted({(rng.randrange(n_src), rng.randrange(n_tgt))
                             for _ in range(rng.randrange(0, 10))})
        cases.append((i, mk(), mk(), n_src, n_tgt))

    for fa in (True, False):
        for i, fwd, bwd, ns, nt in cases:
            got = grow_diag_final(fwd, bwd, ns, nt, final_and=fa)
            want = _gdfa_reference(fwd, bwd, ns, nt, final_and=fa)
            assert got == want, (i, fa)
            inter, union = set(fwd) & set(bwd), set(fwd) | set(bwd)
            assert inter <= set(got) <= union

    df = spark.createDataFrame(
        [(i, [{"s": s, "t": t} for s, t in fwd], [{"s": s, "t": t} for s, t in bwd], ns, nt)
         for i, fwd, bwd, ns, nt in cases],
        "id long, fwd array<struct<s:int,t:int>>, bwd array<struct<s:int,t:int>>, "
        "n_src int, n_tgt int",
    )
    out = {r["id"]: [(p["s"], p["t"]) for p in r["align_sym"]]
           for r in symmetrize_alignments(df).collect()}
    for i, fwd, bwd, ns, nt in cases:
        assert out[i] == grow_diag_final(fwd, bwd, ns, nt), i


def test_streaming_asof_backfill_equals_batch(spark, sf_dir, tmp_path):
    """foreachBatch as-of backfill drained over THREE micro-batches equals
    the batch as-of join over the whole table exactly (backward as-of has no
    cross-event state, so batching must not change the result)."""
    import os

    import pandas as pd

    from marmot_spark.operators.asof import asof_join
    from marmot_spark.streaming.stream import streaming_asof_backfill

    ev_pd = pd.read_parquet(f"{sf_dir}/events.parquet")
    src_dir = tmp_path / "asof_src"
    src_dir.mkdir()
    for i in range(3):
        p = src_dir / f"b{i}.parquet"
        ev_pd[ev_pd["event_id"] % 3 == i].to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    labels = events.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"), F.col("event_id").alias("err_event_id"),
        F.col("value").alias("err_value"),
    )
    src = (
        spark.readStream.format("parquet").schema(events.schema)
        .option("maxFilesPerTrigger", "1").load(str(src_dir))
    )
    q = streaming_asof_backfill(
        src, labels, str(tmp_path / "out"), str(tmp_path / "ck"),
        on="user_id", left_ts="ts", right_ts="err_ts",
        payload=["err_value"], tie_break="err_event_id",
    ).start()
    q.awaitTermination()

    cols = ["event_id", "user_id", "matched_ts", "err_value"]
    got = sorted(map(tuple, spark.read.parquet(str(tmp_path / "out")).select(*cols).collect()))
    want = sorted(map(tuple, asof_join(
        events, labels, on="user_id", left_ts="ts", right_ts="err_ts",
        payload=["err_value"], tie_break="err_event_id",
    ).select(*cols).collect()))
    assert got == want and len(got) == events.count()


def test_nb_model_persistence_roundtrip(spark, sf_dir, tmp_path):
    """An nb_fit model written to parquet and reloaded scores identically to
    the in-plan model — the persist-once / score-many deployment path."""
    from marmot_spark.operators.scoring import nb_fit, nb_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "tokens", F.transform(F.split("text", " "), lambda x: F.length(x).cast("int"))
    )
    weights, consts = nb_fit(docs, F.col("lang") == "en")
    weights.write.parquet(str(tmp_path / "w"))
    consts.write.parquet(str(tmp_path / "c"))
    w2 = spark.read.parquet(str(tmp_path / "w"))
    c2 = spark.read.parquet(str(tmp_path / "c"))
    live = sorted(map(tuple, nb_score(docs, weights, consts).collect()))
    reloaded = sorted(map(tuple, nb_score(docs, w2, c2).collect()))
    assert live == reloaded and len(live) > 0


def test_temperature_rates(spark):
    """Temperature mixture rates vs a direct python model: exact integers;
    tau=1 keeps everything (proportional), tau<1 upweights the smallest
    source to rate 10000; invalid tau raises."""
    import math

    import pytest as _pytest

    from marmot_spark.functions.splits import temperature_rates

    rows = [(i, "big" if i < 900 else ("mid" if i < 990 else "tiny"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for tau in (0.0, 0.3, 0.7, 1.0):
        got = {r["source"]: r["rate_bps"]
               for r in temperature_rates(df, "source", tau=tau).collect()}
        n = {"big": 900, "mid": 90, "tiny": 10}
        w = {s: math.exp((tau - 1.0) * math.log(float(c))) for s, c in n.items()}
        mx = max(w.values())
        want = {s: math.floor(10000.0 * v / mx) for s, v in w.items()}
        assert got == want, tau
    assert got == {"big": 10000, "mid": 10000, "tiny": 10000}  # tau=1 last
    with _pytest.raises(ValueError, match="tau"):
        temperature_rates(df, "source", tau=1.5)


def test_session_features_reuse_sessionize_exchange(spark, sf_dir):
    """session_features windows partition by (entity, session_id); because
    hashpartitioning(entity) clusters any superset of its keys, they must
    REUSE sessionize's Exchange — exactly one hashpartitioning(user_id...)
    in the whole plan, plus correctness of the per-session aggregates."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from marmot_spark.operators.windows import session_features, sessionize

    ev = e._events(spark, sf_dir).withColumn("value_c", e._cents("value"))
    out = session_features(
        sessionize(ev, "user_id", "ts", 1800.0, order_extra=["event_id"]),
        "user_id", "ts", value_col="value_c", order_extra=["event_id"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan

    pdf = out.toPandas()
    g = pdf.groupby(["user_id", "session_id"])
    assert (g["sess_n"].transform("size") == pdf["sess_n"]).all()
    import pandas as pd
    dur = g["ts"].transform("max") - g["ts"].transform("min")
    assert (dur.dt.total_seconds() * 1_000_000 - pdf["sess_dur_us"]).abs().max() < 1
    assert (g["value_c"].transform("sum") == pdf["sess_sum"]).all()
    # sess_idx is a 1..n permutation within each session
    assert (g["sess_idx"].transform("min") == 1).all()
    assert (g["sess_idx"].transform("max") == pdf["sess_n"]).all()


def test_rolling_distinct_shares_exchange(spark, sf_dir):
    """rolling_distinct composed onto rolling_count's fast path must add no
    shuffle (same entity partitioning, same integer-micros sort) and must
    match a pandas per-row frame scan."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from marmot_spark.operators.windows import rolling_count, rolling_distinct

    ev = e._events(spark, sf_dir)
    out = rolling_distinct(
        rolling_count(ev, "user_id", "ts", 3600, "rolling_n"),
        "user_id", "ts", 3600, "event_type", "rolling_types",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan

    pdf = out.select("event_id", "user_id", "ts", "event_type", "rolling_types").toPandas()
    pdf["us"] = pdf["ts"].astype("int64") // 1000
    for uid, g in pdf.groupby("user_id"):
        g = g.sort_values("us")
        for _, r in g.head(50).iterrows():
            want = g[(g["us"] >= r["us"] - 3600_000_000) & (g["us"] <= r["us"])][
                "event_type"
            ].nunique()
            assert r["rolling_types"] == want


def test_hard_negatives_excludes_own_group(spark, sf_dir):
    """Every mined negative has a different label than its query; ranks are
    dense 1..k; scores agree with a numpy brute-force scan restricted to
    other-label rows."""
    import numpy as np
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from marmot_spark.operators.similarity import hard_negatives

    emb = e._tbl(spark, sf_dir, "embeddings")
    out = hard_negatives(emb, emb.filter(F.col("vec_id") < 3), k=4).toPandas()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    vecs = {
        r["vec_id"]: np.floor(np.array(r["embedding"], dtype="float64") * 1000 + 0.5).astype("int64")
        for r in emb.collect()
    }
    for qid, g in out.groupby("query_id"):
        assert sorted(g["rank"]) == list(range(1, len(g) + 1))
        assert all(labels[n] != labels[qid] for n in g["neighbor_id"])
        scores = sorted(
            ((int(vecs[qid] @ v), -i) for i, v in vecs.items()
             if i != qid and labels[i] != labels[qid]),
            reverse=True,
        )[: len(g)]
        got = [(int(r["score"]), -int(r["neighbor_id"])) for _, r in g.sort_values("rank").iterrows()]
        assert got == scores


def test_snapshot_drift_exact_and_bounded(spark):
    """Drift table: counts partition the pooled sample; identical snapshots
    give zero chi2 in every bin; a shifted snapshot gives positive total;
    ppm proportions are exact floor divisions; intermediates stay BIGINT-
    safe by construction (proportion form)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from marmot_spark.operators.drift import snapshot_drift

    a = spark.range(1000).select((F.col("id") % 97).alias("v"))
    same = snapshot_drift(a, a, "v", 8).toPandas()
    assert (same["chi2_q"] == 0).all()
    assert same["n_a"].sum() == 1000 and same["n_b"].sum() == 1000
    assert (same["n_a"] == same["n_b"]).all()

    b = spark.range(1000).select(((F.col("id") % 97) + 40).alias("v"))
    moved = snapshot_drift(a, b, "v", 8).toPandas()
    assert moved["chi2_q"].sum() > 0
    for _, r in moved.iterrows():
        assert r["pa_ppm"] == r["n_a"] * 1_000_000 // max(moved["n_a"].sum(), 1)
        assert r["pb_ppm"] == r["n_b"] * 1_000_000 // max(moved["n_b"].sum(), 1)
        d = r["pa_ppm"] - r["pb_ppm"]
        assert r["chi2_q"] == d * d // max(r["pa_ppm"] + r["pb_ppm"], 1)

    with _pytest.raises(ValueError):
        snapshot_drift(a, b, "v", 1)


def test_semantic_dedup_matches_numpy_reference(spark):
    """semantic_dedup (SemDeDup shape) vs a literal numpy re-implementation
    of the documented pruning rule: x dropped iff an earlier same-cell item
    is within the cosine threshold; kept_id = lowest blocker, n_hits =
    blocker count. Fixture engineered so cells and cliques are non-trivial:
    two directions plus noisy near-copies and one orthogonal singleton."""
    import numpy as np

    from marmot_spark.operators.similarity import QUANT, semantic_dedup

    rng = np.random.RandomState(7)
    d = 16
    base_a = rng.rand(d) + 0.5
    base_b = -(rng.rand(d) + 0.5)
    vecs = []
    for i in range(30):
        src = base_a if i % 2 == 0 else base_b
        noise = rng.rand(d) * (0.001 if i < 20 else 0.8)
        vecs.append((i, [float(x) for x in (src + noise)]))
    vecs.append((30, [float(x) for x in np.eye(d)[0] * 5.0]))
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    got = {
        r["dup_id"]: (r["kept_id"], r["cos_ppm"], r["n_hits"])
        for r in semantic_dedup(df, threshold_ppm=999_000, n_cells=4).collect()
    }

    q = np.array([np.floor(np.asarray(v) * QUANT + 0.5) for _, v in vecs], dtype=np.int64)
    n2 = (q * q).sum(axis=1)
    cents = q[:4]
    dots = q @ cents.T
    cell = np.argmax(dots, axis=1)  # first max = lowest cell id on ties
    ref = {}
    for b in range(len(q)):
        hits = []
        for a in range(b):
            if cell[a] != cell[b] or n2[a] == 0 or n2[b] == 0:
                continue
            cos_ppm = int(np.floor(int(q[a] @ q[b]) * 1_000_000 / np.sqrt(float(n2[a] * n2[b]))))
            if cos_ppm >= 999_000:
                hits.append((a, cos_ppm))
        if hits:
            ref[b] = (hits[0][0], hits[0][1], len(hits))
    assert ref, "fixture produced no duplicates — not exercising the operator"
    assert got == ref
