"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-aware and expressible as DataFrame plans:

* exact        — hash-groupBy on content (md5); survivor = min(doc_id).
* minhash_lsh  — shingle → minhash signature → LSH bands → bucket self-join →
                 exact-Jaccard verify on candidates. The band join is the ONLY
                 shuffle; candidate verification is a co-partitioned join.
* simhash      — per-doc bit-majority fingerprint, computed ARRAY-SIDE (zero
                 shuffle); near-dups = equal (or Hamming-close) fingerprints.
* ngram_jaccard— blocked exact Jaccard on shingle sets (block key bounds the
                 pair explosion).

Everything uses exact integer hashing (multiplicative hashing mod the
Mersenne prime 2^31-1) so the DuckDB oracle reproduces results bit-for-bit —
no engine-specific hash functions (xxhash64/murmur) in any output.

At 100 TB: minhash_lsh is the scale path — signature computation is embar-
rassingly parallel and the band-bucket join shuffles only (band, hash, id)
triples, not documents. Hot buckets (boilerplate) are capped by
``max_bucket`` (a bucket bigger than the cap is dropped and logged — the
standard web-dedup guardrail, since a 10^6-doc bucket means a degenerate
shingle, not real candidates).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marmot_spark.materialize import materialize

P31 = 2_147_483_647  # Mersenne prime 2^31-1
MULT = 2_654_435_761


def _hash_k(col: Column, k: int) -> Column:
    """k-th universal hash: ((x+1)*(2k+1)*MULT + k) mod P31 — exact int64."""
    return ((col.cast("long") + 1) * F.lit(((2 * k + 1) * MULT) % P31) + F.lit(k)) % F.lit(P31)


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Groups of identical content: (content_hash, n_dups, survivor_id)."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("survivor_id"))
    )


def shingle_hashes_col(tokens_col: str, k: int = 3) -> Column:
    """Distinct int64 hashes of the k-shingles of a tokens array (set semantics)."""
    toks = F.col(tokens_col)
    shingle = lambda i: F.aggregate(  # noqa: E731
        F.slice(toks, i + 1, k),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(1_000_003) + t.cast("long") + 1) % F.lit(P31),
    )
    return F.when(
        F.size(toks) >= k,
        F.array_distinct(F.transform(F.sequence(F.lit(0), F.size(toks) - k), shingle)),
    ).otherwise(F.array().cast("array<long>"))


def band_hash_col(n_hashes: int, rows_per_band: int, band: int) -> Column:
    """Combine ``rows_per_band`` consecutive minhashes into one band bucket key."""
    h = F.lit(0).cast("long")
    for j in range(band * rows_per_band, (band + 1) * rows_per_band):
        h = (h * F.lit(1_000_003) + F.col(f"mh_{j}")) % F.lit(P31)
    return h


def jaccard_ppm(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-hash arrays, as floor(ppm) — integer-safe."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, F.floor(inter.cast("long") * 1_000_000 / union)).otherwise(F.lit(0)).cast("long")


def _sig_frame(
    df: DataFrame, id_col: str, tokens_col: str, k_shingle: int, n_hashes: int
) -> DataFrame:
    """(id, sh, mh_0..mh_{n-1}) per row.

    One evaluation of the (interpreted, HOF-based) shingle fold: explode the
    shingles, then a SINGLE codegen'd aggregation rebuilds the distinct
    shingle set AND computes all minhashes. Projection collapse would
    otherwise inline the fold into every consumer (n_hashes+2 evaluations).
    """
    ex = df.select(
        F.col(id_col).alias("id"), F.explode(shingle_hashes_col(tokens_col, k_shingle)).alias("s")
    )
    sig = ex.groupBy("id").agg(
        F.collect_set("s").alias("sh"),
        *[F.min(_hash_k(F.col("s"), k)).alias(f"mh_{k}") for k in range(n_hashes)],
    )
    # read by every band/verify consumer: computed once per run
    return materialize(sig, eager=False)


def _band_frame(sig: DataFrame, n_hashes: int, rows_per_band: int, n_bands: int) -> DataFrame:
    """Explode a signature frame into (id, band, bh) bucket keys."""
    return sig.select(
        "id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), band_hash_col(n_hashes, rows_per_band, b).alias("bh")) for b in range(n_bands)])
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    k_shingle: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    jaccard_threshold_ppm: int = 500_000,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard_ppm >= threshold).

    Plan: signatures array-side → explode bands → self-join on (band, hash)
    → dedupe candidate pairs → verify exact Jaccard on the shingle sets.
    """
    n_bands = n_hashes // rows_per_band
    sig = _sig_frame(df, id_col, tokens_col, k_shingle, n_hashes)
    sh_df = sig.select("id", "sh")
    bands = _band_frame(sig, n_hashes, rows_per_band, n_bands)

    # guardrail: drop degenerate hot buckets before the self-join explodes
    bands = _capped(bands, max_bucket)

    # candidate ids only — the shingle arrays join in once per surviving pair
    a = bands.select(F.col("id").alias("id_a"), "band", "bh")
    b = bands.select(F.col("id").alias("id_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = (
        cand.join(sh_df.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh_df.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    return (
        cand.withColumn("jaccard_ppm", jaccard_ppm(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_ppm") >= jaccard_threshold_ppm)
        .select("id_a", "id_b", "jaccard_ppm")
    )


def incremental_dedup_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    tokens_col: str,
    k_shingle: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    jaccard_threshold_ppm: int = 500_000,
    max_bucket: int = 1000,
) -> DataFrame:
    """Dedup a NEW snapshot against an EXISTING corpus: (id_a, id_b,
    jaccard_ppm) where id_a is a batch doc and id_b its corpus match.

    The production shape for rolling ingestion (daily crawl vs historical
    index): the corpus is never re-paired against itself — it contributes
    only content hashes and LSH band buckets, both of which a real
    deployment precomputes once and keeps as columnar state, so the
    per-snapshot cost is O(batch) probes + the candidate verifies, not
    O(corpus²) or even O(corpus) re-shingling per run.

    Two probe paths, unioned with the max score kept per pair:

    * exact — md5(text) equality (jaccard_ppm = 1,000,000 by definition);
      a plain shuffle-hash join on the 16-byte digest.
    * near  — batch band buckets join corpus band buckets on (band, bh);
      hot buckets capped per side at ``max_bucket`` (probing a degenerate
      corpus bucket is the skew risk here, same guardrail as the
      within-corpus finder); candidates verified with exact Jaccard on the
      shingle sets, kept at/above the threshold.
    """
    n_bands = n_hashes // rows_per_band
    sig_c = _sig_frame(corpus, id_col, tokens_col, k_shingle, n_hashes)
    return _probe_corpus_state(
        batch, id_col, text_col, tokens_col,
        corpus.select(F.col(id_col).alias("id_b"), F.md5(F.col(text_col)).alias("__h")),
        sig_c.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
        _band_frame(sig_c, n_hashes, rows_per_band, n_bands).withColumnRenamed("id", "id_b"),
        k_shingle=k_shingle, n_hashes=n_hashes, rows_per_band=rows_per_band,
        jaccard_threshold_ppm=jaccard_threshold_ppm, max_bucket=max_bucket,
    )


def _capped(bands: DataFrame, max_bucket: int) -> DataFrame:
    w = Window.partitionBy("band", "bh")
    return (
        bands.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )


def _probe_corpus_state(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    tokens_col: str,
    corpus_hashes: DataFrame,
    corpus_sh: DataFrame,
    corpus_bands: DataFrame,
    *,
    k_shingle: int,
    n_hashes: int,
    rows_per_band: int,
    jaccard_threshold_ppm: int,
    max_bucket: int,
) -> DataFrame:
    """Probe a batch against prepared corpus state — (id_b, __h) content
    hashes, (id_b, sh_b) shingle sets, (id_b, band, bh) band keys — whether
    built inline (:func:`incremental_dedup_pairs`) or read back from a
    persisted index (:func:`probe_dedup_index`)."""
    n_bands = n_hashes // rows_per_band
    exact = (
        batch.select(F.col(id_col).alias("id_a"), F.md5(F.col(text_col)).alias("__h"))
        .join(corpus_hashes, "__h")
        .select("id_a", "id_b", F.lit(1_000_000).cast("long").alias("jaccard_ppm"))
    )
    sig_b = _sig_frame(batch, id_col, tokens_col, k_shingle, n_hashes)
    cand = (
        _capped(_band_frame(sig_b, n_hashes, rows_per_band, n_bands), max_bucket)
        .select(F.col("id").alias("id_a"), "band", "bh")
        .join(_capped(corpus_bands, max_bucket).select("id_b", "band", "bh"), ["band", "bh"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .join(sig_b.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(corpus_sh, "id_b")
    )
    near = (
        cand.withColumn("jaccard_ppm", jaccard_ppm(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_ppm") >= jaccard_threshold_ppm)
        .select("id_a", "id_b", "jaccard_ppm")
    )
    return (
        exact.unionByName(near)
        .groupBy("id_a", "id_b")
        .agg(F.max("jaccard_ppm").alias("jaccard_ppm"))
    )


def build_dedup_index(
    corpus: DataFrame,
    tio,
    table: str,
    id_col: str,
    text_col: str,
    tokens_col: str,
    k_shingle: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 2,
) -> dict:
    """Persist the probe-side dedup state of a corpus snapshot via TableIO:
    ``<table>__hashes`` (id_b, __h), ``<table>__sh`` (id_b, sh_b),
    ``<table>__bands`` (id_b, band, bh), and a one-row ``<table>__meta``
    carrying the signature parameters. Returns {name: snapshot_id}.

    This closes the rolling-ingestion loop: the corpus is shingled ONCE per
    snapshot; every subsequent batch probe (:func:`probe_dedup_index`) reads
    the columnar state back instead of re-deriving it — the per-batch cost
    no longer includes O(corpus) re-shingling. Parameters ride in the meta
    table so a probe with mismatched signature settings fails loudly
    instead of silently finding nothing.
    """
    spark = corpus.sparkSession
    n_bands = n_hashes // rows_per_band
    sig = _sig_frame(corpus, id_col, tokens_col, k_shingle, n_hashes)
    snaps = {
        f"{table}__hashes": tio.write(
            corpus.select(F.col(id_col).alias("id_b"), F.md5(F.col(text_col)).alias("__h")),
            f"{table}__hashes",
        ),
        f"{table}__sh": tio.write(
            sig.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            f"{table}__sh",
        ),
        f"{table}__bands": tio.write(
            _band_frame(sig, n_hashes, rows_per_band, n_bands).withColumnRenamed("id", "id_b"),
            f"{table}__bands",
        ),
        f"{table}__meta": tio.write(
            spark.createDataFrame(
                [(int(k_shingle), int(n_hashes), int(rows_per_band))],
                "k_shingle int, n_hashes int, rows_per_band int",
            ),
            f"{table}__meta",
        ),
    }
    return snaps


def probe_dedup_index(
    batch: DataFrame,
    tio,
    table: str,
    id_col: str,
    text_col: str,
    tokens_col: str,
    k_shingle: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    jaccard_threshold_ppm: int = 500_000,
    max_bucket: int = 1000,
    snapshots: dict | None = None,
) -> DataFrame:
    """Dedup a batch against a PERSISTED corpus index
    (:func:`build_dedup_index`) — same result as
    :func:`incremental_dedup_pairs` against the indexed corpus (pinned by
    test), without touching corpus text or tokens. ``snapshots`` pins
    specific index snapshot ids (resume/reproducibility); default latest.
    """
    spark = batch.sparkSession
    snaps = snapshots or {}

    def _read(name):
        return tio.read(f"{table}__{name}", version_as_of=snaps.get(f"{table}__{name}"))

    meta = _read("meta").collect()[0]
    got = (meta["k_shingle"], meta["n_hashes"], meta["rows_per_band"])
    want = (k_shingle, n_hashes, rows_per_band)
    if got != want:
        raise ValueError(
            f"index {table} was built with (k_shingle, n_hashes, rows_per_band)={got}, "
            f"probe requested {want}"
        )
    return _probe_corpus_state(
        batch, id_col, text_col, tokens_col,
        _read("hashes"), _read("sh"), _read("bands"),
        k_shingle=k_shingle, n_hashes=n_hashes, rows_per_band=rows_per_band,
        jaccard_threshold_ppm=jaccard_threshold_ppm, max_bucket=max_bucket,
    )


def cdc_chunk_cols(
    tokens_col: str, *, window: int = 4, mask_bits: int = 5, max_len: int = 64
) -> Column:
    """Content-defined chunks of a token array:
    ``array<struct<chunk_idx:int, start:int, chunk_len:int, chunk_hash:long>>``.

    Rabin-style CDC recast for token sequences: a boundary falls AFTER
    position i when the rolling hash of the ``window`` tokens ending at i
    has its low ``mask_bits`` bits zero (expected chunk length 2^mask_bits),
    OR at the ``max_len`` forced-cut backstop (bounds the pathological
    no-boundary chunk; the standard CDC fallback, at the cost of
    content-definedness at exactly those cuts). Because the predicate is
    per-position LOCAL (no min-length suppression — that would thread
    sequential state through the scan), the whole operator is array-side
    higher-order functions: zero shuffle, embarrassingly parallel, and an
    edit to one token can only move boundaries within its own
    window-neighborhood — the CDC property that makes chunk hashes stable
    under local edits, which is what sub-document dedup of near-identical
    web pages needs.

    Chunk hash = the engine-wide polynomial fold
    ``(acc*1000003 + tok+1) mod P31`` over the chunk — integer-exact,
    mirrored in SQL. Downstream: explode + groupBy(chunk_hash) is the
    word-count shape at any corpus size.
    """
    if window < 1 or mask_bits < 1 or max_len < 2:
        raise ValueError("window >= 1, mask_bits >= 1, max_len >= 2 required")
    toks = F.col(tokens_col)
    n = F.size(toks)

    def fold(arr: Column) -> Column:
        return F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda acc, t: (acc * F.lit(1_000_003) + t.cast("long") + 1) % F.lit(P31),
        )

    def is_boundary(i: Column) -> Column:
        roll = fold(F.slice(toks, i - window + 2, F.lit(window)))
        return ((i >= window - 1) & (roll % (1 << mask_bits) == 0)) | (
            (i + 1) % max_len == 0
        )

    bpos = F.when(n >= 2, F.filter(F.sequence(F.lit(0), n - 2), is_boundary)).otherwise(
        F.array().cast("array<int>")
    )
    starts = F.concat(F.array(F.lit(0)), F.transform(bpos, lambda p: p + 1))
    ends = F.concat(bpos, F.array(n - 1))
    chunks = F.transform(
        F.sequence(F.lit(0), F.size(starts) - 1),
        lambda j: F.struct(
            j.cast("int").alias("chunk_idx"),
            F.element_at(starts, j + 1).cast("int").alias("start"),
            (F.element_at(ends, j + 1) - F.element_at(starts, j + 1) + 1)
            .cast("int")
            .alias("chunk_len"),
            fold(
                F.slice(
                    toks,
                    F.element_at(starts, j + 1) + 1,
                    F.element_at(ends, j + 1) - F.element_at(starts, j + 1) + 1,
                )
            ).alias("chunk_hash"),
        ),
    )
    return F.when(n >= 1, chunks).otherwise(
        F.array().cast("array<struct<chunk_idx:int,start:int,chunk_len:int,chunk_hash:long>>")
    )


def simhash_col(tokens_col: str, bits: int = 64) -> Column:
    """Array-side bit-majority simhash over int token ids (zero shuffle).

    bit b of simhash = 1 iff strictly more than half the tokens have source
    bit b set. The per-token hashes are mod P31 (31 usable bits), so source
    bit b is bit (b % 31) of hash_{b // 31}(token) — bits 0..30 come from
    hash_0 exactly as before (bit-compatible with the bits<=31 SQL oracles),
    higher bits draw fresh entropy from hash_1, hash_2. Empty docs -> 0.

    64 bits is the production default: a 16-bit fingerprint has only 2^16
    values, so at corpus scale equal-fingerprint "near-dups" are mostly hash
    coincidences and Hamming band buckets grow linearly with the corpus.
    """
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in [1, 64]")
    toks = F.col(tokens_col)
    n = F.size(toks)
    out = F.lit(0).cast("long")

    # Form deliberately chosen BY MEASUREMENT: `bits` separate filter+size
    # passes look like 64x redundant traversals, but each pass is an
    # allocation-free whole-stage-codegen loop over a primitive int array.
    # The "obvious" one-pass alternative — F.aggregate folding a 64-counter
    # array via zip_with — materializes two 64-element arrays PER TOKEN per
    # step and measured 1.4x SLOWER (pinned 4-core A/B, 300k docs x ~30
    # tokens: per-bit 24.5s median vs fold 33.3s, identical checksums).
    def bit_pred(b: int):
        # one-arg closure: F.filter treats a two-arg lambda as (elem, index)
        return lambda t: F.shiftright(_hash_k(t, b // 31), b % 31).bitwiseAND(F.lit(1)) == 1

    for b in range(bits):
        ones = F.size(F.filter(toks, bit_pred(b)))
        # bit 63 is the sign bit of a signed int64: adding LONG_MIN sets it
        weight = F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long")
        out = out + F.when(ones * 2 > n, weight).otherwise(F.lit(0).cast("long"))
    return F.when(n > 0, out).otherwise(F.lit(0).cast("long"))


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    bits: int = 64,
    max_hamming: int = 2,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance <= max_hamming.

    Pigeonhole banding: split the fingerprint into (max_hamming+1) bands —
    any pair within Hamming d must agree EXACTLY on at least one band, so the
    band self-join finds every qualifying pair without an O(n^2) cross join;
    candidates then verify with an exact popcount. With ``max_bucket=None``
    the output is banding-independent (pure semantics: ALL pairs with
    hamming <= max_hamming), so the SQL oracle can be the naive quadratic
    filter.

    Guardrails for corpus scale (mirroring ``minhash_lsh_pairs``):
    ``bits=64`` by default — a narrow fingerprint (e.g. 16 bits) has so few
    distinct band values (2^width per band) that buckets grow as O(n) and the
    self-join as O(n^2) regardless of banding; and ``max_bucket`` drops band
    buckets above the cap before the join (an oversized bucket at 64 bits
    means a degenerate fingerprint — e.g. a boilerplate majority pattern —
    not real candidates). Pass ``max_bucket=None`` for the exact variant.
    """
    n_bands = max_hamming + 1
    width = -(-bits // n_bands)  # ceil
    mask = (1 << width) - 1
    s = df.select(F.col(id_col).alias("id"), simhash_col(tokens_col, bits).alias("sh"))
    band_structs = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("sh"), i * width).bitwiseAND(F.lit(mask)).alias("bv"),
        )
        for i in range(n_bands)
    ])
    bands = s.select("id", "sh", F.explode(band_structs).alias("b")).select(
        "id", "sh", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
    )
    if max_bucket is not None:
        wcnt = Window.partitionBy("band", "bv")
        bands = (
            bands.withColumn("__bsz", F.count(F.lit(1)).over(wcnt))
            .filter(F.col("__bsz") <= max_bucket)
            .drop("__bsz")
        )
    a = bands.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "band", "bv")
    b = bands.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "band", "bv")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can agree on several bands
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    block_col: str,
    k_shingle: int = 3,
    threshold_ppm: int = 500_000,
    max_block: int | None = None,
    sub_block_shingles: int = 0,
) -> DataFrame:
    """Blocked exact n-gram-Jaccard pairs: candidates share ``block_col``.

    This is the exact-verify, small-scope tool; inside a block the join is
    O(block^2), so a coarse block key (e.g. language over a web corpus) is a
    scale trap. Two guardrails for larger inputs:

    * ``sub_block_shingles=m`` refines the block key with the m SMALLEST
      shingle hashes (each doc explodes into m (block, shingle) sub-blocks; a
      pair with Jaccard >= t shares a smallest-m shingle with probability
      ~1-(1-t)^m, so recall stays high for near-dups while a corpus-sized
      block shatters into per-shingle buckets — the same shape as minhash
      banding, but with EXACT verification and no signature approximation).
    * ``max_block`` drops (sub-)blocks larger than the cap before the
      self-join — mirroring ``max_bucket`` in minhash_lsh_pairs: an oversized
      bucket means a degenerate key, not real candidates.

    For corpus-scale dedup prefer ``minhash_lsh_pairs``; this operator is the
    precision instrument.
    """
    s = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("blk"), shingle_hashes_col(tokens_col, k_shingle).alias("sh")
    ).filter(F.size("sh") > 0)
    if sub_block_shingles > 0:
        m = sub_block_shingles
        s = (
            s.withColumn("__sub", F.explode(F.slice(F.array_sort("sh"), 1, m)))
            .withColumn("blk", F.concat_ws("|", F.col("blk").cast("string"), F.col("__sub").cast("string")))
            .drop("__sub")
        )
    if max_block is not None:
        wcnt = Window.partitionBy("blk")
        s = s.withColumn("__bsz", F.count(F.lit(1)).over(wcnt)).filter(F.col("__bsz") <= max_block).drop("__bsz")
    a = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "blk")
    b = s.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "blk")
    out = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard_ppm", jaccard_ppm(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_ppm") >= threshold_ppm)
        .select("id_a", "id_b", "jaccard_ppm")
    )
    if sub_block_shingles > 0:
        out = out.dropDuplicates(["id_a", "id_b"])  # a pair can share several sub-blocks
    return out


def _bloom_pos_exprs(col: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """Bit positions of a value under the j-th universal hash, j < n_hashes
    (the same multiplicative family as ``_hash_k``, then mod the bit width).
    MUST stay formula-identical to the numpy form in ``bloom_might_contain``.
    """
    return [(_hash_k(col, j) % F.lit(n_bits)).alias(f"__p{j}") for j in range(n_hashes)]


def build_bloom_words(values: DataFrame, col: str, n_bits: int, n_hashes: int = 3):
    """DISTRIBUTED bloom-filter build over an int64 column: returns a numpy
    int64 array of ``n_bits / 64`` words (bit b of the filter = bit ``b % 64``
    of word ``b // 64``).

    The build is one Spark aggregation: every value explodes into its
    ``n_hashes`` bit positions, positions fold into per-word masks via
    ``bit_or`` (idempotent — no distinct needed), and only the <= n_bits/64
    (word, mask) rows reach the driver. At 10^12 train shingles the executors
    still ship only the fixed-size word table; sizing follows the standard
    m = -n*ln(p)/ln(2)^2 rule (n_bits ~ 10 bits/element for ~1% FP).

    Supported input DOMAIN: values must lie in [0, P31). Outside it the JVM
    int64 multiply in ``_hash_k`` wraps negative and Java ``%``
    (sign-of-dividend) diverges from numpy ``%`` (non-negative), so the two
    sides of the filter would disagree — breaking the no-false-negative
    contract. Every in-repo producer (shingle/minhash hashes) is already
    mod-P31 by construction; the build enforces the domain distributed via
    ``assert_true`` (fails the job loudly on the first bad value instead of
    writing a corrupt filter), and the probe re-checks on the numpy side.
    """
    if n_bits % 64 != 0 or n_bits <= 0:
        raise ValueError("n_bits must be a positive multiple of 64")
    c = F.col(col)
    guard = F.assert_true(
        (c >= 0) & (c < P31),
        F.concat(F.lit(f"bloom input out of domain [0,{P31}): "), c.cast("string")),
    )
    # assert_true is NULL on success, raises on the first violation; routing
    # the value through it pins the check into the same projection as the
    # bit-position computation (no extra pass over the data)
    checked = values.select(F.when(guard.isNull(), c).alias("__v"))
    pos = checked.select(
        F.explode(F.array(*_bloom_pos_exprs(F.col("__v"), n_bits, n_hashes))).alias("p")
    )
    rows = (
        pos.groupBy(F.floor(F.col("p") / F.lit(64)).cast("long").alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")).alias("bits"))
        .collect()
    )
    words = np.zeros(n_bits // 64, dtype=np.int64)
    for r in rows:
        words[int(r["w"])] = int(r["bits"])
    return words


def bloom_might_contain(spark, words, n_bits: int, n_hashes: int = 3):
    """Vectorized membership probe: a pandas UDF (Arrow-batched numpy — no
    per-row Python) testing all ``n_hashes`` bits per value against the
    broadcast word table. False positives possible (by design), false
    negatives impossible — so it is always safe as a PRE-filter in front of
    an exact join.

    Supported input DOMAIN: [0, P31), same as ``build_bloom_words`` (see its
    docstring for why); out-of-domain values raise instead of silently
    producing a false negative."""
    bc = spark.sparkContext.broadcast(words)
    mults = [((2 * j + 1) * MULT) % P31 for j in range(n_hashes)]

    @F.pandas_udf("boolean")
    def might_contain(s: pd.Series) -> pd.Series:
        x = s.to_numpy(dtype="int64")
        if len(x) and (x.min() < 0 or x.max() >= P31):
            raise ValueError(f"bloom probe input out of domain [0,{P31})")
        w = bc.value
        out = np.ones(len(x), dtype=bool)
        for j, m in enumerate(mults):
            # identical to _hash_k: ((x+1)*mult_j + j) mod P31, then mod n_bits
            p = ((x + 1) * m + j) % P31 % n_bits
            out &= (np.right_shift(w[p // 64], p % 64) & 1).astype(bool)
        return pd.Series(out)

    return might_contain


def cross_split_contamination(
    df: DataFrame,
    tokens_col: str,
    split_col: str,
    id_col: str,
    train_value: str = "train",
    test_value: str = "test",
    k: int = 3,
    bloom_bits: int | None = None,
    bloom_hashes: int = 3,
) -> DataFrame:
    """Benchmark-contamination scan: for every TEST document, the fraction of
    its k-gram shingles that also occur anywhere in the TRAIN split.

    The standard eval-hygiene check for LLM training data (the reference has
    no split notion — its WMT train/test are separate files by construction,
    marmot/experiment/run_experiment.py [R — SURVEY.md §0]); at web scale the
    same document (or a quotation of it) routinely lands on both sides of a
    hash split, silently inflating eval scores.

    Output: (id, n_shingles, n_contaminated, contamination_ppm) per test doc
    with >= k tokens (shingles are per-doc DISTINCT — set semantics).

    Scale shape: one narrow projection computes the shingle sets in-array
    (codegen HOF, no shuffle); the per-doc denominator ``n_shingles`` is the
    array size (never crosses an exchange); the train side collapses to
    DISTINCT shingle hashes (partial-aggregated — the heavy lifting is
    map-side); test shingles join train on the int64 hash (the one
    unavoidable exchange) and hit counts re-aggregate per doc.

    ``bloom_bits`` enables the 10^12-doc upgrade: a bloom filter over the
    train shingles is built distributed (``build_bloom_words`` — one
    aggregation; only the fixed n_bits/64-word table reaches the driver),
    broadcast, and applied as an Arrow-vectorized PRE-filter on the test
    shingles BEFORE the exchange — only probable hits shuffle. Bloom false
    positives pass through to the exact join and are correctly counted as
    misses there, so the result is bit-identical with the filter on or off
    (pinned by tests); the filter only shrinks the exchange. The build costs
    one extra pass over the train shingles at plan-build time (same
    trade-off as ``detect_hot_keys``).
    """
    sh = df.select(
        F.col(id_col).alias("__id"),
        F.col(split_col).alias("__split"),
        shingle_hashes_col(tokens_col, k).alias("__sh"),
    )
    train = (
        sh.filter(F.col("__split") == train_value)
        .select(F.explode("__sh").alias("sh"))
        .distinct()
    )
    test_docs = sh.filter(F.col("__split") == test_value).filter(F.size("__sh") > 0)
    totals = test_docs.select("__id", F.size("__sh").cast("long").alias("n_shingles"))
    test = test_docs.select("__id", F.explode("__sh").alias("sh"))
    if bloom_bits is not None:
        words = build_bloom_words(train, "sh", bloom_bits, bloom_hashes)
        mc = bloom_might_contain(df.sparkSession, words, bloom_bits, bloom_hashes)
        test = test.filter(mc(F.col("sh")))
    hits = (
        test.join(train, "sh")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    return (
        totals.join(hits, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_ppm",
            F.floor(F.col("n_contaminated") * F.lit(1_000_000) / F.col("n_shingles")).cast("long"),
        )
    )
