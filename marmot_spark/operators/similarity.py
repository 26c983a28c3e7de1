"""Approximate-nearest-neighbor similarity search over an embedding column.

Two paths over ``embeddings(vec_id, embedding: array<float>, label)``:

* brute-force — broadcast the (small) query set, score every corpus vector
  with an integer dot product, take top-k per query via window ranking.
  Exact; O(N*Q); the baseline and the verifier for the ANN path.

* LSH-bucketed — random-hyperplane (SimHash) LSH: B deterministic ±1 hyper-
  planes generated by integer hashing of (plane, dim); bucket = sign-bit
  pattern of the B dots. Corpus is bucketed once (array-side, zero shuffle),
  queries probe only their own bucket → the candidate join touches a tiny
  fraction of the corpus. The 100 TB path: bucketing is a narrow map; the
  probe join is broadcast (queries are small); no corpus shuffle at all.

Scores use embeddings QUANTIZED to integers (round(x*1000)) so the DuckDB
oracle reproduces every score exactly — float summation order can differ
between engines, integer sums cannot. Ranking ties break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marmot_spark.materialize import materialize, release

P31 = 2_147_483_647
MULT = 2_654_435_761
QUANT = 1000


def quantized_col(embedding_col: str) -> Column:
    """array<long> of floor(x*QUANT + 0.5) — exact integer workspace.

    floor-form (not round) so Spark and DuckDB produce identical IEEE-double
    results for every float32 input.
    """
    return F.transform(
        F.col(embedding_col), lambda x: F.floor(x.cast("double") * QUANT + F.lit(0.5)).cast("long")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<long> (zip_with + aggregate)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v)


def hyperplane_sign(q: Column, plane: int) -> Column:
    """Deterministic ±1-hyperplane dot sign bit for a quantized vector."""
    terms = F.transform(
        q,
        lambda x, i: F.when(
            ((i.cast("long") + F.lit(plane * 1_000_003 + 1)) * F.lit(MULT)) % F.lit(P31) % 2 == 0, x
        ).otherwise(-x),
    )
    s = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)
    return (s >= 0).cast("long")


def bucket_col(q: Column, n_planes: int) -> Column:
    """LSH bucket id: packed sign bits of n_planes hyperplane dots."""
    out = F.lit(0).cast("long")
    for p in range(n_planes):
        out = out + hyperplane_sign(q, p) * F.lit(1 << p).cast("long")
    return out


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Top-k corpus neighbors per query by exact integer dot product.

    Returns (query_id, neighbor_id, score, rank). Excludes self-matches.
    """
    c = corpus.select(F.col(id_col).alias("neighbor_id"), quantized_col(emb_col).alias("qc"))
    q = queries.select(F.col(id_col).alias("query_id"), quantized_col(emb_col).alias("qq"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", int_dot(F.col("qq"), F.col("qc")))
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def derive_n_planes(n_rows: int, target_bucket: int = 256, max_planes: int = 30) -> int:
    """Hyperplane count so the EXPECTED bucket occupancy is ~target_bucket.

    2^planes buckets over n_rows vectors -> planes = ceil(log2(n/target)).
    A fixed plane count is a bench-sized default that degenerates at corpus
    scale (64 buckets over 10^9 vectors = N^2/64 candidate pairs); planes must
    grow with log(N). Capped at ``max_planes`` (2^30 buckets ~ hash-collision
    floor; beyond that recall, not bucket size, is the binding constraint).
    """
    import math

    if n_rows <= target_bucket:
        return 1
    return min(max(1, math.ceil(math.log2(n_rows / target_bucket))), max_planes)


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold_ppm: int = 950_000,
    n_planes: int | None = 6,
    target_bucket: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos_ppm >= threshold).

    The dedup scale path for embedding copies (re-encoded / rescaled docs):
    hyperplane-LSH bucketing — near-identical vectors agree on every sign bit —
    then a bucket self-join and an EXACT cosine verify on the candidates only.
    At 100 TB the bucket join shuffles (bucket, id, vector) once; no O(N^2)
    pair explosion because candidates are confined to buckets.

    ``n_planes=None`` derives the plane count from the corpus size (one cheap
    count over the id column) via ``derive_n_planes`` so bucket occupancy
    stays ~``target_bucket`` at ANY scale; an explicit n_planes pins the
    bucket function (needed when an external oracle mirrors it).

    Cosine is computed on integer-quantized vectors: dot and squared norms are
    exact int64, so the only float ops are one sqrt and one divide of identical
    integers — ppm scores reproduce bit-for-bit in the DuckDB oracle.
    """
    if n_planes is None:
        n_planes = derive_n_planes(df.select(id_col).count(), target_bucket)
    v = df.select(F.col(id_col).alias("id"), quantized_col(emb_col).alias("q"))
    v = v.withColumn("n2", int_dot(F.col("q"), F.col("q"))).filter(F.col("n2") > 0)
    v = v.withColumn("bucket", bucket_col(F.col("q"), n_planes))
    a = v.select(F.col("id").alias("id_a"), F.col("q").alias("qa"), F.col("n2").alias("na2"), "bucket")
    b = v.select(F.col("id").alias("id_b"), F.col("q").alias("qb"), F.col("n2").alias("nb2"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    cos_ppm = F.floor(
        (int_dot(F.col("qa"), F.col("qb")) * F.lit(1_000_000).cast("long")).cast("double")
        / F.sqrt((F.col("na2") * F.col("nb2")).cast("double"))
    ).cast("long")
    return (
        pairs.withColumn("cos_ppm", cos_ppm)
        .filter(F.col("cos_ppm") >= F.lit(int(threshold_ppm)))
        .select("id_a", "id_b", "cos_ppm")
    )


def kmeans_codebook(
    corpus: DataFrame,
    n_cells: int = 8,
    n_iters: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means over quantized vectors -> (cell, qcent).

    SPHERICAL k-means — the right variant for dot/cosine retrieval: after
    each Lloyd step the centroid is rescaled to a common norm, so max-dot
    assignment is cosine assignment instead of being biased toward
    longer-mean cells. Exact/deterministic: init = the n_cells lowest-id
    vectors; assignment = broadcast + ``max_by`` (deterministic tie-break);
    update = dimension-wise floor-mean then floor-rescale (per-element float
    sqrt/divide on identical inputs — no reduction-order hazard; empty cells
    keep their previous centroid). Bit-identical across partitionings.

    Per iteration: one broadcast + partial-aggregated groupBys; centroids
    (n_cells x dim ints) collect to the driver — the standard iterative-ML
    shape, trivially cheap next to the scan.

    Dimension scaling: per-dimension sums run over ``posexplode`` rows with
    ``groupBy(cell, dim)`` — the plan holds ONE sum expression regardless of
    embedding width, so 768–4096-dim vectors cost rows (cheap, distributed),
    not thousands of Catalyst aggregate expressions (codegen/plan blowup).
    The driver collects n_cells x dim (cell, dim, sum) rows — e.g. 8x4096 =
    32k longs. The assigned frame is materialized (lazily) for the iteration
    so the meta pass (counts + reseed donors) and the sum pass share one
    compute, and released after the sum pass.
    """
    q = corpus.select(F.col(id_col).alias("__id"), quantized_col(emb_col).alias("__q"))
    dim = int(q.select(F.size("__q")).limit(1).collect()[0][0])
    def _renorm(vec: list) -> list:
        n2 = sum(x * x for x in vec)
        if n2 <= 0:
            return vec
        scale = (QUANT * 8) / (n2 ** 0.5)
        return [int(x * scale // 1) for x in vec]

    cents = [
        (int(r["cell"]), _renorm([int(x) for x in r["qcent"]]))
        for r in corpus.orderBy(F.col(id_col).asc()).limit(n_cells)
        .select(F.col(id_col).alias("cell"), quantized_col(emb_col).alias("qcent")).collect()
    ]
    spark = corpus.sparkSession
    for _ in range(n_iters):
        cdf = spark.createDataFrame(
            [(c, v) for c, v in cents], schema="cell long, qcent array<long>"
        )
        assigned = materialize(
            q.join(F.broadcast(cdf))
            .withColumn("__s", int_dot(F.col("__q"), F.col("qcent")))
            .groupBy("__id")
            .agg(F.max_by("cell", F.struct(F.col("__s"), -F.col("cell"))).alias("cell"),
                 F.first("__q").alias("__q")),
            eager=False,
        )
        try:
            # per cell: count and the member FARTHEST from its own centroid
            # (min dot, tie by id) — the deterministic reseed donor for dead
            # cells (degenerate inits otherwise leave empty cells and merged
            # clusters: the classic Lloyd local optimum)
            meta = (
                assigned.join(F.broadcast(cdf), "cell")
                .withColumn("__sc", int_dot(F.col("__q"), F.col("qcent")))
                .groupBy("cell")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min_by("__q", F.struct(F.col("__sc"), F.col("__id"))).alias("far"),
                )
                .collect()
            )
            # per-(cell, dim) sums: ONE sum expression at any embedding width
            dsums = (
                assigned.select("cell", F.posexplode("__q").alias("d", "x"))
                .groupBy("cell", "d")
                .agg(F.sum("x").alias("s"))
                .collect()
            )
        finally:
            release(assigned)
        sums_by_cell: dict[int, list] = {}
        for r in dsums:
            sums_by_cell.setdefault(int(r["cell"]), [0] * dim)[int(r["d"])] = int(r["s"])
        new = dict(cents)
        counts: dict[int, int] = {c: 0 for c, _ in cents}
        donors: dict[int, list] = {}
        for r in meta:
            cell = int(r["cell"])
            counts[cell] = int(r["n"])
            donors[cell] = [int(x) for x in r["far"]]
            if r["n"] > 0:
                # python // floors (also for negatives) — exact + deterministic
                new[cell] = _renorm([s // int(r["n"]) for s in sums_by_cell[cell]])
        dead = sorted(c for c, n in counts.items() if n == 0)
        if dead:
            by_size = sorted(counts, key=lambda c: (-counts[c], c))
            for i, d in enumerate(dead):
                donor = by_size[i % len(by_size)]
                if donor in donors:
                    new[d] = _renorm(donors[donor])
        cents = sorted(new.items())
    return spark.createDataFrame(
        [(c, v) for c, v in cents], schema="cell long, qcent array<long>"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into n_cells inverted lists,
    probe the n_probe closest lists per query, exact-score those only.

    ``codebook``: a (cell int, qcent array<long>) frame, e.g. from
    ``kmeans_codebook``. Default: the n_cells lowest-id vectors — a one-pass
    deterministic seed (kept as the oracle-paired default because the SQL
    mirror is trivial; the trained path is pinned by recall tests). Assignment
    is a broadcast join + partial-aggregated argmax (``max_by``) — the corpus
    is never shuffled by the centroid join; the candidate join shuffles on
    (cell) only, and each query touches n_probe/n_cells of the corpus.
    """
    cents = codebook if codebook is not None else (
        corpus.orderBy(F.col(id_col).asc()).limit(n_cells)
        .select(F.col(id_col).alias("cell"), quantized_col(emb_col).alias("qcent"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), quantized_col(emb_col).alias("qc"))
    assigned = (
        c.join(F.broadcast(cents))
        .withColumn("cscore", int_dot(F.col("qc"), F.col("qcent")))
        .groupBy("neighbor_id")
        .agg(
            F.max_by("cell", F.struct(F.col("cscore"), -F.col("cell"))).alias("cell"),
            F.first("qc").alias("qc"),
        )
    )
    q = queries.select(F.col(id_col).alias("query_id"), quantized_col(emb_col).alias("qq"))
    qs = (
        q.join(F.broadcast(cents))
        .withColumn("cscore", int_dot(F.col("qq"), F.col("qcent")))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cscore").desc(), F.col("cell").asc())
    probes = qs.withColumn("crank", F.row_number().over(wq)).filter(F.col("crank") <= n_probe).select(
        "query_id", "qq", "cell"
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", int_dot(F.col("qq"), F.col("qc")))
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Top-k within the query's LSH bucket (approximate; same output schema)."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), quantized_col(emb_col).alias("qc"))
    c = c.withColumn("bucket", bucket_col(F.col("qc"), n_planes))
    q = queries.select(F.col(id_col).alias("query_id"), quantized_col(emb_col).alias("qq"))
    q = q.withColumn("bucket", bucket_col(F.col("qq"), n_planes))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", int_dot(F.col("qq"), F.col("qc")))
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Top-k NEAREST corpus items per query EXCLUDING the query's own group:
    hard-negative mining for contrastive training (the negatives that are
    most similar to the anchor yet belong to a different class/source — the
    ones that actually move the loss).

    Returns (query_id, neighbor_id, score, rank), exact integer-quantized
    dot scores, rank deterministic (score desc, id asc). Same plan shape as
    :func:`brute_force_topk` — the query batch broadcasts, the corpus
    streams, the group exclusion rides the join condition so excluded rows
    never reach the ranker. For ALL-corpus mining (every item is a query)
    at web scale, use the IVF/LSH candidate generation instead and apply
    the same exclusion at verify time; the brute-force form is for the
    usual batched-miner loop where the anchor batch is broadcast-sized.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(group_col).alias("__n_grp"),
        quantized_col(emb_col).alias("qc"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(group_col).alias("__q_grp"),
        quantized_col(emb_col).alias("qq"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("__n_grp") != F.col("__q_grp")),
        )
        .withColumn("score", int_dot(F.col("qq"), F.col("qc")))
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semantic_dedup(
    corpus: DataFrame,
    threshold_ppm: int = 950_000,
    n_cells: int | None = 8,
    target_cell: int = 1024,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023, public
    arXiv:2303.09540): coarse-cluster the embedding corpus, then drop items
    whose cosine to a lower-id item in the SAME cluster reaches the
    threshold. Catches paraphrase/translation/re-render duplicates that no
    lexical hash (minhash/simhash/span) can see.

    Pruning rule, stated exactly: x is DROPPED iff some y with y < x in x's
    cell has cos_ppm(x, y) >= threshold — keep-lowest-id greedy with dropped
    items retained as blockers. Deterministic, one cell-keyed self-join,
    exactly oracle-expressible. (The connected-component-exact variant
    composes by feeding the surviving pair stream to
    operators/graph.connected_components, the dedup_clusters path.)

    Scale shape: assignment is a broadcast-centroid join + partial-agg argmax
    (the ivf_topk shape — the corpus never shuffles for it); the pair join
    shuffles (cell, id, qvec) once and pairs are confined to cells, never
    O(N^2). Cluster count must grow with the corpus (the paper uses ~100k
    clusters for LAION): ``n_cells=None`` derives ceil(N / target_cell) from
    one count so expected cell occupancy stays ~target_cell at any scale;
    an explicit n_cells pins the cell function for oracle mirroring. Cosine
    is integer-quantized (see embedding_cosine_pairs) so scores reproduce
    bit-for-bit in the DuckDB oracle.

    Returns dropped rows only: (dup_id, kept_id = LOWEST blocking earlier
    id, cos_ppm = cosine to that id, n_hits = how many earlier items block).
    """
    import math

    if n_cells is None:
        n_cells = max(1, math.ceil(corpus.select(id_col).count() / target_cell))
    cents = codebook if codebook is not None else (
        corpus.orderBy(F.col(id_col).asc()).limit(n_cells)
        .select(F.col(id_col).alias("cell"), quantized_col(emb_col).alias("qcent"))
    )
    v0 = corpus.select(F.col(id_col).alias("id"), quantized_col(emb_col).alias("q"))
    v0 = v0.withColumn("n2", int_dot(F.col("q"), F.col("q"))).filter(F.col("n2") > 0)
    assigned = (
        v0.join(F.broadcast(cents))
        .withColumn("cscore", int_dot(F.col("q"), F.col("qcent")))
        .groupBy("id")
        .agg(
            F.max_by("cell", F.struct(F.col("cscore"), -F.col("cell"))).alias("cell"),
            F.first("q").alias("q"),
            F.first("n2").alias("n2"),
        )
    )
    a = assigned.select(F.col("id").alias("id_a"), F.col("q").alias("qa"), F.col("n2").alias("na2"), "cell")
    b = assigned.select(F.col("id").alias("id_b"), F.col("q").alias("qb"), F.col("n2").alias("nb2"), "cell")
    cos_ppm = F.floor(
        (int_dot(F.col("qa"), F.col("qb")) * F.lit(1_000_000).cast("long")).cast("double")
        / F.sqrt((F.col("na2") * F.col("nb2")).cast("double"))
    ).cast("long")
    hits = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_ppm", cos_ppm)
        .filter(F.col("cos_ppm") >= F.lit(int(threshold_ppm)))
    )
    return hits.groupBy(F.col("id_b").alias("dup_id")).agg(
        F.min("id_a").alias("kept_id"),
        F.min_by("cos_ppm", "id_a").alias("cos_ppm"),
        F.count(F.lit(1)).alias("n_hits"),
    )
