"""Token-pipeline extensions: sequence packing, deterministic splits,
mixture sampling, repetition signals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from marmot_spark.functions.splits import mixture_sample, split_assign, split_hash_col
from marmot_spark.operators.packing import pack_segments


def _docs(spark, n=200, seed=7):
    # deterministic synthetic (id, part, n_tok) stream
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("part"),
        ((F.col("id") * 37 + seed) % 90 + 1).cast("int").alias("n_tok"),
    )


def test_pack_segments_reconstructs_stream(spark):
    """Every token of every doc lands in exactly one pack segment; packs are
    exactly max_len tokens (except each part's last); offsets are consistent."""
    d = _docs(spark)
    out = pack_segments(d, "doc_id", "n_tok", max_len=64, part_col="part").collect()
    src = {(r["doc_id"]): (r["part"], r["n_tok"]) for r in _docs(spark).collect()}
    # (a) per-doc coverage: segments tile [0, n_tok) without gaps/overlap
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(src)
    for doc, segs in by_doc.items():
        segs = sorted(segs, key=lambda r: r["seg_start"])
        assert segs[0]["seg_start"] == 0
        total = 0
        for a, b in zip(segs, segs[1:]):
            assert a["seg_start"] + a["seg_len"] == b["seg_start"]
        total = sum(s["seg_len"] for s in segs)
        assert total == src[doc][1]
    # (b) per-pack fill: every pack except the last of each part is full,
    # and pack_off slots tile [0, fill) without overlap
    by_pack: dict = {}
    for r in out:
        by_pack.setdefault((r["part"], r["pack_id"]), []).append(r)
    for (part, pid), segs in by_pack.items():
        segs = sorted(segs, key=lambda r: r["pack_off"])
        assert segs[0]["pack_off"] == 0
        for a, b in zip(segs, segs[1:]):
            assert a["pack_off"] + a["seg_len"] == b["pack_off"]
        fill = sum(s["seg_len"] for s in segs)
        last_pack = max(p for q, p in by_pack if q == part)
        assert fill == 64 or pid == last_pack


def test_pack_segments_chunked_equals_serial(spark):
    """The two-phase (n_chunks>1) prefix-sum path is bit-identical to the
    single-window form — chunk base offsets cancel exactly."""
    d = _docs(spark, n=300)
    a = sorted(
        tuple(r) for r in pack_segments(d, "doc_id", "n_tok", 50, "part").collect()
    )
    b = sorted(
        tuple(r)
        for r in pack_segments(d, "doc_id", "n_tok", 50, "part", n_chunks=8).collect()
    )
    assert a == b


def test_pack_segments_guardrail(spark):
    d = _docs(spark, n=50)
    with pytest.raises(ValueError, match="driver prefix cells"):
        pack_segments(d, "doc_id", "n_tok", 64, "part", n_chunks=4096)


def test_split_assign_deterministic_and_stable_under_growth(spark):
    """Assignment depends only on the id: identical across runs AND for the
    same ids inside a larger corpus (stable eval sets under snapshot growth)."""
    small = spark.range(100).select(F.col("id").alias("doc_id"))
    big = spark.range(500).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["split"] for r in split_assign(small).collect()}
    b = {r["doc_id"]: r["split"] for r in split_assign(big).collect()}
    assert all(b[k] == v for k, v in a.items())
    # rough proportions at 90/5/5 over 500 ids
    from collections import Counter

    c = Counter(b.values())
    assert c["train"] > 400 and c["val"] >= 5 and c["test"] >= 5
    # different seed decorrelates
    b2 = {r["doc_id"]: r["split"] for r in split_assign(big, seed=3).collect()}
    assert any(b2[k] != b[k] for k in b2)


def test_mixture_sample_rates_and_subset(spark):
    d = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "keep_all").otherwise("drop_all").alias("source"),
    )
    out = mixture_sample(
        d, {"keep_all": 10000, "drop_all": 0}, source_col="source", id_col="doc_id"
    ).collect()
    assert len(out) == 1000
    assert all(r["source"] == "keep_all" for r in out)
    # half rate keeps a deterministic strict subset
    half = mixture_sample(
        d, {"keep_all": 5000, "drop_all": 0}, source_col="source", id_col="doc_id"
    ).collect()
    assert {r["doc_id"] for r in half} <= {r["doc_id"] for r in out}
    assert 300 < len(half) < 700


def test_split_hash_range(spark):
    vals = [
        r["h"]
        for r in spark.range(1000)
        .select(split_hash_col("id").alias("h"))
        .collect()
    ]
    assert all(0 <= v < 10000 for v in vals)
    assert len(set(vals)) > 500  # spreads


def test_repetition_cols(spark):
    from marmot_spark.functions.text import repetition_cols

    d = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # 2-grams: ab ba ab ba ab -> 5 grams 2 distinct
            (2, "all words unique here now"),
            (3, "x"),                  # too short for any n-gram
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in d.select(
        "id", *[c.alias(k) for k, c in repetition_cols("text").items()]
    ).collect()}
    assert out[1]["dup_2gram_ppm"] == int((5 - 2) * 1_000_000 / 5)
    assert out[2]["dup_2gram_ppm"] == 0 and out[2]["dup_3gram_ppm"] == 0
    assert out[3]["dup_2gram_ppm"] == 0 and out[3]["dup_3gram_ppm"] == 0


def test_cross_split_contamination_planted(spark):
    """A test doc that quotes a train doc scores 1e6 ppm; a disjoint test doc
    scores 0; train/val docs emit no rows."""
    from marmot_spark.operators.dedup import cross_split_contamination

    rows = [
        (1, "train", [1, 2, 3, 4, 5]),
        (2, "train", [9, 9, 9, 9]),
        (3, "test", [1, 2, 3, 4]),      # all 2 shingles inside doc 1
        (4, "test", [7, 8, 7, 8, 7]),   # disjoint
        (5, "test", [5, 1, 2, 3]),      # shingle (1,2,3) hits, (5,1,2) misses
        (6, "val", [1, 2, 3]),
        (7, "test", [1, 2]),            # too short for k=3 -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, split string, tokens array<int>")
    out = {r["doc_id"]: r for r in cross_split_contamination(
        df, "tokens", "split", "doc_id", k=3
    ).collect()}
    assert set(out) == {3, 4, 5}
    assert out[3]["contamination_ppm"] == 1_000_000 and out[3]["n_shingles"] == 2
    assert out[4]["contamination_ppm"] == 0
    assert out[5]["n_shingles"] == 2 and out[5]["n_contaminated"] == 1
    assert out[5]["contamination_ppm"] == 500_000


def test_contamination_bloom_parity(spark):
    """The bloom pre-filter must be output-INVISIBLE: results with
    bloom_bits set (even absurdly small, maximizing false positives) are
    bit-identical to bloom off — false positives fall through to the exact
    join; false negatives are impossible by construction."""
    import random

    from marmot_spark.operators.dedup import cross_split_contamination

    rng = random.Random(7)
    rows = [
        (i, ("train", "test", "val")[i % 3],
         [rng.randrange(20) for _ in range(rng.randrange(0, 12))])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, split string, tokens array<int>")
    base = sorted(
        map(tuple, cross_split_contamination(df, "tokens", "split", "doc_id", k=3).collect())
    )
    for bits in (64, 4096, 1 << 16):  # 64 bits ~ all-FP stress case
        got = sorted(map(tuple, cross_split_contamination(
            df, "tokens", "split", "doc_id", k=3, bloom_bits=bits
        ).collect()))
        assert got == base, f"bloom_bits={bits} changed the result"


def test_bloom_filter_no_false_negatives(spark):
    """Every inserted value passes might_contain; a disjoint probe set shows
    a low FP rate at the standard ~10 bits/element sizing."""
    from pyspark.sql import functions as F

    from marmot_spark.operators.dedup import bloom_might_contain, build_bloom_words

    vals = spark.range(0, 1000).select((F.col("id") * 7 + 1).alias("v"))
    words = build_bloom_words(vals, "v", n_bits=1 << 14, n_hashes=3)
    mc = bloom_might_contain(spark, words, 1 << 14, 3)
    assert vals.filter(~mc(F.col("v"))).count() == 0  # no false negatives
    probe = spark.range(0, 1000).select((F.col("id") * 7 + 3).alias("v"))
    fp = probe.filter(mc(F.col("v"))).count()
    assert fp < 100  # ~1.7% expected at 16.4 bits/element; 10% is a red flag


def test_bloom_rejects_out_of_domain_values(spark):
    """Values outside [0, P31) break the Spark/numpy hash mirror (JVM int64
    wrap + Java-vs-numpy %), so both the build and the probe must raise
    instead of silently risking a false negative."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from marmot_spark.operators.dedup import P31, bloom_might_contain, build_bloom_words

    for bad in (-1, P31):
        vals = spark.createDataFrame([(7,), (bad,)], "v long")
        with _pytest.raises(Exception, match="domain"):
            build_bloom_words(vals, "v", n_bits=256, n_hashes=3)
    ok = spark.createDataFrame([(7,), (P31 - 1,), (0,)], "v long")
    words = build_bloom_words(ok, "v", n_bits=256, n_hashes=3)
    mc = bloom_might_contain(spark, words, 256, 3)
    assert ok.filter(~mc(F.col("v"))).count() == 0
    bad_probe = spark.createDataFrame([(-5,)], "v long")
    with _pytest.raises(Exception, match="domain"):
        bad_probe.filter(mc(F.col("v"))).count()


def test_connected_components(spark):
    """Chain (diameter > 1), clique, isolated pair, self-loop: every node
    labeled with its component's min id; non-convergence raises."""
    import pytest as _pytest

    from marmot_spark.operators.graph import connected_components

    edges = [(5, 4), (4, 3), (3, 2), (2, 1),      # chain 1-5
             (10, 11), (11, 12), (10, 12),         # clique
             (20, 21),                             # pair
             (30, 30)]                             # self-loop only -> dropped
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["comp"] for r in connected_components(df, "src", "dst").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(df, "src", "dst", max_iter=1)


def test_connected_components_star_parity(spark, sf_dir):
    """mode='star' must label identically to min-label on the dedup_clusters
    fixture's real minhash pair graph AND on the mixed toy graph."""
    import __spark_entry__ as e
    from marmot_spark.operators.dedup import minhash_lsh_pairs
    from marmot_spark.operators.graph import connected_components

    edges = [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11), (11, 12), (10, 12),
             (20, 21), (30, 30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = {r["id"]: r["comp"] for r in connected_components(df, "src", "dst").collect()}
    got = {r["id"]: r["comp"]
           for r in connected_components(df, "src", "dst", mode="star").collect()}
    assert got == want

    pairs = minhash_lsh_pairs(
        e._docs(spark, sf_dir), "doc_id", "tokens",
        k_shingle=3, n_hashes=8, rows_per_band=2, jaccard_threshold_ppm=300_000,
    ).persist()
    base = {r["id"]: r["comp"]
            for r in connected_components(pairs, "id_a", "id_b").collect()}
    star = {r["id"]: r["comp"]
            for r in connected_components(pairs, "id_a", "id_b", mode="star").collect()}
    pairs.unpersist()
    assert base and star == base


def test_connected_components_star_long_chain(spark):
    """A 256-node path graph (diameter 255): min-label at max_iter=5 CANNOT
    finish it (rounds = diameter — the default mode's documented limit, which
    its default max_iter=30 hits the same way on real quote-chains) —
    mode='star' labels it in O(log^2 n) rounds with the whole chain collapsed
    to component 0."""
    import pytest as _pytest

    from marmot_spark.operators.graph import connected_components

    n = 256
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(df, "src", "dst", max_iter=5)
    got = {r["id"]: r["comp"]
           for r in connected_components(df, "src", "dst", mode="star").collect()}
    assert got == {i: 0 for i in range(n)}


def test_bpe_checkpoint_parity_16_rounds(spark):
    """Every round materialized (lineage truncated) over a 16-merge budget:
    identical merge table to the pure-python reference."""
    import random

    from marmot_spark.operators.bpe import train_bpe_merges

    rng = random.Random(29)
    seqs = [[rng.randrange(5) for _ in range(rng.randrange(2, 30))] for _ in range(150)]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(seqs)], "id long, tokens array<int>")
    want, _ = _ref_bpe(seqs, 16, 500)
    assert train_bpe_merges(df, "tokens", n_merges=16, new_id_base=500) == want


def test_assemble_packs_equals_naive_concat(spark):
    """Segments + assembly reproduce the naive driver-side concat-and-chunk
    exactly: same pack count, every pack's token array identical."""
    rows = [
        (i, "p%d" % (i % 2), list(range(i * 100, i * 100 + (i * 7 + 3) % 23 + 1)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, part string, toks array<int>")
    d = df.withColumn("n_tok", F.size("toks"))
    from marmot_spark.operators.packing import assemble_packs, pack_segments

    segs = pack_segments(d, "doc_id", "n_tok", max_len=16, part_col="part", n_chunks=3)
    packs = assemble_packs(df, segs, "toks", "doc_id", part_col="part")
    got = {(r["part"], r["pack_id"]): list(r["tokens"]) for r in packs.collect()}
    # naive oracle
    naive = {}
    for part in ("p0", "p1"):
        stream = []
        for r in sorted(rows, key=lambda x: x[0]):
            if r[1] == part:
                stream.extend(r[2])
        for pid in range(0, (len(stream) + 15) // 16):
            naive[(part, pid)] = stream[pid * 16 : (pid + 1) * 16]
    assert got == naive
    # every pack except the last is exactly max_len
    for (part, pid), toks in got.items():
        last = max(p for q, p in got if q == part)
        assert len(toks) == 16 or pid == last


def _ref_bpe(seqs, n_merges, base, min_count=2):
    """Pure-python BPE reference: same tie-break and greedy-fold semantics."""
    from collections import Counter

    seqs = [list(s) for s in seqs]
    merges = []
    for rank in range(n_merges):
        c = Counter()
        for s in seqs:
            for x, y in zip(s, s[1:]):
                c[(x, y)] += 1
        if not c:
            break
        (a, b), cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        nid = base + rank
        merges.append({"rank": rank, "a": a, "b": b, "new_id": nid, "cnt": cnt})
        nxt = []
        for s in seqs:
            out, pend = [], None
            for t in s:
                if pend == a and t == b:
                    out.append(nid)
                    pend = None
                elif pend is None:
                    pend = t
                else:
                    out.append(pend)
                    pend = t
            if pend is not None:
                out.append(pend)
            nxt.append(out)
        seqs = nxt
    return merges, seqs


def test_bpe_train_matches_reference(spark):
    """Distributed BPE training = the pure-python reference on random
    sequences: same merge table (order, ids, counts) and same encoded
    corpus; overlapping runs merge disjointly."""
    import random

    from marmot_spark.operators.bpe import bpe_encode, train_bpe_merges

    rng = random.Random(13)
    seqs = [[rng.randrange(6) for _ in range(rng.randrange(1, 15))] for _ in range(80)]
    seqs.append([1, 1, 1, 1, 1])  # overlapping-run case
    df = spark.createDataFrame([(i, s) for i, s in enumerate(seqs)], "id long, tokens array<int>")

    got = train_bpe_merges(df, "tokens", n_merges=6, new_id_base=100)
    want, want_seqs = _ref_bpe(seqs, 6, 100)
    assert got == want

    enc = {r["id"]: list(r["tokens"]) for r in bpe_encode(df, got).collect()}
    assert enc == {i: s for i, s in enumerate(want_seqs)}

    # overlapping run: [1,1,1,1,1] under a (1,1) merge fuses disjointly
    if want and want[0]["a"] == want[0]["b"] == 1:
        assert enc[len(seqs) - 1][:2] == [want[0]["new_id"], want[0]["new_id"]]

    # early stop: all-unique corpus yields no merges
    uniq = spark.createDataFrame(
        [(0, list(range(10)))], "id long, tokens array<int>"
    )
    assert train_bpe_merges(uniq, "tokens", n_merges=3, new_id_base=100) == []


def test_pack_segments_property_random(spark):
    """Property check vs a pure-python prefix-sum model over randomized doc
    streams (multiple shapes in ONE Spark round-trip: varied lengths, single
    doc, doc longer than several packs)."""
    import random

    rng = random.Random(23)
    cases = []
    for case in range(6):
        n = rng.randrange(1, 30)
        L = rng.choice([4, 16, 64])
        docs = [(i, rng.randrange(1, 5 * L)) for i in range(n)]
        cases.append((case, L, docs))
    rows = [
        (case, L, doc_id, n_tok) for case, L, docs in cases for doc_id, n_tok in docs
    ]
    df = spark.createDataFrame(rows, "case int, L int, doc_id long, n_tok int")
    for case, L, docs in cases:
        sub = df.filter((F.col("case") == case)).drop("case", "L")
        got = sorted(
            tuple(r)
            for r in pack_segments(
                sub, "doc_id", "n_tok", L, n_chunks=rng.choice([1, 3])
            ).collect()
        )
        # python model
        want = []
        off = 0
        for doc_id, n_tok in sorted(docs):
            for pid in range(off // L, (off + n_tok - 1) // L + 1):
                s = max(pid * L - off, 0)
                e = min((pid + 1) * L, off + n_tok) - max(pid * L, off)
                want.append((doc_id, pid, s, e, max(pid * L, off) - pid * L))
            off += n_tok
        assert got == sorted(want), f"case {case} L={L}"

    # null part guard
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(None, 1, 5), ("p", 2, 5)], "part string, doc_id long, n_tok int"
    )
    with _pytest.raises(ValueError, match="NULL"):
        pack_segments(bad, "doc_id", "n_tok", 8, "part", n_chunks=2)


# ---------------------------------------------------------------------------
# corpus-statistics scoring (operators/scoring.py)
# ---------------------------------------------------------------------------

_SCORE_DOCS = [
    (0, [1, 2, 3, 2], "en"),
    (1, [2, 2, 2], "en"),
    (2, [3, 1], "de"),
    (3, [4], "de"),
    (4, [1, 2, 1, 2, 5], "en"),
    (5, [5, 5, 2, 3], "de"),
]


def _score_df(spark):
    return spark.createDataFrame(
        _SCORE_DOCS, "doc_id long, tokens array<int>, lang string"
    )


def test_tf_idf_matches_python(spark):
    """tf/df counts and the quantized weight agree with a direct model."""
    import math

    from marmot_spark.operators.scoring import tf_idf

    got = {(r["doc_id"], r["tok"]): (r["tf"], r["df"], r["tfidf_q"])
           for r in tf_idf(_score_df(spark)).collect()}
    n = len(_SCORE_DOCS)
    dfc: dict = {}
    for _, toks, _l in _SCORE_DOCS:
        for t in set(toks):
            dfc[t] = dfc.get(t, 0) + 1
    want = {}
    for d, toks, _l in _SCORE_DOCS:
        for t in set(toks):
            tf = toks.count(t)
            q = math.floor(tf * math.log(n / dfc[t]) * 1000.0 + 0.5)
            want[(d, t)] = (tf, dfc[t], q)
    assert got == want


def test_bigram_lm_loglik_matches_python(spark):
    """Add-one bigram LM: exact integer micro-unit log-liks, unseen pairs and
    unseen contexts coalesce through the same smoothing as the model."""
    import math

    from marmot_spark.operators.scoring import bigram_lm_loglik

    df = _score_df(spark)
    train = df.filter(F.col("doc_id") % 2 == 0)
    score = df.filter(F.col("doc_id") % 2 == 1)
    got = {r["doc_id"]: (r["n_bigrams"], r["ll_q"])
           for r in bigram_lm_loglik(train, score).collect()}

    tr = [toks for d, toks, _l in _SCORE_DOCS if d % 2 == 0]
    bi: dict = {}
    for toks in tr:
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    ctx: dict = {}
    for (a, _b), c in bi.items():
        ctx[a] = ctx.get(a, 0) + c
    vocab = len({t for toks in tr for t in toks})
    want = {}
    for d, toks, _l in _SCORE_DOCS:
        if d % 2 == 0 or len(toks) < 2:
            continue
        terms = [
            math.floor(
                math.log((bi.get((a, b), 0) + 1.0) / (ctx.get(a, 0) + float(vocab)))
                * 1e6 + 0.5
            )
            for a, b in zip(toks, toks[1:])
        ]
        want[d] = (len(terms), sum(terms))
    assert got == want


def test_importance_weights_matches_python(spark):
    """DSIR hashed-bigram log-ratio weights: bucket counts, totals and the
    per-doc integer sums agree with a direct model (target = lang 'en')."""
    import math

    from marmot_spark.operators.scoring import SH_MOD, SH_MULT, importance_weights

    B = 64
    got = {r["doc_id"]: (r["n_feats"], r["w_q"])
           for r in importance_weights(
               _score_df(spark), F.col("lang") == "en", k=2, n_buckets=B
           ).collect()}

    def feats(toks):
        out = []
        for a, b in zip(toks, toks[1:]):
            acc = (a + 1) % SH_MOD
            acc = (acc * SH_MULT + b + 1) % SH_MOD
            out.append(acc % B)
        return out

    raw: dict = {}
    tgt: dict = {}
    for _d, toks, lang in _SCORE_DOCS:
        for f in feats(toks):
            raw[f] = raw.get(f, 0) + 1
            if lang == "en":
                tgt[f] = tgt.get(f, 0) + 1
    R, T = sum(raw.values()), sum(tgt.values())
    lr = {
        f: math.floor(
            (math.log((tgt.get(f, 0) + 1.0) / (T + float(B)))
             - math.log((r + 1.0) / (R + float(B)))) * 1e6 + 0.5
        )
        for f, r in raw.items()
    }
    want = {}
    for d, toks, _l in _SCORE_DOCS:
        fs = feats(toks)
        if fs:
            want[d] = (len(fs), sum(lr[f] for f in fs))
    assert got == want


def test_keep_best_survivor_election(spark):
    """keep_best elects exactly one survivor per cluster: the max-score
    member, min id on ties; every member carries the survivor's id and the
    correct is_kept flag."""
    from marmot_spark.operators.graph import keep_best

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1),        # cluster 1: scores 5, 9, 9 -> tie, keep 2
         (10, 10), (11, 10),            # cluster 10: keep 11 (higher score)
         (20, 20)],                     # singleton: keeps itself
        "id long, comp long")
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 1), (11, 4), (20, 0)], "id long, score long")
    got = {r["id"]: (r["comp"], r["keep_id"], r["is_kept"])
           for r in keep_best(comps, scores).collect()}
    assert got == {1: (1, 2, False), 2: (1, 2, True), 3: (1, 2, False),
                   10: (10, 11, False), 11: (10, 11, True), 20: (20, 20, True)}


def test_incremental_dedup_pairs(spark, sf_dir):
    """Batch-vs-corpus probe: exact re-ingests surface at 1,000,000 ppm via
    the md5 path; last-word-dropped docs surface as near-dups via the LSH
    path; the corpus is never self-paired (no corpus-corpus ids in output)."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F
    from marmot_spark.operators.dedup import incremental_dedup_pairs

    corpus = e._docs(spark, sf_dir).select("doc_id", "text", "tokens")
    batch = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.when(
                F.col("doc_id") % 14 == 0, F.regexp_replace("text", " [^ ]*$", "")
            ).otherwise(F.col("text")).alias("text"),
        )
        .withColumn("tokens", F.transform(F.split("text", " "), e._tok_id))
    )
    out = incremental_dedup_pairs(
        batch, corpus, "doc_id", "text", "tokens", jaccard_threshold_ppm=300_000
    ).collect()
    assert out, "expected at least the exact re-ingests to surface"
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard_ppm"] for r in out}
    # every id_a is a batch id, every id_b a corpus id — never corpus-corpus
    assert all(a >= 1_000_000 and b < 1_000_000 for a, b in by_pair)
    n_batch = batch.count()
    exact_self = [(a, b) for (a, b), p in by_pair.items()
                  if b == a - 1_000_000 and p == 1_000_000]
    near_self = [(a, b) for (a, b), p in by_pair.items()
                 if b == a - 1_000_000 and 300_000 <= p < 1_000_000]
    # unperturbed batch docs (doc_id % 14 != 0) re-found exactly
    n_unperturbed = batch.filter((F.col("doc_id") - 1_000_000) % 14 != 0).count()
    assert len(exact_self) >= n_unperturbed
    assert near_self, "perturbed docs should surface as near-dups"
    assert len(exact_self) + len(near_self) >= int(0.9 * n_batch)


def test_cdc_chunks_edit_locality(spark):
    """The CDC property: a single-token edit may only change chunks whose
    span overlaps the edit's window-neighborhood — every chunk lying
    entirely outside [pos-window+1, pos+window-1] keeps the SAME
    (start, len, hash). A fixed-stride chunker shifts everything after the
    edit; CDC must not. Also pins parameter validation and degenerate
    inputs (empty / single-token docs)."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from marmot_spark.operators.dedup import cdc_chunk_cols

    toks = [(i * 37 + 11) % 1000 for i in range(400)]
    edit_pos = 200
    edited = list(toks)
    edited[edit_pos] = (edited[edit_pos] + 500) % 1000
    df = spark.createDataFrame(
        [(1, toks), (2, edited), (3, []), (4, [9])], "id long, tokens array<int>"
    )
    rows = (
        df.select("id", F.explode_outer(cdc_chunk_cols("tokens", window=4, mask_bits=4)).alias("c"))
        .select("id", "c.*")
        .collect()
    )
    chunks = {i: sorted(
        (r["start"], r["chunk_len"], r["chunk_hash"]) for r in rows if r["id"] == i and r["start"] is not None
    ) for i in (1, 2, 3, 4)}
    assert chunks[3] == [] and len(chunks[4]) == 1
    base = {(s, l): h for s, l, h in chunks[1]}
    window = 4
    far_same = far_total = 0
    for s, l, h in chunks[2]:
        if s + l - 1 < edit_pos - window + 1 or s > edit_pos + window - 1:
            far_total += 1
            far_same += int(base.get((s, l)) == h)
    assert far_total > 0 and far_same == far_total, (far_same, far_total)
    # the edited position's chunk DID change
    hit = [h for s, l, h in chunks[2] if s <= edit_pos <= s + l - 1]
    base_hit = [h for s, l, h in chunks[1] if s <= edit_pos <= s + l - 1]
    assert hit != base_hit

    with _pytest.raises(ValueError):
        cdc_chunk_cols("tokens", window=0)
    with _pytest.raises(ValueError):
        cdc_chunk_cols("tokens", max_len=1)


def test_dedup_index_probe_equals_inline(spark, sf_dir, tmp_path):
    """probe_dedup_index against a persisted index must return EXACTLY the
    pairs incremental_dedup_pairs finds inline; parameter mismatch fails
    loudly; pinned snapshots keep answering after the index is rebuilt."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from marmot_spark.operators.dedup import (
        build_dedup_index, incremental_dedup_pairs, probe_dedup_index,
    )
    from marmot_spark.sources.tables import TableIO

    corpus = e._docs(spark, sf_dir).select("doc_id", "text", "tokens")
    batch = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        .withColumn("tokens", F.transform(F.split("text", " "), e._tok_id))
    )
    inline = {
        (r["id_a"], r["id_b"]): r["jaccard_ppm"]
        for r in incremental_dedup_pairs(
            batch, corpus, "doc_id", "text", "tokens", jaccard_threshold_ppm=300_000
        ).collect()
    }

    tio = TableIO(spark, str(tmp_path))
    snaps = build_dedup_index(corpus, tio, "dix", "doc_id", "text", "tokens")
    probed = {
        (r["id_a"], r["id_b"]): r["jaccard_ppm"]
        for r in probe_dedup_index(
            batch, tio, "dix", "doc_id", "text", "tokens",
            jaccard_threshold_ppm=300_000,
        ).collect()
    }
    assert probed == inline and probed

    with _pytest.raises(ValueError, match="built with"):
        probe_dedup_index(batch, tio, "dix", "doc_id", "text", "tokens", k_shingle=4)

    # rebuild the index from a SHRUNK corpus; the pinned first snapshots
    # must still answer with the original pairs
    build_dedup_index(corpus.limit(10), tio, "dix", "doc_id", "text", "tokens")
    pinned = {
        (r["id_a"], r["id_b"]): r["jaccard_ppm"]
        for r in probe_dedup_index(
            batch, tio, "dix", "doc_id", "text", "tokens",
            jaccard_threshold_ppm=300_000, snapshots=snaps,
        ).collect()
    }
    assert pinned == inline
