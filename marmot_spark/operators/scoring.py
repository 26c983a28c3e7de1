"""Corpus-statistics scoring operators for training-data curation
(SURVEY.md §2 extension — token-pipeline ops).

The reference scores candidate sentences with externally-trained models
(marmot feature extractors consume LM/alignment scores [R — SURVEY.md §0]);
a Spark-native pipeline can train the simple statistical scorers in the same
job that applies them. Three classic curation signals:

* ``tf_idf`` — per-(doc, term) weight; the retrieval/keyword baseline.
* ``bigram_lm_loglik`` — add-one-smoothed bigram language-model
  log-likelihood of held-out docs, the KenLM-ish fluency/perplexity filter
  (train counts and scoring run in one DAG, no external model file).
* ``importance_weights`` — DSIR-style hashed n-gram importance weights
  (Xie et al. 2023, "Data Selection for Language Models via Importance
  Resampling"): log-ratio of target-domain vs raw-corpus hashed-feature
  frequencies, summed per doc.

Numeric contract (what makes these oracle-hashable): every floating value is
quantized to integer micro/milli units INSIDE the operator, per TERM, before
any cross-row summation — so the final per-doc scores are exact BIGINT sums
(associative, partitioning-independent), immune to double-addition ordering
differences between engines. The only float ops are single ``ln`` calls on
identical double expressions, which agree bit-for-bit across Spark/DuckDB in
practice (same class as the verified embedding-cosine quantization).

Scale shape (100 TB):
* vocabulary-sized count tables (document frequency, unigram contexts)
  broadcast only under a probed row ceiling (``_maybe_broadcast``) and fall
  back to a shuffle join above it — a real web vocabulary is 10^7–10^8
  entries, too big for an unconditional driver broadcast. The B-hash-bucket
  table broadcasts unconditionally (bounded by construction).
  Corpus-sized streams never collect.
* bigram count tables are corpus-bounded, so the pair-lookup join is a plain
  shuffle hash join on (a, b) — AQE may downgrade it to broadcast at small
  scale; at 100 TB the shuffle is the correct plan.
* per-doc re-aggregation groups by doc id — one exchange keyed by the same
  column the explode preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# mirror constants of functions/text.py's shingle fold (kept literal here so
# the SQL oracles can interpolate them without importing Spark code)
SH_MULT = 1_000_003
SH_MOD = 2_147_483_647

# Broadcast ceiling for the vocabulary-shaped side tables (document
# frequency, unigram contexts). A (tok:int, cnt:long) row broadcasts at
# ~16-30 B + hashmap overhead, so 4M rows is ~a few hundred MB of driver /
# executor memory — the conventional upper edge for an explicit broadcast.
# Real 10^7–10^8-entry web vocabularies exceed it and take the shuffle path.
BROADCAST_MAX_ROWS = 4_000_000


def _maybe_broadcast(t: DataFrame, max_rows: int) -> DataFrame:
    """Broadcast ``t`` only when a bounded probe shows <= ``max_rows`` rows.

    The probe is ``limit(max_rows + 1).count()`` — the same bounded
    cardinality pattern as functions/binarize.py::fit_vocab — so deciding
    never aggregates more than the ceiling. Above the ceiling the table is
    returned unhinted and the join plans as a shuffle join (at web-scale
    vocabularies an unconditional F.broadcast here is a driver OOM; pinned
    by tests/test_plan_audit.py::test_scoring_broadcast_regimes). The probe
    costs one plan-build-time job over the (already reduced) count table —
    the detect_hot_keys trade-off.

    The large regime carries a ``shuffle_hash`` hint (vocab table as build
    side): each partition-shard of even a 10^8-entry vocabulary hashes in
    executor memory, and the corpus-sized probe stream is never SORTED the
    way a SortMergeJoin would — the same join-back shape as the bench
    flagship's conditional join.
    """
    n = t.limit(max_rows + 1).count()
    return F.broadcast(t) if n <= max_rows else t.hint("shuffle_hash")


def _quant(col, scale: int):
    """round-half-up(col * scale) as BIGINT — the engine-portable quantizer
    (floor(x*s + 0.5); identical expression on the DuckDB side)."""
    return F.floor(col * F.lit(float(scale)) + F.lit(0.5)).cast("long")


def tf_idf(
    df: DataFrame,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
    quant: int = 1000,
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Per-(doc, term) tf-idf over token-id sequences.

    Returns (doc_col, tok, tf, df, tfidf_q) where tf = occurrences of tok in
    the doc, df = number of docs containing tok, and
    ``tfidf_q = round(tf * ln(n_docs / df) * quant)`` as BIGINT.

    Plan: explode -> groupBy(doc, tok) [the one corpus-sized exchange]
    -> document frequency from the (doc, tok) table itself (vocab-sized,
    broadcast back under ``broadcast_max_rows``, shuffle-joined above it —
    see ``_maybe_broadcast``) -> n_docs as a scalar aggregate crossJoined in
    (1-row broadcast). No driver collect of data rows.
    """
    ex = df.select(F.col(doc_col).alias("__doc"), F.explode(tokens_col).alias("tok"))
    tfd = ex.groupBy("__doc", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfd = tfd.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = df.select(F.count(F.lit(1)).alias("__n"))
    out = tfd.join(_maybe_broadcast(dfd, broadcast_max_rows), "tok").crossJoin(F.broadcast(n))
    tfidf = F.col("tf").cast("double") * F.log(
        F.col("__n").cast("double") / F.col("df").cast("double")
    )
    return out.select(
        F.col("__doc").alias(doc_col),
        "tok",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        _quant(tfidf, quant).alias("tfidf_q"),
    )


def _pairs(df: DataFrame, doc_col: str, tokens_col: str) -> DataFrame:
    """(doc, a, b) for every adjacent token pair — narrow columnar explode."""
    toks = F.col(tokens_col)
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(F.get(toks, i).alias("a"), F.get(toks, i + 1).alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
    return df.select(
        F.col(doc_col).alias("__doc"), F.explode(pairs).alias("p")
    ).select("__doc", F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def bigram_lm_loglik(
    train: DataFrame,
    score: DataFrame,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
    quant: int = 1_000_000,
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Add-one-smoothed bigram LM trained on ``train``, applied to ``score``.

    For each adjacent pair (a, b) in a scoring doc the term is
    ``ln((C(a,b) + 1) / (Ctx(a) + V))`` where C = train bigram count,
    Ctx(a) = sum_b C(a, b) (occurrences of a as a context), and V = train
    unigram type count; unseen pairs/contexts coalesce to 0 (add-one keeps
    the probability proper). Each term is quantized to ``1/quant`` units
    (BIGINT) BEFORE summation, so the per-doc sum is exact.

    Returns (doc_col, n_bigrams, ll_q). Docs with < 2 tokens yield no pairs
    and are absent — same convention as the SQL mirror.
    """
    bi = (
        _pairs(train, doc_col, tokens_col)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    ctx = bi.groupBy("a").agg(F.sum("cab").alias("ctxn"))
    v = train.select(F.explode(tokens_col).alias("t")).agg(
        F.count_distinct("t").alias("__v")
    )
    sp = (
        _pairs(score, doc_col, tokens_col)
        .join(bi, ["a", "b"], "left")
        .join(_maybe_broadcast(ctx, broadcast_max_rows), ["a"], "left")
        .crossJoin(F.broadcast(v))
    )
    term = F.log(
        (F.coalesce(F.col("cab"), F.lit(0)).cast("double") + F.lit(1.0))
        / (F.coalesce(F.col("ctxn"), F.lit(0)).cast("double") + F.col("__v").cast("double"))
    )
    return (
        sp.select(F.col("__doc"), _quant(term, quant).alias("__t"))
        .groupBy("__doc")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("__t").alias("ll_q"))
        .select(F.col("__doc").alias(doc_col), "n_bigrams", "ll_q")
    )


def bigram_lm_kn(
    train: DataFrame,
    score: DataFrame,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
    discount: float = 0.75,
    quant: int = 1_000_000,
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM — the smoothing real KenLM-class
    fluency filters use (Kneser & Ney 1995; Chen & Goodman 1999), upgrading
    ``bigram_lm_loglik``'s add-one baseline. Per adjacent pair (a, b):

        P(b|a) = max(C(a,b) - D, 0)/C(a) + D * N1+(a,*)/C(a) * Pcont(b)
        Pcont(b) = (N1+(*,b) + 1) / (N1+(*,*) + V)

    with C = train bigram counts, N1+(a,*) = distinct continuations of a,
    N1+(*,b) = distinct contexts of b (the "novel-context" count that makes
    KN work), N1+(*,*) = distinct bigram types, V = unigram type count. The
    +1/+V on the continuation distribution is the standard practical patch
    giving unseen unigrams nonzero mass (pure KN assigns them zero and the
    log-likelihood would be -inf). Unseen contexts (C(a)=0) back off to
    Pcont(b) alone.

    Every count is an integer aggregate; the per-term float math is a fixed
    chain of IEEE ops over identical integers on both engines, then the term
    quantizes to 1/``quant`` units BEFORE the per-doc BIGINT sum (the
    module's numeric contract). Returns (doc_col, n_bigrams, kn_ll_q).

    Plan: the same shape as the add-one scorer — one pair-count table
    (shuffle-hash joined back at web scale), two vocab-sized marginals
    (``_maybe_broadcast``), two 1-row broadcasts (bigram-type total, V).
    """
    bi = (
        _pairs(train, doc_col, tokens_col)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    ctx = bi.groupBy("a").agg(
        F.sum("cab").alias("ca"), F.count(F.lit(1)).alias("n1a")
    )
    cont = bi.groupBy("b").agg(F.count(F.lit(1)).alias("n1b"))
    tot = bi.agg(F.count(F.lit(1)).alias("__t"))
    v = train.select(F.explode(tokens_col).alias("t")).agg(
        F.count_distinct("t").alias("__v")
    )
    sp = (
        _pairs(score, doc_col, tokens_col)
        .join(bi, ["a", "b"], "left")
        .join(_maybe_broadcast(ctx, broadcast_max_rows), ["a"], "left")
        .join(_maybe_broadcast(cont, broadcast_max_rows), ["b"], "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(v))
    )
    d = F.lit(float(discount))
    cab = F.coalesce(F.col("cab"), F.lit(0)).cast("double")
    ca = F.coalesce(F.col("ca"), F.lit(0)).cast("double")
    n1a = F.coalesce(F.col("n1a"), F.lit(0)).cast("double")
    pcont = (F.coalesce(F.col("n1b"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("__t").cast("double") + F.col("__v").cast("double")
    )
    p = F.when(
        ca > 0,
        F.greatest(cab - d, F.lit(0.0)) / ca + d * n1a / ca * pcont,
    ).otherwise(pcont)
    return (
        sp.select(F.col("__doc"), _quant(F.log(p), quant).alias("__t2"))
        .groupBy("__doc")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("__t2").alias("kn_ll_q"))
        .select(F.col("__doc").alias(doc_col), "n_bigrams", "kn_ll_q")
    )


def shingle_bucket_col(tokens_col: str, k: int, n_buckets: int):
    """Hashed k-gram feature ids: the shingle fold
    ``acc = (acc * SH_MULT + tok + 1) mod SH_MOD`` over k consecutive tokens,
    bucketed mod ``n_buckets``. Array-side (no shuffle); empty when the
    sequence is shorter than k."""
    toks = F.col(tokens_col)

    def sh(i):
        acc = F.lit(0).cast("long")
        for j in range(k):
            acc = (acc * SH_MULT + F.get(toks, i + j).cast("long") + 1) % SH_MOD
        return (acc % n_buckets).cast("int")

    return F.when(
        F.size(toks) >= k,
        F.transform(F.sequence(F.lit(0), F.size(toks) - k), sh),
    ).otherwise(F.array().cast("array<int>"))


def importance_weights(
    df: DataFrame,
    target_pred,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 2,
    n_buckets: int = 1024,
    quant: int = 1_000_000,
) -> DataFrame:
    """DSIR hashed n-gram importance weight of every doc in ``df`` toward the
    target domain ``target_pred`` (a boolean Column over ``df``'s rows).

    Per hashed-k-gram bucket f the log-ratio is
    ``ln((t_f + 1) / (T + B)) - ln((r_f + 1) / (R + B))`` with t/r the
    target/raw bucket counts, T/R their totals and B = n_buckets (add-one
    over the bucket domain). A doc's weight is the sum of the quantized
    log-ratios of its features; resampling keeps the top-weighted docs.

    Plan: the feature explode is a narrow projection consumed twice — once
    by the bucket aggregation (target rows flag-filtered there, not
    re-scanned through a second source) and once by the scoring join; both
    consumers re-derive it from the scan (cheap columnar work; persist the
    exploded frame if the source scan itself is the expensive part). The
    bucket table (<= B rows) broadcasts; per-doc sum groups by doc id.
    Returns (doc_col, n_feats, w_q).
    """
    feats = df.select(
        F.col(doc_col).alias("__doc"),
        target_pred.alias("__tgt"),
        F.explode(shingle_bucket_col(tokens_col, k, n_buckets)).alias("f"),
    )
    buckets = feats.groupBy("f").agg(
        F.count(F.lit(1)).alias("r"),
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("t"),
    )
    totals = buckets.agg(
        F.sum("r").alias("__R"), F.sum("t").alias("__T")
    )
    ratio = buckets.crossJoin(F.broadcast(totals)).select(
        "f",
        _quant(
            F.log(
                (F.col("t").cast("double") + F.lit(1.0))
                / (F.col("__T").cast("double") + F.lit(float(n_buckets)))
            )
            - F.log(
                (F.col("r").cast("double") + F.lit(1.0))
                / (F.col("__R").cast("double") + F.lit(float(n_buckets)))
            ),
            quant,
        ).alias("__lr"),
    )
    return (
        feats.join(F.broadcast(ratio), "f")
        .groupBy("__doc")
        .agg(F.count(F.lit(1)).alias("n_feats"), F.sum("__lr").alias("w_q"))
        .select(F.col("__doc").alias(doc_col), "n_feats", "w_q")
    )


def nb_logodds(
    df: DataFrame,
    pos_pred,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
    alpha: float = 1.0,
    quant: int = 1_000_000,
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Closed-form naive-Bayes log-odds quality classifier, trained and
    applied in one DAG — the Spark-native analog of the fastText/linear
    "quality filter" used by the public curation pipelines (CCNet, Wenzek et
    al. 2020; the GPT-3 Wikipedia-vs-CommonCrawl classifier, Brown et al.
    2020 appendix A): label a positive class with ``pos_pred`` (e.g. a
    known-clean source), learn per-token evidence, score every doc.

    Multinomial NB with add-``alpha`` smoothing has a closed-form fit —
    per-token weight

        w(tok) = ln((c_pos + a) / (N_pos + a*V)) - ln((c_neg + a) / (N_neg + a*V))

    (c = class token counts, N = class totals, V = vocabulary size) and a
    doc's log-odds is ``prior + sum_t w(t)`` with
    ``prior = ln((docs_pos + 1) / (docs_neg + 1))``. Each weight is
    quantized to 1/``quant`` units BEFORE the per-doc sum (the module-wide
    numeric contract), so the returned score is an exact BIGINT sum.

    Plan: ``nb_fit`` on ``df`` then ``nb_score`` of ``df`` itself — the
    (doc, tok) explode feeds the count aggregation and the scoring join;
    class totals + vocabulary size as a 1-row broadcast crossJoin; the
    vocabulary-sized weight table joins back under ``_maybe_broadcast``
    (broadcast under the ceiling, shuffle-hash above — a 10^7-entry web
    vocabulary must not be an unconditional driver broadcast); per-doc sum
    groups by doc id. No driver collect anywhere.

    Returns (doc_col, nb_toks, nb_logodds_q, nb_keep) — nb_keep is the
    decision ``log-odds > 0``. Docs with zero tokens drop out (no evidence);
    OOV tokens cannot occur when scoring the training corpus itself, which
    is this operator's contract (train+apply in one pass). To score a
    FOREIGN corpus (train on a clean reference, filter the raw web crawl —
    the actual CCNet/GPT-3 deployment shape), use ``nb_fit`` + ``nb_score``,
    which carry the explicit OOV weight.
    """
    return nb_score(
        df, *nb_fit(df, pos_pred, tokens_col, alpha, quant), doc_col, tokens_col,
        broadcast_max_rows,
    )


def nb_fit(
    df: DataFrame,
    pos_pred,
    tokens_col: str = "tokens",
    alpha: float = 1.0,
    quant: int = 1_000_000,
) -> tuple:
    """Fit the naive-Bayes quality model of ``nb_logodds`` WITHOUT applying
    it — the deployment split: train once on a labeled reference corpus,
    persist/broadcast the model, score any number of foreign corpora with
    ``nb_score``.

    Returns ``(weights, consts)``: ``weights`` is the vocabulary-sized
    (tok, w_q) table; ``consts`` is ONE row (prior_q, oov_w_q) — the
    doc-count prior and the add-``alpha``-smoothed weight of a token never
    seen in training, ``ln(a/(N_pos+aV)) - ln(a/(N_neg+aV))``, the exact
    limit of the in-vocabulary formula at count 0/0. Same quantization
    contract as the whole module (integer micro-units per term). Both are
    small unexecuted plans — persist ``weights`` (or write it to a table)
    when scoring more than one corpus so the fit is not recomputed.

    The fit plan is the training half of ``nb_logodds``: one (doc, tok)
    explode, one vocab-keyed count aggregation, class totals as a 1-row
    crossJoin; nothing corpus-sized ever collects.
    """
    sp = df.select(pos_pred.alias("__y"), F.explode(tokens_col).alias("tok"))
    cc = sp.groupBy("tok").agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("__y"), 0).otherwise(1)).alias("cn"),
    )
    tot = cc.agg(
        F.sum("cp").alias("__np"),
        F.sum("cn").alias("__nn"),
        F.count(F.lit(1)).alias("__v"),
    )
    a = F.lit(float(alpha))
    av = a * F.col("__v").cast("double")
    weights = cc.crossJoin(F.broadcast(tot)).select(
        "tok",
        _quant(
            F.log((F.col("cp").cast("double") + a) / (F.col("__np").cast("double") + av))
            - F.log((F.col("cn").cast("double") + a) / (F.col("__nn").cast("double") + av)),
            quant,
        ).alias("w_q"),
    )
    prior = df.agg(
        _quant(
            F.log(
                (F.sum(F.when(pos_pred, 1).otherwise(0)).cast("double") + F.lit(1.0))
                / (F.sum(F.when(pos_pred, 0).otherwise(1)).cast("double") + F.lit(1.0))
            ),
            quant,
        ).alias("prior_q")
    )
    oov = tot.select(
        _quant(
            F.log(a / (F.col("__np").cast("double") + av))
            - F.log(a / (F.col("__nn").cast("double") + av)),
            quant,
        ).alias("oov_w_q")
    )
    consts = prior.crossJoin(F.broadcast(oov))
    return weights, consts


def nb_score(
    df: DataFrame,
    weights: DataFrame,
    consts: DataFrame,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Apply an ``nb_fit`` model to ANY corpus — out-of-vocabulary tokens
    take the model's smoothed OOV weight (left join + OOV count), so a raw
    web crawl full of tokens the clean reference never saw still scores on
    the same scale. Returns the ``nb_logodds`` schema
    (doc_col, nb_toks, nb_logodds_q, nb_keep); scoring the training corpus
    itself reproduces ``nb_logodds`` exactly (no token is OOV).

    Plan: one (doc, tok) explode, LEFT join against the weight table under
    the conditional-broadcast ceiling (shuffle-hash above it), per-doc sum
    of the known weights and count of OOV tokens keyed by doc id, then the
    model constants as a 1-row broadcast crossJoin on the doc-sized result
    (sum of OOV weights = oov_w_q * OOV count, exact in BIGINT).
    """
    sp = df.select(F.col(doc_col).alias("__doc"), F.explode(tokens_col).alias("tok"))
    score = (
        F.col("prior_q")
        + F.coalesce(F.col("__sw"), F.lit(0))
        + F.col("oov_w_q") * F.col("__n_oov")
    )
    return (
        sp.join(_maybe_broadcast(weights, broadcast_max_rows), "tok", "left")
        .groupBy("__doc")
        .agg(
            F.count(F.lit(1)).alias("nb_toks"),
            F.sum("w_q").alias("__sw"),
            F.count_if(F.col("w_q").isNull()).alias("__n_oov"),
        )
        .crossJoin(F.broadcast(consts))
        .select(
            F.col("__doc").alias(doc_col),
            F.col("nb_toks").cast("long").alias("nb_toks"),
            score.cast("long").alias("nb_logodds_q"),
            (score > 0).alias("nb_keep"),
        )
    )
