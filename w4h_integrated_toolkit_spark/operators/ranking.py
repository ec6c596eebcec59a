"""Ranked retrieval over a document corpus: BM25 and TF-IDF.

The reference has no search operator — its closest analogue is the
keyword filter over saved queries (viz.py:413-430's substring match) —
but a training-data pipeline at corpus scale needs relevance scoring for
curation (query-targeted subset extraction, boilerplate down-ranking,
decontamination probes by topic). These are the two standard primitives,
expressed entirely in JVM-side built-ins:

- :func:`bm25_scores` / :func:`bm25_topk` — Okapi BM25 for a disjunctive
  term query. Per-term statistics (document frequency) and the two corpus
  scalars (N, total token length) are broadcast; the only shuffle is the
  (doc, term) aggregate RESTRICTED to query terms — the explode is
  filtered map-side before it, so corpus tokens that match no query term
  never enter an exchange. At 100 TB this is one filtered-shuffle pass,
  no inverted index required; a standing corpus would persist the
  doc-frequency table once and reuse it across queries.
- :func:`tfidf_top_terms` — per-document top-n characteristic terms
  (document fingerprinting / topic tagging). Two aggregates over the
  exploded (doc, term) relation — term frequency by (doc, term), document
  frequency by term — then a per-document window for the top-n. The df
  join is left to AQE: at test scale it broadcasts, at 100 TB vocabulary
  scale it becomes a shuffle join on term, which is the correct plan
  (vocabulary tables outgrow broadcast). The tf relation here is
  O(corpus tokens), so no checkpoint barrier is inserted (unlike BM25's
  query-restricted tf): the explode is evaluated once per consumer. A
  standing 100 TB corpus should instead persist the doc-frequency table
  once per snapshot and pass it back in — the same
  build-once/probe-many shape as ``persist_corpus_index``.

Determinism contract (driver gate): float scores are summed in integer
space — each per-term score is rounded at 1e-9 and CAST to long BEFORE
the per-doc sum, so the result is independent of partitioning and
micro-batch order (same pattern as the registry's ``stable_mean``), and
ranking ties break on (scaled score desc, id asc) in both engines.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "bm25_scores",
    "bm25_topk",
    "doc_frequencies",
    "term_drift",
    "tfidf_top_terms",
    "unigram_nll",
    "bigram_nll",
    "pmi_pairs",
    "vocab_oov_rate",
]


def _tokens(df: DataFrame, text: str, id_col: str) -> DataFrame:
    """(id, toks array, dl) — whitespace tokenization, lowercased."""
    toks = F.split(F.lower(F.trim(F.col(text))), r"\s+")
    return df.select(F.col(id_col), toks.alias("toks")).withColumn(
        "dl", F.size("toks")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 score of every matching document for a disjunctive
    ``query_terms`` query: sum over query terms of
    ``idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` with the
    ln(1 + (N-df+0.5)/(df+0.5)) idf. Returns (id, score_scaled, bm25)
    where ``score_scaled`` is the order-independent integer-space sum
    (1e-9 resolution) and ``bm25`` the float score derived from it —
    rank/compare on ``score_scaled``, display ``bm25``."""
    base = _tokens(docs, text, id_col)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    terms = base.select(F.col(id_col), F.col("dl"), F.explode("toks").alias("term"))
    # map-side restriction BEFORE the aggregate's exchange: only query-term
    # occurrences shuffle, the rest of the corpus token stream never leaves
    # the scan stage
    hits = terms.filter(F.col("term").isin(list(query_terms)))
    tf = (
        hits.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        # materialization barrier: ``tf`` feeds both the df aggregate and
        # the scoring join; without it Spark evaluates the corpus
        # explode+filter subtree once per consumer (no common-subplan
        # sharing) — i.e. TWO full corpus scans. tf is bounded by
        # (matching docs × |query|), so the checkpoint is tiny.
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))
    avgdl = F.col("total_len") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl
    )
    score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    per_term = scored.select(
        F.col(id_col),
        F.round(score * F.lit(1e9)).cast("long").alias("score_scaled"),
    )
    return (
        per_term.groupBy(id_col)
        .agg(F.sum("score_scaled").cast("long").alias("score_scaled"))
        .withColumn("bm25", F.col("score_scaled") / F.lit(1e9))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by BM25 — distributed TakeOrdered (orderBy+limit),
    never a single-partition global window; ties break on the scaled
    integer score then id, so the k-set is deterministic."""
    return (
        bm25_scores(docs, query_terms, k1, b, text, id_col)
        .orderBy(F.col("score_scaled").desc(), F.col(id_col))
        .limit(k)
    )


def term_drift(
    docs: DataFrame,
    side_a,
    top_n: int = 10,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distribution-shift report between two corpus slices: per-term
    contributions to KL(A ‖ B) over add-one-smoothed term distributions,
    top-n by |contribution| — the drift monitor a curation pipeline runs
    between corpus snapshots (did this ingest change what the corpus is
    made of?) or between a subset and its parent (is the filtered set
    biased?). ``side_a`` is a boolean Column selecting slice A; rows
    where it is NULL count toward neither side (identical three-valued
    semantics in the SQL oracle).

    Plan: ONE conditional aggregate over the exploded term stream (both
    sides counted in the same pass — never two scans + a join), then the
    vocabulary-sized result joins a broadcast one-row totals relation;
    top-n via distributed TakeOrdered. Smoothed probabilities are exact
    integer ratios and the per-term contribution is rounded into a
    1e-12-scaled long, so ordering and values are engine-exact. Returns
    (term, ca, cb, drift_scaled)."""
    toks = F.split(F.lower(F.trim(F.col(text))), r"\s+")
    base = docs.select(
        F.explode(toks).alias("term"), side_a.alias("in_a")
    )
    counts = base.groupBy("term").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).cast("long").alias("cb"),
    )
    stats = counts.agg(
        F.sum("ca").cast("long").alias("ta"),
        F.sum("cb").cast("long").alias("tb"),
        F.count(F.lit(1)).alias("v"),
    )
    pa = (F.col("ca") + F.lit(1)) / (F.col("ta") + F.col("v"))
    pb = (F.col("cb") + F.lit(1)) / (F.col("tb") + F.col("v"))
    scored = counts.crossJoin(F.broadcast(stats)).select(
        "term",
        "ca",
        "cb",
        F.round(pa * F.log(pa / pb) * F.lit(1e12))
        .cast("long")
        .alias("drift_scaled"),
    )
    return scored.orderBy(
        F.abs(F.col("drift_scaled")).desc(), F.col("term")
    ).limit(top_n)


def doc_frequencies(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(term, df) document frequencies — the build-once half of TF-IDF at
    corpus scale: persist this per corpus snapshot (plain parquet, or
    bucketed on term via ``catalog.write_bucketed`` so the scoring join
    is exchange-free) and pass it to :func:`tfidf_top_terms` instead of
    recomputing it per query."""
    base = _tokens(docs, text, id_col)
    terms = base.select(F.col(id_col), F.explode("toks").alias("term"))
    return (
        terms.groupBy(id_col, "term")
        .agg(F.lit(1).alias("_one"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def tfidf_top_terms(
    docs: DataFrame,
    top_n: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
    doc_freq: DataFrame | None = None,
) -> DataFrame:
    """Per-document top-n terms by TF-IDF (``tf * ln(N/df)``) — the
    document-fingerprinting / topic-tagging primitive. Emits
    (id, term, rank, tfidf_scaled) with rank 1..top_n per document from a
    per-document window (partitioned — never global). Pass a persisted
    ``doc_freq`` (from :func:`doc_frequencies`) to skip the second
    corpus pass — the probe-many shape for a standing corpus."""
    base = _tokens(docs, text, id_col)
    terms = base.select(F.col(id_col), F.explode("toks").alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        doc_freq
        if doc_freq is not None
        else tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    stats = base.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        F.col("term"),
        F.round(
            F.col("tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df"))
            * F.lit(1e9)
        )
        .cast("long")
        .alias("tfidf_scaled"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf_scaled").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(id_col, "term", "rank", "tfidf_scaled")
    )


def unigram_nll(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    term_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus'
    add-one-smoothed unigram model — the cheap end of the KenLM-style
    perplexity quality filter every large text pipeline runs (documents
    made of globally rare tokens score high = surprising; boilerplate
    scores low). Pass a persisted ``term_counts`` (term, c) relation to
    score a batch against a FROZEN reference model (the production shape:
    build the model on the trusted snapshot once, score every new ingest
    against it); default builds the model from ``docs`` itself.

    Plan: one (doc, term) tf aggregate over the exploded token stream, a
    vocab-sized model relation with per-term ln p pre-rounded into
    1e9-scaled longs (ln runs once per TERM, not per instance), a
    term-keyed join, one per-doc aggregate — tf·ln p products and sums
    stay in integer space, so scores are partition-invariant and
    engine-exact. Totals (T, V) broadcast as a 1-row relation."""
    base = _tokens(docs, text, id_col)
    inst = base.select(F.col(id_col), F.explode("toks").alias("term"))
    tf = inst.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    _lnp_expr = (
        F.round(
            F.log((F.col("c") + F.lit(1)) / (F.col("_t") + F.col("_v"))) * F.lit(1e9),
            0,
        )
        .cast("long")
        .alias("_lnp")
    )
    if term_counts is None:
        # r17 (guide §2.4, the bigram_nll pattern): the self-model counts
        # fed both the totals aggregate and the ln p projection, so the
        # tokenize + tf subtree executed ~3x per action (a vocab-sized
        # barrier measured SLOWER in r16 — concurrency beat
        # serialization locally). Fold the per-term count as a WINDOW
        # sum over the ONE tf aggregate instead: the model join
        # disappears and the tf subtree runs twice (once for the
        # window'd scoring pass, once for the global (T, V) scalar
        # aggregate) instead of three times, with no barrier. Exactness:
        # integer window sum; ln p now evaluated per (doc, term) row —
        # deterministic function of identical inputs, so every tf·lnp
        # product is bit-identical; the dropped join was inner on keys
        # produced from tf itself.
        from pyspark.sql import Window as W

        stats = tf.agg(
            F.sum("tf").cast("long").alias("_t"),
            F.count_distinct("term").alias("_v"),
        )
        scored = (
            tf.withColumn(
                "c", F.sum("tf").over(W.partitionBy("term")).cast("long")
            )
            .crossJoin(F.broadcast(stats))
            .select(id_col, "tf", _lnp_expr)
            .groupBy(id_col)
            .agg(
                F.sum("tf").cast("long").alias("n_tokens"),
                F.sum(F.col("tf") * F.col("_lnp")).alias("_s"),
            )
        )
    else:
        counts = term_counts
        stats = counts.agg(
            F.sum("c").cast("long").alias("_t"), F.count(F.lit(1)).alias("_v")
        )
        model = counts.crossJoin(F.broadcast(stats)).select("term", _lnp_expr)
        scored = tf.join(model, "term").groupBy(id_col).agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("_lnp")).alias("_s"),
        )
    return scored.select(
        id_col,
        "n_tokens",
        (
            F.round(
                -F.col("_s").cast("double") / F.lit(1e9) / F.col("n_tokens") * 1e6, 0
            )
            / 1e6
        ).alias("nll"),
    )


def pmi_pairs(
    df: DataFrame,
    vocab_size: int = 32,
    min_cooc: int = 5,
    k: int = 50,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top co-occurring token pairs by document-level PMI over a bounded
    vocabulary — the collocation/topic-signal pass (which terms travel
    together across the corpus). PMI(a,b) = log2(d_ab·N / (d_a·d_b))
    over document frequencies.

    The vocabulary bound is the scale contract: pairs are generated ONLY
    within the top ``vocab_size`` tokens by document frequency (ties
    break alphabetically), so per-document pair expansion is
    <= vocab_size²/2 regardless of document length, and the pair
    aggregate is bounded by vocab² keys. Plan: map-side per-doc
    intersection with the fitted vocab + pair explode, ONE pair
    aggregate, broadcast df joins for d_a/d_b, N as a 1-row broadcast.
    Ranking by integer (d_ab DESC, a, b) — deterministic without float
    ordering.

    The builder is EAGER: calling it runs Spark jobs before any action
    on the result. ``localCheckpoint(eager=True)`` materializes the
    vocab fit (the corpus token-df aggregate + TakeOrdered), then a
    ``collect`` brings its ``vocab_size`` tokens to the driver, where
    they are baked into the returned plan as array literals. The result
    therefore reflects ``df`` as of the call, and its plan references a
    checkpoint held by the calling session's executors.
    """
    toks = df.select(
        id_col,
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text)), r"\s+"))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # r16: the fitted vocabulary feeds THREE consumers (the in-vocab
    # semi filter and the d_a/d_b broadcast sides) and each reference
    # re-ran the corpus-wide token-df aggregate + TakeOrdered.
    # Materialize the vocab_size-row result once — at sf0.1 the three
    # evaluations overlap on idle cores so local wall is ~unchanged;
    # at scale this is 3 full corpus aggregates → 1.
    vocab = (
        dfreq.orderBy(F.desc("df"), "tok")
        .limit(int(vocab_size))
        .localCheckpoint(eager=True)
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))

    # r17 (guide §2.3/§2.4): the per-doc in-vocab token set used to be
    # built by explode → broadcast-semi join → collect_set groupBy —
    # a SECOND corpus tokenize pass plus a corpus-sized (doc, tok)
    # exchange, just to reassemble rows that were map-side facts all
    # along. The fitted vocab is model-sized (vocab_size ≤ dozens) and
    # already materialized, so collect it (an O(model) driver transfer,
    # same class as the bm25/top-k scalar collects) and intersect it
    # against each doc's distinct tokens IN the scan projection:
    # array_sort(array_intersect(distinct_tokens, vocab_literal)) is
    # element-identical to array_sort(collect_set(in-vocab tok))
    # (array_intersect keeps first-array order, dedupes, and '' / NULL
    # texts fall out exactly as the joined path dropped them). Pair
    # generation is then map-side off the scan; the only corpus
    # exchanges left are the vocab-fit aggregate and the bounded
    # (a, b) pair aggregate.
    vocab_lit = F.array(
        *(F.lit(r["tok"]) for r in vocab.select("tok").collect())
    )
    per_doc = df.select(
        F.array_sort(
            F.array_intersect(
                F.array_distinct(F.split(F.trim(F.col(text)), r"\s+")),
                vocab_lit,
            )
        ).alias("_vt")
    )
    # ordered pairs (a < b) from the sorted per-doc vocab hits, map-side
    pairs = per_doc.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_vt"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("_vt"),
                            i + 2,
                            F.greatest(
                                F.size(F.col("_vt")) - i - 1, F.lit(0)
                            ),
                        ),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    cooc = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("d_ab"))
    da = vocab.select(F.col("tok").alias("a"), F.col("df").alias("d_a"))
    db = vocab.select(F.col("tok").alias("b"), F.col("df").alias("d_b"))
    out = (
        cooc.filter(F.col("d_ab") >= int(min_cooc))
        .join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .crossJoin(F.broadcast(n_docs))
    )
    pmi = (
        F.log2(F.col("d_ab").cast("double"))
        + F.log2(F.col("n_docs").cast("double"))
        - F.log2(F.col("d_a").cast("double"))
        - F.log2(F.col("d_b").cast("double"))
    )
    return (
        out.select("a", "b", "d_ab", "d_a", "d_b", pmi.alias("pmi"))
        .orderBy(F.desc("d_ab"), "a", "b")
        .limit(int(k))
    )


def bigram_nll(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    model_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus'
    add-one-smoothed BIGRAM model P(b|a) = (c(a,b)+1)/(c(a·)+V) — one
    step up the n-gram ladder from :func:`unigram_nll` toward the
    KenLM-style perplexity filter (a document of individually common
    but never-adjacent tokens scores high here and low there; word-salad
    spam is exactly that).

    Same engine-exactness discipline as unigram_nll: ln p is computed
    once per DISTINCT bigram, pre-rounded into a 1e9-scaled long, and
    every tf·ln p product and per-doc sum runs in integer space — the
    score is partition-invariant and bit-identical across engines.
    Documents with fewer than 2 tokens have no bigrams and are absent.
    Pass ``model_docs`` to score ``docs`` against a FROZEN reference
    corpus (the production shape — build the LM on the trusted snapshot,
    score every new ingest against it; same contract as unigram_nll's
    ``term_counts``). Note smoothing covers only bigrams OBSERVED in the
    model corpus: an ingest bigram absent from the model is absent from
    the output's n_bigrams too (inner model join) — the count column
    exposes exactly how much of the document the model could score.

    Plan: the bigram stream is a map-side slice/zip/explode (no window —
    adjacency is intra-row in the token array); then one (doc, bigram)
    tf aggregate, two model aggregates over the DISTINCT-bigram frame
    (vocab-bounded, never the instance stream), a bigram-keyed model
    join, one per-doc rollup. V (distinct unigrams) broadcasts as a
    1-row relation.
    """
    def _bigrams(frame: DataFrame) -> DataFrame:
        base = _tokens(frame, text, id_col).filter(F.size("toks") >= 2)
        return (
            base.withColumn("_prev", F.expr("slice(toks, 1, size(toks) - 1)"))
            .withColumn("_next", F.expr("slice(toks, 2, size(toks) - 1)"))
            .select(id_col, F.explode(F.arrays_zip("_prev", "_next")).alias("_bg"))
            .select(
                id_col,
                F.col("_bg._prev").alias("_a"),
                F.col("_bg._next").alias("_b"),
            )
        )

    src = model_docs if model_docs is not None else docs
    tf = _bigrams(docs).groupBy(id_col, "_a", "_b").agg(
        F.count(F.lit(1)).alias("tf")
    )
    vocab = (
        _tokens(src, text, id_col)
        .select(F.explode("toks").alias("_t"))
        .agg(F.count_distinct("_t").alias("_v"))
    )
    _lnp = (
        F.round(
            F.log(
                (F.col("_cab") + F.lit(1))
                / (F.col("_ca") + F.col("_v")).cast("double")
            )
            * F.lit(1e9),
            0,
        )
        .cast("long")
        .alias("_lnp")
    )
    if model_docs is None:
        # r17 (guide §2.4, the r16 verdict's ordered fix): in the
        # self-model case the cab → ca → join-back chain re-executed the
        # tokenize+tf subtree three times (a barrier measured SLOWER in
        # r16 — concurrency beat serialization locally). Fold _cab and
        # _ca as WINDOW sums over the ONE tf aggregate instead: the
        # model join disappears, the bigram stream is built exactly
        # once, and nothing serializes. Exact-equivalence notes: the
        # sums are integer (order-free); _ca = Σ_b _cab(a, b) =
        # Σ tf over partition _a; ln p is now evaluated per (doc,
        # bigram) row instead of per DISTINCT bigram, but log/round/cast
        # are deterministic functions of identical inputs, so every
        # product tf·lnp is bit-identical; the dropped join was inner on
        # keys produced from tf itself — it never filtered anything.
        from pyspark.sql import Window as W

        enriched = (
            tf.withColumn(
                "_cab", F.sum("tf").over(W.partitionBy("_a", "_b")).cast("long")
            )
            .withColumn(
                "_ca", F.sum("tf").over(W.partitionBy("_a")).cast("long")
            )
            .crossJoin(F.broadcast(vocab))
        )
        scored = enriched.select(id_col, "tf", _lnp).groupBy(id_col).agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("_lnp")).alias("_s"),
        )
    else:
        model_tf = _bigrams(src).groupBy(id_col, "_a", "_b").agg(
            F.count(F.lit(1)).alias("tf")
        )
        cab = model_tf.groupBy("_a", "_b").agg(
            F.sum("tf").cast("long").alias("_cab")
        )
        ca = cab.groupBy("_a").agg(F.sum("_cab").cast("long").alias("_ca"))
        model = (
            cab.join(ca, "_a")
            .crossJoin(F.broadcast(vocab))
            .select("_a", "_b", _lnp)
        )
        scored = tf.join(model, ["_a", "_b"]).groupBy(id_col).agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("_lnp")).alias("_s"),
        )
    return scored.select(
        id_col,
        "n_bigrams",
        (
            F.round(
                -F.col("_s").cast("double") / F.lit(1e9) / F.col("n_bigrams") * 1e6,
                0,
            )
            / 1e6
        ).alias("nll"),
    )


def vocab_oov_rate(
    docs: DataFrame,
    vocab_k: int = 500,
    text: str = "text",
    id_col: str = "doc_id",
    group: str = "source",
) -> DataFrame:
    """Out-of-vocabulary rate per corpus slice against the corpus' own
    top-``vocab_k`` token vocabulary — the tokenizer-fit signal a
    training pipeline checks before committing a vocab (a slice with
    high OOV under the global vocabulary is under-served by it: wrong
    language mix, heavy jargon, or encoding rot).

    The vocabulary is deterministic: top-k by (count DESC, token ASC) —
    the tie order is total, so the kept set is engine-exact; the rate is
    integer ppm (n_oov·10⁶ DIV n_tokens).

    Plan: one (token) count aggregate (map-side partials), a k-row
    TakeOrdered for the vocab (no global sort), then the vocab broadcast
    back over the token stream as a membership flag folded into ONE
    (group) aggregate. The instance stream is exploded exactly once.
    """
    if vocab_k <= 0:
        raise ValueError(f"vocab_k must be positive, got {vocab_k}")
    inst = docs.select(
        F.col(group).alias("_grp"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text))), r"\s+")
        ).alias("_t"),
    ).filter(F.col("_t") != "")
    counts = inst.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    vocab = counts.orderBy(F.desc("_c"), F.asc("_t")).limit(vocab_k).select(
        "_t", F.lit(True).alias("_in_vocab")
    )
    flagged = inst.join(F.broadcast(vocab), "_t", "left")
    return (
        flagged.groupBy("_grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            F.col("_grp").alias(group),
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000 DIV n_tokens").alias("oov_ppm"),
        )
    )
