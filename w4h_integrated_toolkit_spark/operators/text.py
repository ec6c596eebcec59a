"""Text-analysis operators for training-data pipelines (north-star ops).

All pure built-in expressions (regexp/split/aggregate) — no Python in the hot
path, so the whole stage codegens and scales linearly with input bytes.
Designed for a ``documents(doc_id, text, ...)`` table.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import rolling_hash, portable_hash31, portable_hash32
from ..functions.sql import ident, literal

__all__ = [
    "token_count",
    "subword_count",
    "text_stats",
    "quality_score",
    "language_id",
    "fingerprint",
    "repetition_ratio",
    "pack_sequences",
    "redact_pii",
    "chunk_documents",
    "token_entropy",
    "feature_hashing",
    "FEATURE_HASH_VERSION",
    "gopher_quality_flags",
    "c4_clean_lines",
    "fit_hashed_logodds",
    "hashed_linear_score",
    "fit_dsir_logratios",
    "dsir_resample",
]

_WORD_RE = r"\s+"

# BPE-ish pre-tokenizer (GPT-2-style, simplified to constructs both Java
# regex and RE2 support — no lookarounds): contractions, space-prefixed
# letter runs, digit runs, punctuation runs. Counting these matches is the
# standard fast token-count estimate for LLM budgets.
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(text), _WORD_RE))


def subword_count(text: Column) -> Column:
    """BPE-ish token-count estimate: number of pre-tokenizer matches
    (``regexp_count`` — one codegen'd pass, no array materialization)."""
    return F.regexp_count(text, F.lit(_BPE_RE))


def text_stats(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document surface statistics: chars, tokens, mean token length,
    punctuation ratio, digit ratio."""
    t = F.col(text)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_space = n_chars - F.length(F.regexp_replace(t, r"\s", ""))
    return df.select(
        id_col,
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        ((n_chars - n_space).cast("double") / n_tokens).alias("mean_token_len"),
        (n_punct.cast("double") / n_chars).alias("punct_ratio"),
        (n_digit.cast("double") / n_chars).alias("digit_ratio"),
    )


# Tiny per-language stopword marker lists for the n-gram/stopword heuristic.
# Deliberately simple + deterministic so the DuckDB oracle can replicate the
# exact arithmetic; real deployments would swap in fastText et al.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def _marker_hits(text: Column, words: list[str]) -> Column:
    """Count of tokens that are marker words: lowercase, whitespace-split,
    filter by set membership (portable to SQL as
    len(list_filter(split(...), w -> list_contains(markers, w)))).

    Chosen over the replace/length-difference trick for two reasons: exact
    token semantics (the replace trick consumes the shared space between
    adjacent markers and undercounts), and a ~8x smaller generated-code
    footprint — 20 replace chains made this the slowest-compiling
    expression in the engine (seconds of Janino time per plan, magnified
    under CPU contention), while one split + 4 membership filters compile
    in milliseconds and run faster warm too."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    marker_arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(marker_arr, x))).cast(
        "long"
    )


def language_id(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword-marker hits,
    'und' (undetermined) when no marker occurs. Ties break by language code
    order — earlier in _LANG_MARKERS wins (deterministic).

    Argmax via array_max over (score, -order, lang) structs, so each score
    expression appears ONCE in the plan. The greatest + when-chain
    formulation inlined every score ~8x under projection collapse, and the
    resulting tree took seconds of codegen compile per plan."""
    t = F.col(text)
    entries = [
        F.struct(
            _marker_hits(t, ws).alias("score"),
            F.lit(-i).alias("ord"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, ws) in enumerate(_LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*entries))
    return df.select(
        id_col,
        F.when(best["score"] > 0, best["lang"]).otherwise("und").alias("lang_pred"),
        best["score"].alias("best_score"),
    )


def quality_score(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Composite document-quality score in [0,1]: length factor, stopword
    presence, token-length sanity, punctuation penalty. Deterministic
    arithmetic over the surface stats (oracle-replicable).

    ONE map-side projection — every factor is a Column over the same row,
    so no join is needed (r16: the original text_stats ⋈ marker-hits
    formulation scanned the corpus twice and broadcast-joined the halves
    back together on id; the single select is plan-identical to the
    DuckDB oracle's one-pass CTE and measured ~35% faster at sf0.1 with
    half the scans). ``keep`` carries extra input columns through the
    projection so consumers that need (id, quality, lang/source/...)
    don't have to join the corpus against itself either.

    The float arithmetic is expression-for-expression the r15 join
    formulation's (same IEEE grid), so scores are bit-identical."""
    t = F.col(text)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_space = n_chars - F.length(F.regexp_replace(t, r"\s", ""))
    mean_token_len = (n_chars - n_space).cast("double") / n_tokens
    punct_ratio = n_punct.cast("double") / n_chars
    en_hits = _marker_hits(t, _LANG_MARKERS["en"])
    len_factor = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    stop_factor = F.least(
        en_hits.cast("double") / F.greatest(n_tokens * 0.02, F.lit(1.0)),
        F.lit(1.0),
    )
    tok_factor = F.when(
        mean_token_len.between(2.0, 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    punct_penalty = F.least(punct_ratio * 2.0, F.lit(0.5))
    score = 0.4 * len_factor + 0.3 * stop_factor + 0.3 * tok_factor - punct_penalty
    return df.select(
        id_col,
        *keep,
        F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0)).alias("quality"),
    )


def repetition_ratio(
    df: DataFrame, n: int = 2, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition: the fraction of word n-grams that are
    duplicates of an earlier n-gram in the same document (the Gopher-style
    repetition quality signal — high dup ratio flags boilerplate/spam).

    Entirely map-side: the gram array is assembled per row (slice +
    concat_ws), duplicates counted as ``1 - distinct/total`` via
    ``array_distinct`` — ZERO shuffles, whole-stage codegen'd, cost linear
    in input bytes regardless of cluster size. Documents shorter than n
    words report 0 grams and ratio 0.0.

    Returns (id, n_grams, n_distinct, dup_ratio).
    """
    from .dedup import _gram_expr

    words = F.split(F.trim(F.col(text)), r"\s+")
    g = df.select(F.col(id_col), words.alias("_w")).select(
        F.col(id_col), F.expr(_gram_expr(n)).alias("_g")
    )
    total = F.size("_g").cast("long")
    distinct = F.size(F.array_distinct("_g")).cast("long")
    return g.select(
        F.col(id_col),
        total.alias("n_grams"),
        distinct.alias("n_distinct"),
        F.when(total > 0, 1.0 - distinct.cast("double") / total)
        .otherwise(F.lit(0.0))
        .alias("dup_ratio"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    n_shards: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy contiguous sequence packing for pre-training batch assembly:
    documents are concatenated in id order and each document is assigned to
    the token-budget bin its first token falls in
    (``bin = floor(cum_tokens_before / budget)``).

    Scale shape: packing is per-shard (``shard = id % n_shards``), so the
    running-sum window partitions by shard instead of requiring a single
    global ordered cumsum — shards pack in parallel and the one exchange is
    the shard repartition. Raise ``n_shards`` with the cluster; bins are
    (shard, bin) pairs, deterministic regardless of parallelism.

    Returns (id, shard, n_tokens, bin).
    """
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).alias("shard"),
        token_count(F.col(text)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return t.withColumn("bin", F.floor(cum_before / budget).cast("long"))


def fingerprint(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: MD5 (exact-dup key) + 32-bit polynomial rolling
    hash (cheap order-sensitive fingerprint)."""
    return df.select(
        id_col,
        F.md5(F.col(text)).alias("md5_fp"),
        rolling_hash(F.col(text)).alias("rolling_fp"),
        portable_hash32(F.col(text)).alias("fp32"),
    )


# PII patterns, written to the common subset of Java regex (Spark) and RE2
# (DuckDB): no lookarounds, no backrefs — the oracle parity test IS the
# cross-engine regex-equivalence check.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
_PII_PHONE = r"\+?[0-9][0-9().\- ]{6,}[0-9]"


def redact_pii(text: Column) -> Column:
    """Scrub emails, IPv4 addresses, and phone-like digit runs to typed
    placeholder tokens — the standard pre-training privacy pass. Order
    matters and is fixed (email → ip → phone: an IP inside a hostname must
    not be half-eaten by the phone rule first); a single map-side
    regexp_replace chain, zero shuffles, codegen'd end to end."""
    out = F.regexp_replace(text, _PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, _PII_IPV4, "<IP>")
    out = F.regexp_replace(out, _PII_PHONE, "<PHONE>")
    return out


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    whitespace-token windows of ``chunk_tokens`` advancing by ``stride``
    (overlap = chunk_tokens − stride) — the standard context-window prep
    for embedding/pre-training pipelines. Every token lands in ≥1 chunk;
    the final window is the ragged tail. A document shorter than one
    window yields exactly one chunk.

    Returns (id, chunk_idx, chunk_start token offset, n_chunk_tokens,
    chunk_fp) — the chunk body travels as a 32-bit MD5-prefix
    fingerprint, not as text, so downstream chunk-level dedup/joins move
    8-byte keys instead of kilobyte strings (re-materialize text on
    demand by re-slicing the parent doc: the (id, chunk_start, n) triple
    is the address).

    Plan: split → sequence → explode → slice, all map-side built-ins in
    one codegen'd stage — ZERO shuffles regardless of corpus size; output
    rows ≈ input tokens / stride. Fan-out is bounded per row (a
    pathological giant doc emits len/stride rows from its own partition —
    at 100 TB pair with a pre-filter on n_tokens or a repartition after
    if single-doc gigarows are possible).
    """
    if stride <= 0 or chunk_tokens <= 0 or stride > chunk_tokens:
        raise ValueError(
            f"need 0 < stride <= chunk_tokens, got {stride=} {chunk_tokens=}"
        )
    toks = F.split(F.trim(F.col(text)), _WORD_RE)
    n = F.size(toks)
    # number of windows: 1 + ceil(max(0, n - chunk) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(chunk_tokens), F.lit(0)).cast("double")
        / F.lit(float(stride))
    ).cast("int")
    t = df.select(
        id_col,
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * F.lit(stride)
    chunk = F.slice(F.col("_toks"), start + F.lit(1), chunk_tokens)
    return t.select(
        id_col,
        "chunk_idx",
        start.alias("chunk_start"),
        F.size(chunk).alias("n_chunk_tokens"),
        portable_hash32(F.array_join(chunk, " ")).alias("chunk_fp"),
    )


def token_entropy(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the unigram token distribution —
    the information-density quality signal (low entropy = repetitive /
    boilerplate / keyword-stuffed text; cf. repetition_ratio, which
    measures adjacent-duplication only). H = log2(n) − Σ c·log2(c) / n
    over whitespace-token counts c; emitted alongside the raw counts so
    the gate pins the integers exactly and the float only through
    portable rounding. Empty/whitespace-only documents are excluded
    (entropy of an empty distribution is undefined, not zero).

    Plan: explode to (doc, token) rows map-side, ONE hash aggregate on
    (doc, token) for counts, then a per-doc rollup that AQE keeps on the
    same hash(doc) clustering — partial aggregation absorbs the heavy
    duplicate-token traffic before the exchange. No UDF, no collect;
    scales with corpus bytes like the other text ops.
    """
    toks = df.filter(F.trim(F.col(text)) != "").select(
        id_col,
        F.explode(F.split(F.trim(F.col(text)), _WORD_RE)).alias("_tok"),
    )
    counts = toks.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_c"))
    n = F.sum("_c")
    # Σ c·log2(c) as a µ-scaled integer sum: each term's double is
    # IEEE-identical everywhere, and the integer fold is associative —
    # so the entropy is partition- and engine-deterministic (a float
    # sum's partial-aggregation order is not); c=2^k terms are exact
    s_scaled = F.sum(
        F.round(
            F.col("_c").cast("double")
            * F.log2(F.col("_c").cast("double"))
            * F.lit(1e6),
            0,
        ).cast("long")
    )
    ent = (
        F.log2(n.cast("double"))
        - (s_scaled.cast("double") / F.lit(1e6)) / n.cast("double")
    )
    return counts.groupBy(id_col).agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
        ent.alias("token_entropy"),
    )


def _ws_trim(c: Column) -> Column:
    """Full-whitespace trim. F.trim strips only ASCII spaces, so tab- or
    newline-padded strings survive it and skew every count that treats
    "blank" as empty — both curation gates below trim with this instead
    (the stress sweep caught the discrepancy twice: first on trailing
    newlines in the word split, then on tab-only lines)."""
    return F.regexp_replace(F.regexp_replace(c, r"^\s+", ""), r"\s+$", "")


def _ws_tokens(c: Column) -> Column:
    """Whitespace tokenization matching Python ``str.strip().split()``:
    ``\\s+``-split with empty tokens REMOVED. F.trim strips only ASCII
    spaces, so tab/newline padding would otherwise leave empty tokens
    that shift positions (the span-dedup pipeline) or contaminate hash
    buckets (feature_hashing) — the same bug class :func:`_ws_trim`
    documents, caught four separate times by the stress/hypothesis
    sweeps. THE one shared tokenizer for every ``strip().split()``
    consumer; the DuckDB oracles mirror it as
    ``list_filter(regexp_split_to_array(s, '\\s+'), x -> x <> '')``."""
    return F.filter(F.split(c, _WORD_RE), lambda t: t != F.lit(""))


# C4 line-ending rule (Raffel et al. 2020 §2.2): a kept line must end in
# terminal punctuation — period/!/?/ellipsis, optionally wrapped in a
# closing quote/bracket.
_C4_TERMINAL_RE = r"[.!?…][\"'”’)\]]*$"


def c4_clean_lines(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_lines: int = 3,
    drop_line_markers: tuple[str, ...] = ("javascript",),
    drop_doc_markers: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """The published C4 cleaning pass (Raffel et al. 2020 §2.2) — LINE
    surgery where :func:`gopher_quality_flags` gives document verdicts:
    keep only lines that end in terminal punctuation and carry at least
    ``min_line_words`` words, drop lines containing any
    ``drop_line_markers`` substring (paper: "javascript"), rebuild the
    document from the survivors, and mark the whole document dropped
    (``doc_kept = false``) when it contains a ``drop_doc_markers``
    substring (paper: "lorem ipsum", the code-page "{") or fewer than
    ``min_lines`` lines survive. The paper's bad-words list is an
    external resource — pass its entries through ``drop_line_markers``.

    Emits (id, text: the cleaned document, n_lines_kept,
    n_lines_dropped, doc_kept). The cleaned text of a dropped document
    is still emitted (callers filter on ``doc_kept``), so the operator
    is a pure projection — audits can diff kept/dropped populations
    without a second pass.

    Plan shape: ZERO shuffles — split/trim/filter/rejoin are built-in
    array ops in one codegen'd projection, linear in corpus bytes.
    Marker matching is case-insensitive literal ``contains`` (no regex
    injection risk from caller-supplied marker strings).
    """
    if min_line_words < 0 or min_lines < 0:
        raise ValueError(
            f"need min_line_words >= 0 and min_lines >= 0, "
            f"got {min_line_words=} {min_lines=}"
        )
    lines = F.filter(
        F.transform(F.split(F.col(text), r"\n"), _ws_trim),
        lambda x: x != "",
    )

    def _line_kept(x: Column) -> Column:
        ok = x.rlike(_C4_TERMINAL_RE)
        ok = ok & (F.size(F.split(x, _WORD_RE)) >= min_line_words)
        low = F.lower(x)
        for m in drop_line_markers:
            ok = ok & ~low.contains(m.lower())
        return ok

    kept = F.filter(lines, _line_kept)
    n_kept = F.size(kept).cast("long")
    n_dropped = (F.size(lines) - F.size(kept)).cast("long")
    doc_ok = n_kept >= min_lines
    low_doc = F.lower(F.col(text))
    for m in drop_doc_markers:
        doc_ok = doc_ok & ~low_doc.contains(m.lower())
    return df.select(
        id_col,
        F.array_join(kept, "\n").alias(text),
        n_kept.alias("n_lines_kept"),
        n_dropped.alias("n_lines_dropped"),
        doc_ok.alias("doc_kept"),
    )


# The Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1 —
# the same published thresholds Dolma/RefinedWeb-style pipelines reuse).
# The reference toolkit has no text-curation surface; this is north-star
# LLM-pipeline coverage like quality_score/repetition_ratio above.
_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_BULLET_LINE_RE = r"^[•‣▪●*-]"  # • ‣ ▪ ● * -
_ELLIPSIS_TAIL_RE = r"(\.\.\.|…)$"
_ELLIPSIS_ANY_RE = r"\.\.\.|…"


def gopher_quality_flags(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
) -> DataFrame:
    """The published Gopher document-quality rule set (Rae et al. 2021
    §A1.1) as one map-side pass: word-count bounds, mean-word-length
    bounds, symbol-to-word ratio (# and ellipses), bullet-/ellipsis-line
    fractions, alphabetic-word fraction, the 8-stop-word requirement, and
    the two line-level repetition rules (duplicate-line fraction and
    characters-in-duplicate-lines fraction). Emits the raw statistics,
    a ``fail_reasons`` array naming every violated rule (empty = clean),
    and the composite ``passes`` flag — the audit shape a curation
    pipeline needs ("which rule killed this doc"), not just a verdict.

    Thresholds default to the paper's values and are keyword-tunable.
    "Alphabetic" is ASCII [A-Za-z] (documented approximation — the paper
    corpus is English; swap the regex for a Unicode class off-path).

    Plan shape: ZERO shuffles — every rule is built-in Column arithmetic
    over the word/line split arrays in one codegen'd projection, linear
    in corpus bytes at any cluster size. The duplicate-line rules avoid
    the per-doc O(lines²) nested filter by sorting the line array once
    and comparing each element with its predecessor (``array_sort`` +
    indexed ``transform`` + ``F.get`` — O(n log n) per doc, no shuffle,
    and ANSI-safe: ``F.get`` returns NULL at index −1 rather than
    raising like 1-based ``element_at(..., 0)`` would).

    DuckDB-oracle-expressible throughout (string_split + list_sort +
    list slicing replicate the predecessor compare), so this can take a
    registry entry when the rotation window has a slot (r15 candidate,
    alongside duplicated_spans).
    """
    # r17 construction pass (the r16 simhash/ANN/minhash precedent): the
    # whole zero-shuffle projection assembles as PARSED SQL expression
    # strings instead of ~200 chained Column/lambda py4j round-trips —
    # measured ~0.5 s of per-run builder construction on this entry.
    # Semantics and expression SHAPE mirror the Column form exactly
    # (full-whitespace trim via _ws_trim's regexes, tokens via _WORD_RE
    # with empty tokens filtered, CASE/when branches and casts in the
    # same places); output equality and executed-plan shape stay pinned
    # by the hand-model/attribution/plan tests plus the randomized
    # text_gates stress section.
    col = ident(text)
    t = (
        "regexp_replace(regexp_replace("
        f"{col}, '^\\\\s+', ''), '\\\\s+$', '')"
    )
    words = f"filter(split({t}, '\\\\s+'), x_ -> x_ != '')"
    n_words = (
        f"CAST(CASE WHEN {t} = '' THEN 0 ELSE size({words}) END AS BIGINT)"
    )
    # mean word length over non-space chars (the text_stats formulation)
    n_space = f"(length({t}) - length(regexp_replace({t}, '\\\\s', '')))"
    mean_wlen = (
        f"CASE WHEN {n_words} > 0 THEN "
        f"CAST(length({t}) - {n_space} AS DOUBLE) / {n_words} "
        "ELSE 0.0D END"
    )
    # symbol-to-word ratio: '#' occurrences + ellipsis occurrences per word
    n_symbols = (
        f"(regexp_count({t}, '#') + "
        f"regexp_count({t}, '\\\\.\\\\.\\\\.|…'))"
    )
    sym_ratio = (
        f"CASE WHEN {n_words} > 0 THEN CAST({n_symbols} AS DOUBLE) / "
        f"{n_words} ELSE 0.0D END"
    )
    # line rules over non-empty fully-trimmed lines (tab-only lines are
    # blank, not one-char lines — the _ws_trim regexes, not trim())
    lines = (
        f"filter(transform(split({col}, '\\\\n'), "
        "l_ -> regexp_replace(regexp_replace(l_, '^\\\\s+', ''), "
        "'\\\\s+$', '')), x_ -> x_ != '')"
    )
    n_lines = f"CAST(size({lines}) AS BIGINT)"
    bullet_frac = (
        f"CASE WHEN {n_lines} > 0 THEN CAST(size(filter({lines}, "
        f"x_ -> x_ RLIKE '{_BULLET_LINE_RE}')) AS DOUBLE) / {n_lines} "
        "ELSE 0.0D END"
    )
    ellipsis_frac = (
        f"CASE WHEN {n_lines} > 0 THEN CAST(size(filter({lines}, "
        "x_ -> x_ RLIKE '(\\\\.\\\\.\\\\.|…)$')) AS DOUBLE) / "
        f"{n_lines} ELSE 0.0D END"
    )
    # fraction of words containing >=1 ASCII letter
    alpha_frac = (
        f"CASE WHEN {n_words} > 0 THEN CAST(size(filter({words}, "
        f"x_ -> x_ RLIKE '[A-Za-z]')) AS DOUBLE) / {n_words} "
        "ELSE 0.0D END"
    )
    # distinct stop words present (case-folded exact-token membership)
    stop_arr = ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)
    stop_hits = (
        f"CAST(size(filter(array({stop_arr}), w_ -> array_contains("
        f"transform({words}, x_ -> lower(x_)), w_))) AS BIGINT)"
    )
    # duplicate-line rules: sort once, compare each line to its predecessor
    # (occurrences beyond the first are "duplicates", the Gopher counting);
    # get() is the ANSI-safe indexed access (NULL at -1, never raising)
    sorted_lines = f"array_sort({lines})"
    dup_cnt = (
        f"CAST(aggregate(transform({sorted_lines}, (x_, i_) -> "
        f"CASE WHEN x_ = get({sorted_lines}, i_ - 1) THEN 1 ELSE 0 END), "
        "0, (acc_, x_) -> acc_ + x_) AS BIGINT)"
    )
    dup_chars = (
        f"CAST(aggregate(transform({sorted_lines}, (x_, i_) -> "
        f"CASE WHEN x_ = get({sorted_lines}, i_ - 1) THEN length(x_) "
        "ELSE 0 END), 0, (acc_, x_) -> acc_ + x_) AS BIGINT)"
    )
    line_chars = (
        f"CAST(aggregate({lines}, 0, (acc_, x_) -> acc_ + length(x_)) "
        "AS BIGINT)"
    )
    dup_line_frac = (
        f"CASE WHEN {n_lines} > 0 THEN CAST({dup_cnt} AS DOUBLE) / "
        f"{n_lines} ELSE 0.0D END"
    )
    dup_char_frac = (
        f"CASE WHEN {line_chars} > 0 THEN CAST({dup_chars} AS DOUBLE) / "
        f"{line_chars} ELSE 0.0D END"
    )

    # thresholds render as DOUBLE literals of their float value, so any
    # real number type (numpy, Decimal) gives valid SQL; a non-finite one
    # has no literal and raises here instead
    th = {}
    for name, x in (
        ("min_words", min_words), ("max_words", max_words),
        ("min_mean_word_len", min_mean_word_len),
        ("max_mean_word_len", max_mean_word_len),
        ("max_symbol_word_ratio", max_symbol_word_ratio),
        ("max_bullet_line_frac", max_bullet_line_frac),
        ("max_ellipsis_line_frac", max_ellipsis_line_frac),
        ("min_alpha_word_frac", min_alpha_word_frac),
        ("min_stopword_hits", min_stopword_hits),
        ("max_dup_line_frac", max_dup_line_frac),
        ("max_dup_line_char_frac", max_dup_line_char_frac),
    ):
        try:
            th[name] = literal(float(x))
        except ValueError:
            raise ValueError(f"{name} must be a finite number, got {x!r}") from None

    stats = df.select(
        id_col,
        F.expr(f"{n_words} AS n_words"),
        F.expr(f"{mean_wlen} AS mean_word_len"),
        F.expr(f"{sym_ratio} AS symbol_word_ratio"),
        F.expr(f"{bullet_frac} AS bullet_line_frac"),
        F.expr(f"{ellipsis_frac} AS ellipsis_line_frac"),
        F.expr(f"{alpha_frac} AS alpha_word_frac"),
        F.expr(f"{stop_hits} AS stopword_hits"),
        F.expr(f"{dup_line_frac} AS dup_line_frac"),
        F.expr(f"{dup_char_frac} AS dup_line_char_frac"),
    )

    rules = [
        ("word_count",
         f"n_words BETWEEN {th['min_words']} AND {th['max_words']}"),
        ("mean_word_len",
         f"mean_word_len BETWEEN {th['min_mean_word_len']} "
         f"AND {th['max_mean_word_len']}"),
        ("symbol_word_ratio",
         f"symbol_word_ratio <= {th['max_symbol_word_ratio']}"),
        ("bullet_lines", f"bullet_line_frac <= {th['max_bullet_line_frac']}"),
        ("ellipsis_lines",
         f"ellipsis_line_frac <= {th['max_ellipsis_line_frac']}"),
        ("alpha_words", f"alpha_word_frac >= {th['min_alpha_word_frac']}"),
        ("stopwords", f"stopword_hits >= {th['min_stopword_hits']}"),
        ("dup_lines", f"dup_line_frac <= {th['max_dup_line_frac']}"),
        ("dup_line_chars",
         f"dup_line_char_frac <= {th['max_dup_line_char_frac']}"),
    ]
    reasons = ", ".join(
        f"CASE WHEN NOT ({cond}) THEN '{name}' ELSE CAST(NULL AS STRING) END"
        for name, cond in rules
    )
    return stats.withColumn(
        "fail_reasons", F.expr(f"array_compact(array({reasons}))")
    ).withColumn("passes", F.expr("size(fail_reasons) = 0"))


# Version stamp for the HASHED-FEATURE FORMAT (tokenizer + hash family
# + bucket rule). Any model fitted over feature_hashing output (hashed
# log-odds, DSIR log-ratios) scores correctly only against features
# hashed the SAME way — a silent tokenizer change makes persisted
# weights drift against newly hashed counts with no error anywhere
# (ADVICE r15 #4). Bake this into every save_model params stamp (the
# PHASH_VERSION / CANONICALIZER_VERSION discipline) and pass it in
# expect_params at load so a stale model fails loud instead of
# drifting. History:
#   1 — \s+ split WITHOUT the empty-token filter: trailing-newline/tab
#       docs emitted a phantom ''-token into one bucket per doc
#       (pre-r14; never shipped a stamp, which is why this constant
#       exists).
#   2 — the shared _ws_tokens tokenizer (strip().split() semantics,
#       empty tokens filtered) + portable_hash31 % n_buckets.
FEATURE_HASH_VERSION = 2


def feature_hashing(
    df: DataFrame,
    n_buckets: int = 1024,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashing-trick featurization: each whitespace token maps to bucket
    ``portable_hash31(token) % n_buckets`` and the per-document sparse
    feature vector is the (bucket, count) rows — the fixed-width,
    vocabulary-free text featurizer (Weinberger et al.'s hashing trick)
    used for linear probes and fast classifiers over web-scale corpora.
    The hash is the engine-portable MD5-based family, so the exact
    bucket assignment is reproducible anywhere (Spark's native ``hash``
    and DuckDB's are engine-specific and would never cross-verify).

    Emits (doc_id, bucket, cnt) sparse rows — collect to an
    ``array<struct>`` per doc downstream if a dense handoff is needed.

    Plan: tokenize/explode/hash are one codegen'd map stage; the ONLY
    exchange is the (doc, bucket) hash aggregate, with map-side partial
    aggregation absorbing repeated tokens. Scales with corpus bytes.

    Tokenization matches Python ``strip().split()``: empty tokens are
    FILTERED after the ``\\s+`` split (F.trim strips only ASCII spaces,
    so a doc ending in a newline/tab once emitted a phantom ''-token
    that contaminated one bucket per doc — caught by the DSIR
    hypothesis sweep, the same bug class as _ws_trim/_ws_tokens).
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    toks = df.filter(F.trim(F.col(text)) != "").select(
        id_col,
        F.explode(_ws_tokens(F.lower(F.col(text)))).alias("_tok"),
    )
    bucket = (portable_hash31(F.col("_tok")) % F.lit(n_buckets)).cast("long")
    return (
        toks.select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# bias travels as a reserved bucket id so the whole model is ONE small
# (bucket, weight) table — storable/loadable via sources/models.py
_BIAS_BUCKET = -1


def _model_bias(weights: DataFrame) -> float:
    """The model's bias (reserved bucket −1), 0.0 when absent; more than
    one bias row fails loud — a fitted model has exactly one."""
    bias_rows = weights.filter(F.col("bucket") == _BIAS_BUCKET).collect()
    if len(bias_rows) > 1:
        raise ValueError(
            f"weights carries {len(bias_rows)} bias rows (bucket == "
            f"{_BIAS_BUCKET}); a fitted model has exactly one"
        )
    return float(bias_rows[0]["weight"]) if bias_rows else 0.0


def _require_unique_buckets(weights: DataFrame) -> None:
    """Duplicate bucket rows would silently MULTIPLY matching feature
    rows through the model join (double-counted weight, no error
    anywhere downstream) — validate the tiny model table before
    broadcasting; one O(n_buckets) aggregate."""
    dups = (
        weights.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(5)
        .collect()
    )
    if dups:
        raise ValueError(
            "weights carries duplicate bucket rows "
            f"{[r['bucket'] for r in dups]}… — each bucket must appear "
            "once (a duplicated row would double-count its weight)"
        )


def _smoothed_logratio(
    ca: Column, cb: Column, denom_a: float, denom_b: float, alpha: float
) -> Column:
    """ONE copy of the Laplace-smoothed two-distribution log count-ratio
    ``ln((ca + α)/denom_a) − ln((cb + α)/denom_b)`` — the NB log-odds
    (:func:`fit_hashed_logodds`) and the DSIR importance ratio
    (:func:`fit_dsir_logratios`) are the same law over different count
    sources, and both are oracle-pinned to 1e-12, so the formula must
    live in exactly one place. NULL counts coalesce to 0 (a bucket
    unseen in one corpus carries pure smoothing mass)."""
    return F.log((F.coalesce(ca, F.lit(0)) + alpha) / denom_a) - F.log(
        (F.coalesce(cb, F.lit(0)) + alpha) / denom_b
    )


def fit_hashed_logodds(
    df: DataFrame,
    label: str = "label",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fit multinomial Naive-Bayes log-odds weights over hashed token
    features — the classic fastText-style linear text classifier (the
    FineWeb-Edu quality-classifier shape: fit on a small LABELED sample,
    then :func:`hashed_linear_score` the whole corpus). For bucket b with
    Laplace smoothing ``alpha`` over ``n_buckets`` buckets:

        w_b  = ln((c_pos_b + a) / (C_pos + a*B))
             - ln((c_neg_b + a) / (C_neg + a*B))
        bias = ln((n_pos_docs + a) / (n_neg_docs + a))

    Every bucket gets a weight row (unseen buckets carry the smoothing
    constant, keeping NB scoring exact); the bias rides as the reserved
    bucket ``-1``, so the whole fitted model is one (bucket, weight)
    table of exactly ``n_buckets + 1`` rows — publish it through
    ``sources.models.save_model`` with a
    ``{"kind": "hashed_logodds", "n_buckets": ..., "alpha": ...,
    "feature_hash_version": FEATURE_HASH_VERSION}`` stamp and load with
    ``expect_params`` (INCLUDING the version) at scoring time: weights
    are meaningful only against features hashed by the same tokenizer/
    hash format, and the stamp is what makes a stale persisted model
    fail loud instead of drifting (see :data:`FEATURE_HASH_VERSION`).

    Deterministic end to end: the hash family is the engine-portable
    MD5-based one (see :func:`feature_hashing`) and the arithmetic is
    count ratios + ln — reproducible anywhere, DuckDB-oracle-expressible.

    Scale shape: fitting runs on the labeled sample (labels are the
    expensive resource; the sample is small by nature) — one hashed
    feature aggregate, one join of per-doc labels, one bucket aggregate,
    and two O(1) scalar collects (class totals). The output is O(B).
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    spark = df.sparkSession
    lab = df.select(id_col, F.col(label).cast("boolean").alias("_y"))
    feats = feature_hashing(df, n_buckets, text, id_col)
    counts = (
        feats.join(lab, id_col)
        .groupBy("bucket")
        .agg(
            F.sum(
                F.when(F.col("_y"), F.col("cnt")).otherwise(F.lit(0))
            ).alias("_cp"),
            F.sum(
                F.when(~F.col("_y"), F.col("cnt")).otherwise(F.lit(0))
            ).alias("_cn"),
        )
        # materialized ONCE (O(n_buckets) rows): consumed by the class
        # totals below and again by the weights join — without the
        # barrier each reference re-ran the tokenize+hash+label-join
        # pass over the labeled sample (r16 optimization round, same
        # rationale as fit_dsir_logratios)
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(
        F.coalesce(F.sum("_cp"), F.lit(0)).alias("tp"),
        F.coalesce(F.sum("_cn"), F.lit(0)).alias("tn"),
    ).collect()[0]
    ndocs = {
        r["_y"]: r["n"]
        for r in lab.groupBy("_y").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if None in ndocs:
        # a NULL label would silently contribute to NEITHER class count
        # (when(_y) and when(~_y) both fall through on NULL) — a fit that
        # quietly ignored part of its expensive labeled sample is a bug
        # the caller must see, not a default
        raise ValueError(
            f"{ndocs[None]} document(s) have a NULL {label!r} label — "
            "drop or impute them before fitting"
        )
    import math

    bias = math.log((ndocs.get(True, 0) + alpha) / (ndocs.get(False, 0) + alpha))
    denom_p = float(tot["tp"]) + alpha * n_buckets
    denom_n = float(tot["tn"]) + alpha * n_buckets
    all_buckets = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    w = (
        all_buckets.join(counts, "bucket", "left")
        .select(
            "bucket",
            _smoothed_logratio(
                F.col("_cp"), F.col("_cn"), denom_p, denom_n, alpha
            ).alias("weight"),
        )
    )
    bias_row = spark.createDataFrame(
        [(int(_BIAS_BUCKET), float(bias))], "bucket long, weight double"
    )
    return w.unionByName(bias_row)


def hashed_linear_score(
    df: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1024,
    normalize: bool = True,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with a hashed linear model: ``z = bias + sum_b
    f_b * w_b`` over the :func:`feature_hashing` buckets, where ``f_b``
    is the token count (``normalize=False`` — exact Naive-Bayes
    log-posterior-odds when the weights come from
    :func:`fit_hashed_logodds`) or the length-normalized frequency
    ``cnt_b / n_tokens`` (``normalize=True``, default — length-invariant,
    the quality-scoring setting). Emits (id, n_tokens, z, p) with
    ``p = 1/(1+exp(-z))``, the logistic link. Documents with zero tokens
    produce no row (they have no feature mass; filter upstream).

    ``weights`` is the (bucket, weight) table from
    :func:`fit_hashed_logodds` (bias at bucket −1) or any externally
    fitted model of the same shape — e.g. loaded via
    ``sources.models.load_model(..., expect_params={"n_buckets": ...})``
    so a model fitted under a different hash width fails loud instead of
    scoring garbage. Buckets missing from the table score 0.

    Scale shape: the corpus side is :func:`feature_hashing`'s one
    (doc, bucket) aggregate; the model side is O(n_buckets) rows and is
    explicitly broadcast (bounded by the parameter, never by data), so
    scoring is map-side after the feature aggregate — one per-doc rollup,
    corpus bodies never joined against anything. The bias read is one
    O(1) driver lookup, same discipline as the model-store params stamp.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    bias = _model_bias(weights)
    _require_unique_buckets(weights)
    w = F.broadcast(weights.filter(F.col("bucket") != _BIAS_BUCKET))
    feats = feature_hashing(df, n_buckets, text, id_col)
    scored = feats.join(w, "bucket", "left").groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.coalesce(F.col("weight"), F.lit(0.0))).alias("_dot"),
    )
    z = (
        F.lit(bias)
        + F.when(
            F.lit(normalize), F.col("_dot") / F.col("n_tokens")
        ).otherwise(F.col("_dot"))
    ).alias("z")
    return scored.select(
        id_col,
        "n_tokens",
        z,
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))).alias("p"),
    )


def fit_dsir_logratios(
    target: DataFrame,
    raw: DataFrame,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-bucket log importance ratios for DSIR — Data Selection via
    Importance Resampling (Xie et al. 2023): given a small TARGET
    corpus (the distribution you want more of) and a sample of the RAW
    pool, fit

        w_b = ln((ct_target_b + a) / (CT_target + a·B))
            - ln((ct_raw_b + a) / (CT_raw + a·B))

    over the :func:`feature_hashing` buckets with Laplace smoothing
    ``alpha`` — the hashed bag-of-words arm of the published method
    (the paper also uses bigrams; the bucket table shape is identical).
    A document's log importance weight under the two unigram models is
    then exactly ``sum_b cnt_b · w_b`` — score with
    :func:`hashed_linear_score(..., normalize=False)` (DSIR emits no
    bias bucket, so the scorer's bias is 0) and resample with
    :func:`dsir_resample`.

    Returns (bucket, weight), exactly ``n_buckets`` rows — publish via
    ``sources.models.save_model`` with an ``{"kind": "dsir",
    "n_buckets": ..., "alpha": ...,
    "feature_hash_version": FEATURE_HASH_VERSION}`` stamp, the
    :func:`fit_hashed_logodds` discipline (the version makes a model
    persisted under an older tokenizer/hash format fail loud at load
    instead of scoring drifted — see :data:`FEATURE_HASH_VERSION`).

    Scale shape: one (doc, bucket)→bucket aggregate per corpus (the
    target is small by nature; the raw side is a SAMPLE of the pool —
    the paper fits on a fraction and scores everything), two O(1)
    scalar collects, O(B) output. Deterministic: portable MD5 hashing +
    count ratios — reproducible anywhere, DuckDB-oracle-expressible.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    spark = target.sparkSession

    def _bucket_totals(df: DataFrame, out: str) -> DataFrame:
        return (
            feature_hashing(df, n_buckets, text, id_col)
            .groupBy("bucket")
            .agg(F.sum("cnt").alias(out))
        )

    # materialize each bucket table ONCE (O(n_buckets) rows): the totals
    # below AND the weights join both consume it — without the barrier
    # each reference re-runs the whole tokenize+hash+aggregate pass over
    # its corpus (the totals collect once, the weights join again), so
    # the fit paid every slice's scan twice (r16 optimization round;
    # same localCheckpoint rationale as dedup.minhash_lsh_pairs)
    ct_t = _bucket_totals(target, "_ct").localCheckpoint(eager=True)
    ct_r = _bucket_totals(raw, "_cr").localCheckpoint(eager=True)
    tot_t = ct_t.agg(F.coalesce(F.sum("_ct"), F.lit(0))).collect()[0][0]
    tot_r = ct_r.agg(F.coalesce(F.sum("_cr"), F.lit(0))).collect()[0][0]
    if tot_t == 0 or tot_r == 0:
        raise ValueError(
            f"empty corpus (target tokens={tot_t}, raw tokens={tot_r}) — "
            "importance ratios over an empty distribution are meaningless"
        )
    denom_t = float(tot_t) + alpha * n_buckets
    denom_r = float(tot_r) + alpha * n_buckets
    all_buckets = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    return (
        all_buckets.join(ct_t, "bucket", "left")
        .join(ct_r, "bucket", "left")
        .select(
            "bucket",
            _smoothed_logratio(
                F.col("_ct"), F.col("_cr"), denom_t, denom_r, alpha
            ).alias("weight"),
        )
    )


def dsir_resample(
    df: DataFrame,
    weights: DataFrame,
    k: int,
    n_buckets: int = 1024,
    temperature: float = 1.0,
    seed: int = 42,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR's selection step: sample ``k`` documents WITHOUT replacement
    with probability ∝ exp(logw / temperature) via the Gumbel top-k
    trick — key_i = logw_i/T − ln(−ln(u_i)) with u_i uniform, and the k
    largest keys are exactly a without-replacement sample from the
    softmax (Vieira 2014; the standard distributed form of importance
    resampling, no sequential draws). ``u_i`` comes from the portable
    MD5 hash of (seed, id), so selection is DETERMINISTIC and
    engine-reproducible — the same corpus, model, seed and k select the
    same documents on any engine or partition count. The determinism is
    EXACT, not approximate: the per-doc dot runs on 1e-9-scaled INTEGER
    weights (``logw = Σ cnt · round(w·1e9) / 1e9`` — the bigram_nll
    discipline), so the sum is associative and a float accumulation
    order that varies with partitioning can never flip a near-boundary
    key (r14 review #2). A document so long the scaled dot could exceed
    int64 headroom (cap ≈ 9.2e18 / max|w·1e9| tokens — hundreds of
    millions at typical weights) RAISES rather than wrapping silently
    under non-ANSI mode. A bias-bearing model (bucket −1) is honored:
    logw matches ``hashed_linear_score(normalize=False)``'s z up to the
    1e-9 quantization.

    Emits (id, n_tokens, logw, key) for the k selected documents.
    ``temperature`` → ∞ approaches uniform sampling; → 0 approaches
    deterministic top-k by logw.

    Scale shape: one :func:`feature_hashing` aggregate + the
    O(n_buckets) broadcast model join (duplicate bucket rows fail loud,
    the :func:`hashed_linear_score` guard); the selection is
    ``orderBy(key).limit(k)`` which Spark executes as
    TakeOrderedAndProject — per-partition heaps of size k, NO global
    sort exchange (plan-pinned). Zero-token documents score no row
    (they carry no feature mass) and are never selected.
    """
    import math

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    _require_unique_buckets(weights)
    # a bias-bearing model (fit_hashed_logodds) works too: bucket −1
    # never matches a feature (hash % B ≥ 0), so it is applied here as a
    # scaled-integer constant — emitted logw agrees with
    # hashed_linear_score(normalize=False) up to the 1e-9 quantization
    _b = _model_bias(weights) * 1e9
    # HALF_UP like F.round (python round() is banker's)
    bias_i = int(math.floor(_b + 0.5) if _b >= 0 else -math.floor(-_b + 0.5))
    wint = weights.filter(F.col("bucket") != _BIAS_BUCKET).select(
        "bucket", F.round(F.col("weight") * 1e9).cast("long").alias("_wi")
    )
    max_wi = wint.agg(F.max(F.abs(F.col("_wi")))).collect()[0][0] or 0
    # fail-loud int64 headroom: |Σ cnt·wi| ≤ n_tokens·max|wi| (+bias);
    # a wrapped sum under non-ANSI mode would be a silently garbage key
    tok_cap = (
        (0x7FFFFFFFFFFFFFFF - abs(bias_i)) // max_wi
        if max_wi
        else math.inf
    )
    feats = feature_hashing(df, n_buckets, text, id_col)
    scored = (
        feats.join(F.broadcast(wint), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(
                F.col("cnt") * F.coalesce(F.col("_wi"), F.lit(0))
            ).alias("_di"),
        )
    )
    if tok_cap is not math.inf:
        scored = scored.withColumn(
            "_di",
            F.when(
                F.col("n_tokens") <= F.lit(int(tok_cap)), F.col("_di")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("dsir_resample: document "),
                        F.col(id_col).cast("string"),
                        F.lit(" carries "),
                        F.col("n_tokens").cast("string"),
                        F.lit(
                            " tokens — the 1e-9-scaled integer dot "
                            "could exceed int64 (cap "
                            f"{int(tok_cap)} at this model's max "
                            "|weight|); chunk the document or refit "
                            "with smaller weights"
                        ),
                    )
                )
            ),
        )
    logw = (F.col("_di") + F.lit(bias_i)).cast("double") / F.lit(1e9)
    u = (
        portable_hash31(
            F.concat(F.lit(f"dsir{seed}|"), F.col(id_col).cast("string"))
        )
        + F.lit(1)
    ).cast("double") / F.lit(2147483648.0)
    key = logw / F.lit(float(temperature)) - F.log(-F.log(u))
    return (
        scored.select(
            id_col,
            "n_tokens",
            logw.alias("logw"),
            key.alias("key"),
        )
        .orderBy(F.col("key").desc(), F.col(id_col).asc())
        .limit(k)
    )
