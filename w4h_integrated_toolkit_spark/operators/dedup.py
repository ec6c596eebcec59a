"""Deduplication operators for training-data pipelines (north-star ops).

Scale design notes (the point of each variant):

- **exact_dedup** — one hash aggregate on an MD5 key: a single shuffle of
  (key, id) pairs, never of document bodies. At 100 TB, project the key+id
  first (column pruning keeps bodies out of the shuffle).
- **shingle_rows** — the shared tokenize→shingle primitive, assembled
  map-side (slice + concat_ws per exploded position) so it costs NO
  exchange: shingle rows are generated inside the scan stage and feed the
  downstream aggregate's map-side partials directly. The rejected
  alternative (posexplode + lead windows) shuffled and sorted the whole
  tokenized corpus on (doc, pos) first — the dominant cost at fleet scale.
- **ngram_jaccard_pairs** — one shuffle on shingle: groupBy(shingle) →
  in-bucket ordered pair generation (O(df²) confined to hot shingles, which
  ``max_doc_freq`` drops BEFORE pair explosion — the skew guard), then a
  pair-count aggregate and a broadcast join of per-doc set sizes.
- **minhash_signatures / minhash_lsh_pairs** — MinHash+LSH: candidate
  generation cost drops from O(n²) to O(n·bands) via banding; only
  candidates are verified with exact Jaccard. Hash functions are the
  portable rolling-hash family so the DuckDB oracle can reproduce the exact
  signatures (Spark's builtin hash is engine-specific).
- **Signature forms: one per execution mode.** Batch builders
  (``minhash_signatures``, ``lsh_band_rows``, ``minhash_lsh_pairs``,
  ``incremental_neardup_pairs``) take the per-permutation min as ONE
  groupBy-min aggregate over hashed shingle rows (``_signatures_inner``):
  the hash runs once per shingle in codegen and the permutations are plain
  arithmetic. A stream cannot aggregate per document, so
  ``streaming.dedup_stream.rowwise_band_rows`` folds each row's own gram
  array instead (``array_min(transform(...))``). Both forms feed
  ``_band_rows``, the one definition of the band key, so a stored
  ``lsh_band_rows`` index and the streaming probe cannot drift. The
  row-local fold stays out of batch plans: its permutations run as
  interpreted ``transform`` lambdas, where the groupBy-min is codegen'd
  arithmetic. A probe on 4 vCPU put the fold (in its earlier form, which
  also re-hashed every gram once per permutation) inside today's batch
  plan: ``minhash_lsh_pairs`` went from 0.61–0.72 s to 2.5–2.8 s and
  ``minhash_signatures`` from 0.31 s to 2.1–2.4 s.
- **One definition per near-dup decision.** ``_band_rows`` (band keys),
  ``corpus_shingle_sets`` (per-doc shingle sets), ``_jaccard_at_least``
  (the exact-Jaccard check), ``_shared_shingle_counts`` (shingle pair
  counting for the Jaccard and containment metrics) and ``_bloom_probe``
  (the Bloom bit test) are each written once and called from every
  batch and streaming path that makes that decision.
- **simhash32** — 32-bit SimHash from word hashes as 32 conditional sums in
  one hash aggregate; near-dups differ in few bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import ROLLING_HASH_MOD, portable_hash31, portable_hash32

# THE shared strip().split() tokenizer (empty tokens filtered — a
# leading tab/newline would otherwise shift every pos/start_tok/end_tok
# in the span pipeline by one and change every window hash); one
# definition in text.py so the operators and their DuckDB oracles can
# never drift apart
from .text import _ws_tokens

__all__ = [
    "exact_dedup",
    "shingle_rows",
    "shingle_index",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "lsh_band_rows",
    "corpus_shingle_sets",
    "persist_corpus_index",
    "load_corpus_index",
    "incremental_neardup_pairs",
    "simhash32",
    "connected_components",
    "contamination",
    "gram_bloom_bitmap",
    "bloom_contamination",
    "boilerplate_ngrams",
    "source_ngram_overlap",
    "ngram_containment_pairs",
    "golden_record",
    "duplicated_spans",
    "strip_duplicated_spans",
    "duplicate_paragraphs",
    "strip_duplicate_paragraphs",
    "hamming_neardup_pairs",
]


def _gram_expr(n: int) -> str:
    """SQL expression producing the word n-gram array from a ``_w`` word-array
    column: one assembled shingle per position via slice + concat_ws, empty
    array for documents shorter than n words (sequence(1, 0) is DESCENDING
    in Spark, not empty — hence the explicit branch)."""
    return (
        f"CASE WHEN size(_w) >= {n} THEN "
        f"transform(sequence(1, size(_w) - {n - 1}), "
        f"p -> concat_ws(' ', slice(_w, p, {n}))) "
        f"ELSE array() END"
    )


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: keeper = min id per group.

    Returns (keep_id, n_dups) per distinct content, n_dups >= 1.
    """
    return (
        df.select(F.md5(F.col(text)).alias("content_key"), F.col(id_col))
        .groupBy("content_key")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingle_rows(
    df: DataFrame, n: int, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingle) rows: word-level n-gram shingles, one row per position.

    Entirely map-side: keep the split word array on the row and explode one
    assembled shingle per position via slice + concat_ws. The earlier
    design (posexplode + n-1 lead windows) forced a shuffle AND sort of the
    whole tokenized corpus on (doc, pos) just to see adjacent words; at
    fleet scale that exchange dominates every shingle consumer. slice/
    concat_ws evaluate inside the scan stage, so shingle rows flow straight
    into the downstream aggregate's partial (map-side combine) with no
    exchange of their own. Documents shorter than n words produce no rows
    (explicit empty branch — Spark's sequence(1, 0) is DESCENDING, not
    empty). Duplicate shingles within a doc are KEPT (set semantics are the
    consumer's choice: distinct() or collect_set).
    """
    words = F.split(F.trim(F.col(text)), r"\s+")
    return df.select(F.col(id_col), words.alias("_w")).select(
        F.col(id_col), F.expr(f"explode({_gram_expr(n)})").alias("shingle")
    )


def distinct_shingle_rows(
    df: DataFrame, n: int, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingle) rows with within-document duplicates removed MAP-SIDE
    (per-row ``array_distinct`` on the assembled gram array — each document
    is one input row, so no exchange is needed to reach set semantics).

    Feed this to set-semantics consumers (inverted index build, shingle-set
    sizes, Jaccard verification): the dedup happens before any shuffle or
    aggregate buffer, so repeated-boilerplate documents don't inflate
    exchange volume. ``shingle_rows`` (dups kept) remains for multiset
    consumers."""
    words = F.split(F.trim(F.col(text)), r"\s+")
    return df.select(F.col(id_col), words.alias("_w")).select(
        F.col(id_col),
        F.expr(f"explode(array_distinct({_gram_expr(n)}))").alias("shingle"),
    )


def shingle_index(
    df: DataFrame,
    n: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Inverted index (shingle -> doc) over word n-grams, with an optional
    document-frequency cap that drops hot shingles before any join (skew
    control; changes candidate recall only for shingles shared by more than
    ``max_doc_freq`` docs, which contribute O(df²) join rows)."""
    idx = distinct_shingle_rows(df, n, text, id_col)
    if max_doc_freq is not None:
        hot = (
            idx.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        idx = idx.join(F.broadcast(hot), "shingle", "left_anti")
    return idx


def _ordered_pairs(docs: Column) -> Column:
    """All ordered (id_a < id_b) pairs from a sorted id array — the in-bucket
    pair generator shared by the Jaccard and LSH paths. O(len²) confined to
    one bucket's array; callers cap bucket size for skew control."""
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + F.lit(2), F.greatest(F.size(docs) - i - 1, F.lit(1))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _shared_shingle_counts(
    df: DataFrame, n: int, text: str, id_col: str, max_doc_freq: int | None
) -> DataFrame:
    """(id_a, id_b, n_common, size_a, size_b) for every doc pair sharing at
    least one distinct shingle — the candidate half of the set-overlap
    metrics; :func:`ngram_jaccard_pairs` and
    :func:`ngram_containment_pairs` each apply their own metric on top.
    The plan and its rejected alternatives are in ngram_jaccard_pairs'
    docstring."""
    rows = distinct_shingle_rows(df, n, text, id_col)
    idx = rows.groupBy("shingle").agg(
        F.sort_array(F.collect_set(id_col)).alias("docs")
    )
    sizes = (
        idx.select(F.explode("docs").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("set_size"))
    )
    buckets = idx.filter(F.size("docs") > 1)
    if max_doc_freq is not None:
        buckets = buckets.filter(F.size("docs") <= max_doc_freq)
    common = (
        buckets.select(F.explode(_ordered_pairs(F.col("docs"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    with_a = sizes.join(
        F.broadcast(common), sizes[id_col] == common["id_a"]
    ).select("id_a", "id_b", "n_common", F.col("set_size").alias("size_a"))
    return sizes.join(
        F.broadcast(with_a), sizes[id_col] == with_a["id_b"]
    ).select("id_a", "id_b", "n_common", "size_a", F.col("set_size").alias("size_b"))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    text: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over word n-gram shingle sets.

    Plan: map-side per-doc-distinct shingle rows (array_distinct before the
    explode — repeated boilerplate never reaches the exchange) ->
    groupBy(shingle) + collect_set builds the inverted index in ONE shuffle;
    BOTH downstream needs come from that same aggregate — per-doc set sizes
    by exploding the index's doc-sets (each distinct (shingle, doc) once),
    and in-bucket ordered pair generation from multi-doc entries -> pair
    counts. jaccard = common / (|A| + |B| - common).
    Output (id_a < id_b, jaccard).

    Join direction is the 100 TB detail: the pair-count relation is
    O(near-dup candidates) — tiny at any scale — so IT is the broadcast
    side, streamed against the O(n_docs) sizes relation, once per pair
    side. Rejected shapes, all measured at sf0.1 in-process A/B:
    (a) broadcasting the SIZES side (the obvious formulation) — an
    unbounded O(n_docs) broadcast at fleet scale; (b) carrying sizes
    through the index shuffle as (id, size) structs — collect_set/
    sort_array over structs leaves the primitive-array fast path, 4.5x
    slower than the id-only aggregate; (c) materializing the pair list
    with localCheckpoint and recomputing sizes map-side per join — splits
    the plan into jobs that can't share the index exchange, 4x slower.
    The single-query formulation keeps every consumer over ONE shingle
    exchange (ReuseExchange, verified in executedPlan) at parity with (a)'s
    local speed, without its broadcast hazard.
    """
    return (
        _shared_shingle_counts(df, n, text, id_col, max_doc_freq).withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Fixed (a, b) parameters for the universal-hash family
# h_i(x) = (a_i * x + b_i) mod (2^31 - 1); seeded deterministically so the
# oracle can embed the same constants.
def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    params = []
    a, b = 1103515245, 12345  # LCG-style constants, iterated deterministically
    x = 42
    for _ in range(num_perm):
        x = (a * x + b) % ROLLING_HASH_MOD
        pa = x | 1  # odd, nonzero
        x = (a * x + b) % ROLLING_HASH_MOD
        pb = x
        params.append((pa, pb))
    return params


def _permuted_hash_sql(num_perm: int) -> list[str]:
    """SQL text of each permutation (a_i·h + b_i) mod p over a BIGINT
    column or lambda variable ``h`` — shared by the batch groupBy-min and
    the streaming row fold."""
    return [
        f"({pa}L * h + {pb}L) % {ROLLING_HASH_MOD}L"
        for pa, pb in _perm_params(num_perm)
    ]


def _signatures_inner(
    df: DataFrame, n: int, num_perm: int, text: str, id_col: str
) -> DataFrame:
    """Signatures for documents with >= 1 shingle only (no sentinel rows)."""
    # the parsed expressions below resolve `h` and `mh_{i}` by NAME — a
    # caller-supplied id column shadowing one of them would fail at SQL
    # resolution with a far more confusing error than the Column form's
    # (r16 ADVICE): reject the reserved names at entry
    reserved = {"h"} | {f"mh_{i}" for i in range(num_perm)}
    if id_col in reserved:
        raise ValueError(
            f"id_col={id_col!r} collides with the reserved internal "
            f"minhash column names ({{'h', 'mh_0'..'mh_{num_perm - 1}'}}); "
            "rename the id column before calling"
        )
    rows = shingle_rows(df, n, text, id_col)
    hashed = rows.select(F.col(id_col), portable_hash31(F.col("shingle")).alias("h"))
    # r16 construction pass: the num_perm min-aggregates assemble as
    # parsed SQL expression strings — identical arithmetic / equivalent
    # OPTIMIZED plan vs the chained-Column form (the parsed `{pa}L`
    # literals start as BIGINT while the Column form's int32 literals
    # promote at analysis, so the analyzed trees differ until type
    # coercion folds them; values are identical either way — r16
    # ADVICE wording), ~5x cheaper to construct (measured 261 -> 55 ms
    # for 8 perms; the bench times builder construction inside every
    # run, and three registry queries build these signatures).
    aggs = [
        F.expr(f"min({perm}) AS mh_{i}")
        for i, perm in enumerate(_permuted_hash_sql(num_perm))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _band_rows(
    sig: DataFrame, id_col: str, num_perm: int, bands: int, carry: tuple = ()
) -> DataFrame:
    """(id, *carry, bk) — one row per (doc, band) over a signature frame
    (``mh_0..mh_{num_perm-1}`` columns), ``bk = struct(band, key)``. THE
    definition of the LSH band key (the band's rows joined with ``_``): the
    stored :func:`lsh_band_rows` index, the streaming probe
    (``rowwise_band_rows``) and :func:`minhash_lsh_pairs`' buckets all read
    it, so a format drift can never silently empty a stored-index probe.
    Consumers project (lsh_band_rows, rowwise_band_rows) or group
    (minhash_lsh_pairs) on :func:`_band_key`. Grouping on the struct fields
    rather than on a projected (band, key) frame keeps minhash_lsh_pairs'
    executed plan as it was: a projected frame would rename its aggregate
    keys from ``_groupingexpression`` to ``band``/``key``."""
    rows_per_band = num_perm // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("_", *parts).alias("key"))
        )
    return sig.select(
        F.col(id_col), *carry, F.explode(F.array(*band_cols)).alias("bk")
    )


def _band_key() -> list[Column]:
    """The (band, key) columns of a :func:`_band_rows` frame."""
    return [F.col("bk.band").alias("band"), F.col("bk.key").alias("key")]


def _jaccard_at_least(
    pairs: DataFrame, sh_a: str, sh_b: str, threshold: float
) -> DataFrame:
    """THE exact-Jaccard check: ``pairs`` plus a ``jaccard`` column (|A∩B|
    / |A∪B| over the shingle-set array columns ``sh_a``/``sh_b``, computed
    in-row), keeping rows at or above ``threshold``. Empty sets give NaN,
    which the filter drops."""
    inter = F.size(F.array_intersect(F.col(sh_a), F.col(sh_b)))
    union = F.size(F.col(sh_a)) + F.size(F.col(sh_b)) - inter
    return pairs.withColumn(
        "jaccard", inter.cast("double") / union.cast("double")
    ).filter(F.col("jaccard") >= threshold)


def minhash_signatures(
    df: DataFrame,
    n: int = 3,
    num_perm: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per document: for each of ``num_perm`` permutations,
    min over shingles of (a*portable_hash31(shingle)+b) mod p.

    Shape: shingle rows -> one MD5-prefix hash per row -> ``num_perm`` min
    aggregates in ONE hash aggregate on doc_id (reuses the shingle window's
    partitioning — no extra shuffle). Documents with no shingles (shorter
    than n words) get the sentinel signature value p via a left join back to
    the id universe.
    """
    sig = _signatures_inner(df, n, num_perm, text, id_col)
    base = df.select(F.col(id_col))
    # parsed-expression form of the sentinel coalesce (r16 construction
    # pass — same rationale as the permutation aggregates above)
    out_cols = [F.col(id_col)] + [
        F.expr(f"coalesce(mh_{i}, {ROLLING_HASH_MOD}L) AS mh_{i}")
        for i in range(num_perm)
    ]
    return base.join(sig, id_col, "left").select(*out_cols)


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH near-dup candidates, verified with exact Jaccard.

    Band key = the tuple of rows in the band (concatenated); docs sharing any
    band key become candidates, generated by ONE groupBy(band, key) +
    collect_set + in-bucket pair explosion — never a bucket self-join, which
    would make Spark evaluate the whole signature subtree once per join side
    (no common-subplan sharing across join inputs; measured 2x the cost of
    candidate generation). Exact Jaccard then verifies candidates via a
    per-doc shingle-set join: collect each candidate doc's distinct shingle
    set once, broadcast-join both pair sides, intersect arrays in-row. This
    is the 100 TB-shaped plan: candidates ~ O(n·near dups), never O(n²), and
    the verification pass touches only candidate docs.

    The two ``localCheckpoint`` barriers below stay, and so does the
    batch groupBy-min signature. Probes on 4 vCPU: one lazy plan with no
    barrier builds 0 jobs instead of 10 but runs 2.6–2.9 s at sf0.1
    against 1.0–1.5 s, and the streaming path's row-local signatures
    (hashing once per permutation) put inside this plan took it from
    0.61–0.72 s to 2.5–2.8 s."""
    # INNER signatures (no sentinel rows): documents shorter than n words
    # would all share the identical all-sentinel signature, colliding into
    # ONE band bucket — an O(m²) skew bomb when a corpus has many tiny
    # docs. They can never verify (empty shingle sets -> NaN Jaccard, which
    # the >= threshold filter drops), so excluding them BEFORE banding is
    # output-identical and removes the hazard. The public
    # minhash_signatures keeps sentinel rows for signature consumers.
    sig = _signatures_inner(df, n, num_perm, text, id_col)
    buckets = (
        _band_rows(sig, id_col, num_perm, bands)
        .groupBy(*_band_key())
        .agg(F.sort_array(F.collect_set(id_col)).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    cand = (
        buckets.select(F.explode(_ordered_pairs(F.col("docs"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
        # materialization barrier: the candidate set is referenced three
        # times below (pair list + both set-join sides); without one, Spark
        # re-evaluates the whole signature subtree per reference (no
        # common-subplan sharing). localCheckpoint — not persist(): a cached
        # plan freezes pre-AQE shuffles (no coalescing/broadcast conversion
        # under InMemoryRelation), while an eager checkpoint runs the
        # candidate job with AQE and leaves a lineage-free scan. Candidates
        # are O(near-dups) — tiny relative to the corpus at any scale.
        .localCheckpoint(eager=True)
    )
    # exact verification restricted to docs that appear in some candidate
    # pair: candidates ~ O(near-dups), so the expensive shingle-set pass
    # touches a vanishing fraction of the corpus at scale (semi-join first,
    # THEN exact Jaccard — not the other way around)
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    sets = (
        corpus_shingle_sets(cand_docs, n, text, id_col)
        # second materialization barrier: ``sets`` feeds BOTH broadcast sides
        # below, and each broadcast exchange evaluates its subtree
        # independently — without this the executed plan contains TWO full
        # corpus parquet scans (verified via executedPlan at sf0.01), i.e.
        # the semi-join + shingle aggregate runs once per side. Local-mode
        # sf0.1 wall time is job-overhead-bound so the barrier is ~neutral
        # there; at fleet scale one corpus scan vs two dominates. Like
        # ``cand`` the checkpointed relation is O(candidate docs).
        .localCheckpoint(eager=True)
    )
    sets_a = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sets_b = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    pairs = cand.join(F.broadcast(sets_a), "id_a").join(F.broadcast(sets_b), "id_b")
    return _jaccard_at_least(pairs, "sh_a", "sh_b", threshold).select(
        "id_a", "id_b", "jaccard"
    )


def lsh_band_rows(
    df: DataFrame,
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, key) LSH band rows — the unit of a persistable dedup
    index. At fleet scale, compute these once per corpus snapshot and store
    them (parquet partitioned by band); each new ingest batch then probes
    the stored index instead of re-hashing petabytes
    (:func:`incremental_neardup_pairs` accepts them via ``corpus_bands``).
    """
    sig = _signatures_inner(df, n, num_perm, text, id_col)
    return _band_rows(sig, id_col, num_perm, bands).select(id_col, *_band_key())


def corpus_shingle_sets(
    df: DataFrame, n: int = 3, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingles) distinct shingle set per document — the verification
    half of a stored dedup index (band rows generate candidates, shingle
    sets verify exact Jaccard). Persist alongside :func:`lsh_band_rows`
    partitioned/bucketed by id so candidate verification joins prune."""
    return (
        distinct_shingle_rows(df, n, text, id_col)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("shingles"))
    )


def persist_corpus_index(
    corpus: DataFrame,
    prefix: str,
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    text: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 32,
) -> tuple[str, str]:
    """Build and persist the two halves of a corpus dedup index as BUCKETED
    tables: ``{prefix}_bands`` (:func:`lsh_band_rows`, bucketed on
    (band, key)) and ``{prefix}_sets`` (:func:`corpus_shingle_sets`,
    bucketed on the id). Returns the two table names.

    Bucketing is the 100 TB shape for the CONSUMERS of this index: the
    per-micro-batch stream-static candidate join
    (:func:`..streaming.dedup_stream.streaming_neardup_matches`) and the
    per-ingest-batch probe (:func:`incremental_neardup_pairs`) join on
    exactly the bucket keys, so the corpus side of those joins is
    EXCHANGE-FREE — the index shuffle is paid once here, at snapshot build,
    not on every batch against a 100 TB corpus.

    The LSH parameters (n, num_perm, bands) are persisted alongside as
    ``{prefix}_params``: an index probed with mismatched parameters yields
    silently-empty candidates (different hash family → disjoint band
    keys), so :func:`load_corpus_index` validates them and raises instead.

    Snapshot-refresh contract: the index is FROZEN at build time. Corpus
    docs appended after the snapshot are invisible to consumers until the
    index is rebuilt (or their band/set rows are appended via the same
    functions with ``mode='append'`` write semantics upstream) — see
    tests/test_streaming.py::test_corpus_index_refresh_contract for both
    sides of the contract.

    Refresh atomicity: the three tables cannot be swapped in one atomic
    commit on a plain parquet catalog, so each refresh stamps a fresh
    ``snapshot`` id (uuid) as a TBLPROPERTY on both halves (metadata-only
    — no extra column, no scan cost) and writes ``{prefix}_params``
    LAST, carrying the same id. :func:`load_corpus_index` cross-checks
    all three: a consumer that catches a mid-refresh state (new bands
    with old sets, or params from the previous build) sees mismatched
    snapshot ids and gets a ValueError instead of silently wrong
    candidates. Param validation alone cannot catch this — (n, num_perm,
    bands) are typically unchanged across refreshes of the same family.
    """
    import uuid

    from ..catalog import write_bucketed

    spark = corpus.sparkSession
    snapshot = uuid.uuid4().hex
    write_bucketed(
        lsh_band_rows(corpus, n, num_perm, bands, text, id_col),
        f"{prefix}_bands",
        ["band", "key"],
        n_buckets=n_buckets,
    )
    write_bucketed(
        corpus_shingle_sets(corpus, n, text, id_col),
        f"{prefix}_sets",
        id_col,
        n_buckets=n_buckets,
    )
    for half in ("bands", "sets"):
        spark.sql(
            f"ALTER TABLE {prefix}_{half} "
            f"SET TBLPROPERTIES ('w4h.index.snapshot' = '{snapshot}')"
        )
    # params last: its snapshot id certifies both halves above are committed
    spark.createDataFrame(
        [(int(n), int(num_perm), int(bands), snapshot)],
        "n int, num_perm int, bands int, snapshot string",
    ).write.format("parquet").mode("overwrite").saveAsTable(f"{prefix}_params")
    return f"{prefix}_bands", f"{prefix}_sets"


def _table_snapshot(spark, table: str) -> str | None:
    """Read the ``w4h.index.snapshot`` TBLPROPERTY of ``table`` (None for
    pre-snapshot indexes, so old indexes remain loadable)."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    for r in rows:
        if r["key"] == "w4h.index.snapshot":
            return r["value"]
    return None


def load_corpus_index(
    spark,
    prefix: str,
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Load a persisted corpus index, VALIDATING that (a) it was built with
    the expected (n, num_perm, bands) — a mismatched index produces
    silently empty/wrong candidates (disjoint hash families) — and (b) the
    two halves plus params carry the SAME snapshot id, so a load that
    races a concurrent :func:`persist_corpus_index` refresh (new bands
    with old sets) raises instead of returning mismatched halves. Returns
    (corpus_bands, corpus_sets) DataFrames whose bucketed layout makes the
    downstream candidate joins exchange-free on the corpus side."""
    stored = spark.table(f"{prefix}_params").collect()[0]
    got = (stored["n"], stored["num_perm"], stored["bands"])
    if got != (n, num_perm, bands):
        raise ValueError(
            f"corpus index '{prefix}' was built with (n, num_perm, bands)="
            f"{got} but caller expects {(n, num_perm, bands)}; probing with "
            "a mismatched hash family yields silently empty candidates — "
            "rebuild the index (persist_corpus_index) or match its params"
        )
    expected_snap = stored["snapshot"] if "snapshot" in stored.__fields__ else None
    if expected_snap is not None:
        halves = {
            half: _table_snapshot(spark, f"{prefix}_{half}")
            for half in ("bands", "sets")
        }
        if any(snap != expected_snap for snap in halves.values()):
            raise ValueError(
                f"corpus index '{prefix}' halves are from different "
                f"snapshots (params={expected_snap}, bands="
                f"{halves['bands']}, sets={halves['sets']}) — a refresh "
                "is in flight or failed mid-write; retry the load after "
                "persist_corpus_index completes"
            )
    return spark.table(f"{prefix}_bands"), spark.table(f"{prefix}_sets")


def incremental_neardup_pairs(
    corpus: DataFrame,
    increment: DataFrame,
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    text: str = "text",
    id_col: str = "doc_id",
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Continuous-ingestion dedup: near-dup pairs between a NEW batch and an
    EXISTING corpus — (new_id, corpus_id, jaccard) for every increment doc
    whose exact Jaccard with some corpus doc reaches ``threshold``. Batch
    docs matching nothing (the keepers) are the increment anti-joined on
    ``new_id``.

    The shape continuous training-data ingestion needs, and the one
    :func:`minhash_lsh_pairs` (whole-corpus self-dedup) deliberately is not:

    - **the corpus NEVER self-joins** — its band rows exist only as the
      probe side of a broadcast join against the increment's band index,
      so candidate cost is O(increment·bands), independent of corpus size;
    - **the increment side broadcasts** (an ingest batch is small by
      definition relative to the corpus);
    - **corpus bodies never shuffle** — signature aggregation moves only
      (id, num_perm ints) partials map-side-combined, and exact-Jaccard
      verification re-reads text for CANDIDATE docs only (semi-join first);
    - **the corpus pass is amortizable**: pass ``corpus_bands`` (stored
      :func:`lsh_band_rows` output) and the corpus is touched only for
      candidate verification.

    Within-increment duplicates are a separate concern: run
    :func:`minhash_lsh_pairs` over the (small) increment itself.

    A stored ``corpus_bands`` must have been built with THE SAME
    (n, num_perm, bands) — a mismatched hash family produces silently
    empty candidates. Schema is guarded here (metadata-only check);
    parameter provenance is what :func:`load_corpus_index` validates —
    prefer it over passing a bare DataFrame.
    """
    if corpus_bands is None:
        corpus_bands = lsh_band_rows(corpus, n, num_perm, bands, text, id_col)
    else:
        need = {id_col, "band", "key"}
        if not need.issubset(set(corpus_bands.columns)):
            raise ValueError(
                f"corpus_bands must have columns {sorted(need)} (the "
                f"lsh_band_rows layout), got {corpus_bands.columns}; build "
                "it with lsh_band_rows/persist_corpus_index and load via "
                "load_corpus_index so (n, num_perm, bands) are validated"
            )
    inc_bands = lsh_band_rows(increment, n, num_perm, bands, text, id_col)
    cand = (
        corpus_bands.withColumnRenamed(id_col, "corpus_id")
        .join(
            F.broadcast(inc_bands.withColumnRenamed(id_col, "new_id")),
            ["band", "key"],
        )
        .select("new_id", "corpus_id")
        .distinct()
        # same barrier rationale as minhash_lsh_pairs (and the same probe:
        # a barrier-free lazy plan runs slower there): the candidate set
        # feeds three consumers below; candidates are O(near-dups)
        .localCheckpoint(eager=True)
    )

    def _sets(side: DataFrame, side_id: str, sh: str) -> DataFrame:
        ids = cand.select(F.col(side_id).alias(id_col)).distinct()
        docs = side.join(F.broadcast(ids), id_col, "left_semi")
        return corpus_shingle_sets(docs, n, text, id_col).select(
            F.col(id_col).alias(side_id), F.col("shingles").alias(sh)
        )

    pairs = cand.join(F.broadcast(_sets(increment, "new_id", "sh_n")), "new_id").join(
        F.broadcast(_sets(corpus, "corpus_id", "sh_c")), "corpus_id"
    )
    return _jaccard_at_least(pairs, "sh_n", "sh_c", threshold).select(
        "new_id", "corpus_id", "jaccard"
    )


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the number of distinct
    word n-grams it shares with ANY benchmark document — the standard
    "remove eval-set overlap from training data" pass.

    Plan shape (the 100 TB-relevant part): the benchmark side is tiny
    relative to the corpus, so its distinct gram set BROADCASTS; the corpus
    side's per-document distinct grams come from a map-side
    ``array_distinct`` on the assembled gram array (each doc is one row —
    no shuffle needed to dedup within a doc), so the join happens inside
    the scan stage and the only exchange is the final per-document count
    aggregate. Returns (id, n_hits) for contaminated documents only
    (n_hits >= 1); clean documents are absent.
    """
    bench = shingle_rows(benchmark, n, text, id_col).select("shingle").distinct()
    corp = distinct_shingle_rows(corpus, n, text, id_col)
    return (
        corp.join(F.broadcast(bench), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


# Bloom bitmaps above this size would embed a multi-MB literal in the plan;
# at that point the benchmark gram set is large enough that the plain
# broadcast-join of :func:`contamination` is the right tool anyway.
_BLOOM_MAX_BITS = 1 << 24


_BLOOM_MAX_K = 64
_H31_MASK = (1 << 31) - 1


def _bloom_positions(gram: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions of a gram via Kirsch-Mitzenmacher double
    hashing: pos_i = (h1 + i·h2) mod m from TWO seeded xxhash64 hashes
    masked to 31 bits (h2 forced odd) — same asymptotic false-positive
    rate as k independent hashes (Kirsch & Mitzenmacher 2006) at half
    the hash cost. xxhash64 is JVM-native inside whole-stage codegen;
    the r6 MD5-prefix family cost ~3x more per gram and bought nothing:
    no oracle ever recomputes bloom positions (the gate checks exact
    twins + contract flags), so engine portability is not required here
    — build and probe just MUST both come from this one function.
    Overflow-safe for the validated k range: h1 + (k−1)·h2 ≤
    2^31 + 63·2^32 < 2^38."""
    h1 = F.xxhash64(gram, F.lit(0x5BA1)).bitwiseAND(F.lit(_H31_MASK))
    h2 = (
        F.xxhash64(gram, F.lit(0xB10B)).bitwiseAND(F.lit(_H31_MASK))
        * F.lit(2)
        + F.lit(1)
    )
    return [(h1 + F.lit(i) * h2) % F.lit(m_bits) for i in range(k)]


def _validate_bloom_params(m_bits: int, k: int) -> None:
    if m_bits % 64 != 0 or m_bits <= 0 or m_bits > _BLOOM_MAX_BITS:
        raise ValueError(
            f"m_bits must be a positive multiple of 64 <= {_BLOOM_MAX_BITS}, "
            f"got {m_bits}"
        )
    # k bounds keep the Kirsch-Mitzenmacher position arithmetic inside
    # int64 (see _bloom_positions) — uncapped k would overflow before
    # the mod and probe garbage positions
    if not 1 <= k <= _BLOOM_MAX_K:
        raise ValueError(f"k must be in [1, {_BLOOM_MAX_K}], got {k}")


def _bloom_probe(
    grams: DataFrame, bitmap: list[int], m_bits: int, k: int
) -> tuple[DataFrame, Column]:
    """THE Bloom membership test over a frame of ``shingle`` rows: checks
    (bitmap, m_bits, k) agree, then returns ``grams`` with the k positions
    (``_pos``) and the packed bitmap literal (``_bm``, int64 words
    little-endian, so global bit p lives at byte p/8, bit p%8) attached,
    plus the Column that is true when all k bits are set."""
    _validate_bloom_params(m_bits, k)
    if len(bitmap) * 64 != m_bits:
        raise ValueError(
            f"bitmap has {len(bitmap)} words but m_bits={m_bits} needs "
            f"{m_bits // 64} — (bitmap, m_bits, k) must come from the same "
            "gram_bloom_bitmap call"
        )
    packed = b"".join(w.to_bytes(8, "little", signed=True) for w in bitmap)
    # materialize the k positions ONCE into an array column (the two
    # hashes evaluate once each), then test bits with a forall over it —
    # byte fetch is substring-on-binary + hex/conv (no direct binary
    # bit_get in Spark); variable shift amounts live in an expr because
    # the PySpark shift wrappers only accept literal shift counts
    all_set = F.expr(
        "forall(_pos, p -> "
        "(shiftright(CAST(conv(hex(substring(_bm, CAST(p / 8 AS INT) + 1, 1)), "
        "16, 10) AS INT), CAST(p % 8 AS INT)) & 1) = 1)"
    )
    probed = grams.withColumn(
        "_pos", F.array(*_bloom_positions(F.col("shingle"), m_bits, k))
    ).withColumn("_bm", F.lit(packed))
    return probed, all_set


def gram_bloom_bitmap(
    benchmark: DataFrame,
    n: int = 3,
    m_bits: int = 1 << 20,
    k: int = 4,
    text: str = "text",
    id_col: str = "doc_id",
) -> list[int]:
    """Build a Bloom-filter bitmap over the benchmark's distinct word
    n-grams, returned as a dense ``m_bits/64``-long list of int64 words.

    The scale story vs :func:`contamination`'s broadcast gram set: the
    bitmap is ``m_bits/8`` bytes REGARDLESS of gram count (1 Mbit ≈ 128 KB
    vs tens of MB of raw gram strings at ~1% false-positive rate when
    m_bits ≳ 10·grams, k=4), and the corpus probe becomes pure map-side
    bit math — no join at all, not even a broadcast hash table, so the
    probe stage stays in one codegen span. Guarantee: NO false negatives
    (every truly contaminated doc is flagged); false positives are the
    rent, bounded by the classic (1-e^(-kn/m))^k.

    Build plan: one distinct-gram pass + one hash aggregate on the word
    index (≤ m_bits/64 groups); the collect is bounded by the bitmap size
    (cap enforced), the same bounded-collect pattern as the IVF centroid
    cap. For benchmark sets big enough to breach the cap, use
    :func:`contamination` — by then the broadcast join is the better plan.
    """
    _validate_bloom_params(m_bits, k)
    grams = shingle_rows(benchmark, n, text, id_col).select("shingle").distinct()
    pos = F.explode(F.array(*_bloom_positions(F.col("shingle"), m_bits, k)))
    words = (
        grams.select(pos.alias("_p"))
        .select(
            (F.col("_p") / 64).cast("int").alias("_word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))").alias(
                "_bit"
            ),
        )
        .groupBy("_word")
        .agg(F.bit_or("_bit").alias("_bits"))
        .collect()
    )
    bitmap = [0] * (m_bits // 64)
    for r in words:
        bitmap[r["_word"]] = r["_bits"]
    return bitmap


def bloom_contamination(
    corpus: DataFrame,
    bitmap: list[int],
    m_bits: int,
    k: int = 4,
    n: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe side of Bloom decontamination: per corpus document, the number
    of distinct word n-grams whose k Bloom bits are ALL set in ``bitmap``
    (built by :func:`gram_bloom_bitmap` with the SAME (n, m_bits, k) —
    mismatched parameters silently probe garbage, so pass them together).

    Superset semantics: result ⊇ :func:`contamination`'s on the same
    split (no false negatives); each flagged doc still costs a re-check
    against the real benchmark if exactness matters — the filter's job is
    to shrink that candidate set by ~the clean fraction.

    Plan: entirely map-side — shingle assembly, k seeded hashes, and the
    bitmap test are one codegen'd expression over a plan-embedded
    constant; the ONLY exchange is the final per-doc count, same as
    :func:`contamination` but with zero build-side broadcast.

    The bitmap travels as ONE binary literal (m_bits/8 bytes, int64
    words packed little-endian so global bit p lives at byte p/8, bit
    p%8). The r6 shape embedded it as a 16K-element array literal —
    Catalyst spent ~6 s ANALYZING the 16K-child CreateArray on every
    fresh plan construction (measured sf0.1: 9.8 s fresh vs 3.3 s
    pre-built plan, identical execution). A single binary literal is
    O(1) to analyze at any m_bits.
    """
    grams, all_set = _bloom_probe(
        distinct_shingle_rows(corpus, n, text, id_col), bitmap, m_bits, k
    )
    return (
        grams.filter(all_set)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )


def contamination_with_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    bitmap: list[int],
    m_bits: int,
    k: int = 4,
    n: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact AND Bloom contamination counts per corpus document from ONE
    gram pass — the fused form of ``contamination(corpus, benchmark)``
    full-outer-joined with ``bloom_contamination(corpus, bitmap)``.

    Output is row-for-row identical to that composition: (id, n_hits,
    n_bloom_hits) for every doc with at least one exact hit OR one Bloom
    hit; a count is NULL when that side has no hits for the doc (the
    full-outer join's absent-row semantics). Both counts are taken over
    the SAME per-doc distinct gram set, so the law n_bloom_hits >=
    n_hits (no false negatives) is preserved by construction.

    Why fused (r16 optimization round): the composed plan assembled and
    exploded the corpus grams TWICE — once per side — and merged the two
    per-doc frames with a full-outer sort-merge join (FullOuter cannot
    broadcast). The gram assembly is the dominant corpus-side cost at
    scale, so the composition paid 2x the only expensive pass and added
    two sorts + one exchange for the merge. Here the Bloom probe (pure
    map-side bit math) and the benchmark-gram broadcast join annotate
    the SAME gram rows, and one hash aggregate per doc emits both
    counts: 1 corpus gram pass, 1 exchange, no sort-merge join.
    """
    grams, all_set = _bloom_probe(
        distinct_shingle_rows(corpus, n, text, id_col), bitmap, m_bits, k
    )
    bench_grams = (
        shingle_rows(benchmark, n, text, id_col)
        .select("shingle")
        .distinct()
        .withColumn("_exact", F.lit(1).cast("long"))
    )
    per_gram = grams.withColumn("_bloom", all_set.cast("long")).join(
        F.broadcast(bench_grams), "shingle", "left"
    )
    agg = per_gram.groupBy(id_col).agg(
        # sum over {1, NULL} is NULL when no gram matched — exactly the
        # absent-row (NULL) semantics of the full-outer composition
        F.sum("_exact").alias("n_hits"),
        F.sum("_bloom").alias("_nb"),
    )
    return agg.select(
        id_col,
        "n_hits",
        F.when(F.col("_nb") > 0, F.col("_nb")).alias("n_bloom_hits"),
    ).filter(F.col("n_hits").isNotNull() | F.col("n_bloom_hits").isNotNull())


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 2,
    min_doc_frac: float = 0.05,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level boilerplate detection: word n-grams present in more than
    ``min_doc_frac`` of all documents — the CCNet-style removal list
    (headers, footers, license blurbs repeat across documents; content
    doesn't).

    Plan: per-doc-distinct gram rows map-side, ONE hash aggregate on the
    gram for distinct-document frequency, corpus size broadcast as a
    scalar. Returns (shingle, df) for hot grams only.
    """
    rows = distinct_shingle_rows(df, n, text, id_col)
    total = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    dfreq = rows.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        dfreq.join(F.broadcast(total))
        .filter(F.col("df") > F.col("_n_docs") * min_doc_frac)
        .select("shingle", "df")
    )


def simhash32(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash over word MD5-prefix hashes: bit b of the fingerprint is 1
    iff the +1/-1 vote sum over words for bit b is positive. Near-duplicate
    docs differ in few bits (compare via Hamming distance downstream).

    Shape: explode words -> one MD5-prefix hash per word row -> 32 plain bit
    sums + one count in one hash aggregate per doc -> bit assembly. The ±1
    vote is algebraic: sign(sum votes_b) > 0 ⇔ 2*ones_b > n, so the
    aggregate is unconditional bit extraction (half the expression tree of
    the when/otherwise vote form — measured 2.7x faster cold, ~20% warm,
    bit-identical output). All codegen'd; one shuffle on doc_id.
    """
    words = F.split(F.trim(F.col(text)), r"\s+")
    hrows = df.select(F.col(id_col), F.explode(words).alias("word")).select(
        F.col(id_col), portable_hash32(F.col("word")).alias("h")
    )
    # The 32 bit-sums and the 32-way bit assembly are built as THREE parsed
    # SQL expression strings instead of ~100 chained Column calls: the
    # arithmetic is token-identical (sum(shiftright(h,b)&1) per lane;
    # if(2*s_b > n, 1<<b, 0) assembly), but plan CONSTRUCTION drops from
    # ~0.9 s of py4j round-trips to ~0.1 s (r16 construction pass; the
    # executed aggregate — 32 partial sums, one exchange — is unchanged).
    sums = ", ".join(f"sum(shiftright(h, {b}) & 1)" for b in range(32))
    votes = hrows.groupBy(id_col).agg(
        F.expr("count(1) AS _nw"),
        F.expr(f"array({sums}) AS sv"),
    )
    assemble = " + ".join(
        f"if(2 * sv[{b}] > _nw, {1 << b}L, 0L)" for b in range(32)
    )
    return votes.select(F.col(id_col), F.expr(f"({assemble}) AS simhash"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every node
    labeled with the smallest id reachable from it — the canonicalization
    step that turns pairwise near-dup hits into dedup groups ("keep the
    min-id doc per component").

    Min-label propagation: each round every node takes the min of its own
    label and its neighbors' labels, materialized per round (eager
    localCheckpoint — iterative lineage otherwise grows exponentially and
    re-executes every prior round per reference), stopping when a round
    changes nothing. Rounds needed = component diameter, which for
    near-dup graphs is tiny (clusters are dense blobs, not paths). For
    adversarially long chains swap in large-star/small-star contraction
    (O(log n) rounds, same per-round shape: one self-join on labels + one
    min-aggregate — both on the (node, label) relation, never the corpus).

    Returns (node, component) where component = min node id in the
    component; isolated nodes never enter ``pairs`` and are absent.

    Adaptive dispatch: near-dup pair graphs are usually MUCH smaller than
    the corpus (that is the point of LSH), so when the pair count is within
    ``driver_threshold`` the graph is collected and closed with union-find
    on the driver — microseconds of CPU instead of ~3 Spark jobs per
    propagation round. The distributed path remains for genuinely large
    graphs (set ``driver_threshold=0`` to force it, as the tests do).
    """
    rows = (
        pairs.select(id_a, id_b).take(driver_threshold + 1)
        if driver_threshold
        else None
    )
    if rows is not None and len(rows) <= driver_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r[0], r[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for node in parent:
            root = find(node)
            m = comp_min.get(root)
            if m is None or node < m:
                comp_min[root] = node
        out = [(node, comp_min[find(node)]) for node in parent]
        # provably <= driver_threshold rows, so the producer hints it for
        # broadcast: createDataFrame's LogicalRDD reports Long.MaxValue
        # size stats, and an unhinted join would broadcast the OTHER side.
        # The distributed relation's size is unknown and stays unhinted.
        return pairs.sparkSession.createDataFrame(
            out, "node long, component long"
        ).hint("broadcast")
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("nbr_min"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("nbr_min")).alias("component"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, labels["node"] == nbr["u"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def source_ngram_overlap(
    docs: DataFrame,
    n: int = 2,
    text: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Pairwise content overlap between corpus slices: exact Jaccard of
    the distinct word n-gram sets of every pair of ``group_col`` values —
    the provenance question behind mixture design ("are these two crawls
    the same content?") and leakage checks between pipeline stages, at
    slice granularity where doc-level near-dup (MinHash/SimHash above)
    is too fine.

    Plan: per-doc-distinct gram rows map-side (no boilerplate
    inflation), ONE aggregate to slice-level gram sets, set sizes as a
    broadcast side, and the pair intersection via a gram-keyed self-join
    — per-gram work is bounded by C(slices-present, 2), so the join
    explodes by at most slices² per gram, never by corpus size. At many
    thousands of slices, cap ubiquitous grams first (the hot-shingle cap
    in :func:`shingle_index`) — a gram in EVERY slice contributes
    nothing to ranking overlaps but dominates the join."""
    rows = (
        distinct_shingle_rows(docs, n, text, id_col=group_col)
        .groupBy(group_col, "shingle")
        .agg(F.lit(1).alias("_one"))
        # r16: this slice-gram relation feeds FOUR consumers (the size
        # aggregate and both self-join sides) — un-materialized, each
        # re-ran the whole corpus gram assembly + aggregate. One
        # checkpoint of the (slice, distinct-gram) relation — gram-set
        # scale, already far smaller than the corpus — replaces three
        # redundant corpus passes.
        .localCheckpoint(eager=True)
    )
    sizes = rows.groupBy(group_col).agg(F.count(F.lit(1)).alias("_sz"))
    a = rows.select(F.col(group_col).alias("source_a"), "shingle")
    b = rows.select(F.col(group_col).alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter_grams"))
    )
    sa = sizes.select(F.col(group_col).alias("source_a"), F.col("_sz").alias("_na"))
    sb = sizes.select(F.col(group_col).alias("source_b"), F.col("_sz").alias("_nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "inter_grams",
            (F.col("_na") + F.col("_nb") - F.col("inter_grams")).alias("union_grams"),
            (
                F.round(
                    F.col("inter_grams").cast("double")
                    / (F.col("_na") + F.col("_nb") - F.col("inter_grams")).cast("double")
                    * 1e6,
                    0,
                )
                / 1e6
            ).alias("jaccard"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 5,
    threshold: float = 0.8,
    text: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Containment near-duplicates: pairs where the SMALLER document's
    shingle set is (mostly) a subset of the larger's — containment =
    |A∩B| / min(|A|, |B|). The metric Jaccard misses by design: a tweet
    quoted inside a long article scores ~0 Jaccard (union dominated by
    the article) but ~1 containment — the snippet-inclusion /
    quote-extraction dedup semantic (cf. Broder's resemblance vs
    containment distinction).

    Same single-shingle-exchange shape as :func:`ngram_jaccard_pairs`:
    both apply their metric to :func:`_shared_shingle_counts`.
    """
    return (
        _shared_shingle_counts(df, n, text, id_col, max_doc_freq).withColumn(
            "containment",
            F.col("n_common")
            / F.least(F.col("size_a"), F.col("size_b")).cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def golden_record(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    rank_cols: tuple[str, ...] = ("n_chars",),
) -> DataFrame:
    """Survivorship merge over exact-duplicate clusters: group documents
    by content hash and elect one golden row per cluster — the step after
    dedup DETECTION that record-linkage pipelines actually ship. Election
    is deterministic: highest ``rank_cols`` (in order), then LOWEST id —
    never "whichever partition answered first".

    Emits (content_key, golden_id, n_members, min_id, max_id) plus the
    winning row's rank columns. Plan: ONE exchange on the content hash
    shared by the window election and the membership aggregate (same
    clustering), no join-back — the classic argmax-without-self-join
    shape used throughout this engine.

    NULL-text rows pass through as singleton clusters (content_key NULL,
    n_members 1) rather than hashing to a shared NULL key — grouping
    them would elect one "golden" row among unrelated contentless
    documents and mark the rest duplicates, the same trap
    ``exact_duplicates`` guards against. A synthetic per-row grouping
    key (the id) isolates them while keeping the single exchange.
    """
    from pyspark.sql import Window

    keyed = df.select(
        F.md5(F.col(text)).alias("content_key"),
        # NULL text must not cluster together: group those rows by their
        # own id so each is its own singleton cluster.
        F.when(
            F.col(text).isNull(),
            F.concat(F.lit("\x00null\x00"), F.col(id_col).cast("string")),
        )
        .otherwise(F.md5(F.col(text)))
        .alias("_grp"),
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in rank_cols],
    )
    w = Window.partitionBy("_grp").orderBy(
        *[F.desc(c) for c in rank_cols], F.asc("_id")
    )
    wall = Window.partitionBy("_grp")
    return (
        keyed.select(
            "content_key",
            "_id",
            *rank_cols,
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wall).alias("n_members"),
            F.min("_id").over(wall).alias("min_id"),
            F.max("_id").over(wall).alias("max_id"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "content_key",
            F.col("_id").alias("golden_id"),
            F.col("n_members").cast("long").alias("n_members"),
            "min_id",
            "max_id",
            *rank_cols,
        )
    )


def _window_hash_rows(
    df: DataFrame,
    k: int,
    text: str,
    id_col: str,
    stride: int,
) -> DataFrame:
    """(id, pos, h1, h2) rows: one row per token position whose k-token
    window survives selection; ``pos`` is the 0-based start token index in
    normalized (``\\s+``-split) token space.

    Map-side end to end: each window's k-token SLICE of the word array
    is hashed directly (xxhash64 hashes complex types element-wise) with
    TWO independent seeds — a 128-bit composite key, so at corpus scale
    (10^13 windows) hash-equality IS content-equality for dedup purposes
    (single-64-bit birthday collisions start at ~4B windows; the pair
    pushes false-positive mass to ~10^-12 of pairs). Hashing the slices
    skips the concat_ws string assembly the shingle family uses —
    measured ~17% faster warm at 6.9M windows with identical key
    distributions (the string and slice forms are both injective over
    space-free tokens). Bodies never leave the scan stage: only
    (id, pos, 2x8 bytes) rows reach any exchange.

    ``stride`` > 1 applies CONTENT-DEFINED sampling — keep position p iff
    ``h1 % stride == 0`` — cutting exchange volume ~stride-fold. Because
    selection depends only on window CONTENT, both copies of a duplicated
    run keep the same relative offsets (a fixed positional stride would
    miss copies whose alignment differs mod stride). The guarantee is
    probabilistic: a duplicated run of L tokens carries L-k+1 windows and
    is missed only if none selects, prob (1-1/stride)^(L-k+1) — e.g.
    stride 8, run k+63: <0.02%. Winnowing would make this deterministic
    at O(n*stride) extra Column work per position; mod-selection is free
    (one filter on the already-computed hash).
    """
    slices = (
        f"CASE WHEN size(_w) >= {k} THEN "
        f"transform(sequence(1, size(_w) - {k - 1}), "
        f"p -> slice(_w, p, {k})) "
        f"ELSE array() END"
    )
    words = _ws_tokens(F.col(text))
    rows = (
        df.select(F.col(id_col).alias("_id"), words.alias("_w"))
        .select(
            F.col("_id"),
            F.expr(f"posexplode({slices}) AS (pos, _g)"),
        )
        .select(
            "_id",
            "pos",
            F.xxhash64(F.col("_g")).alias("h1"),
            F.xxhash64(F.lit(0x5EED), F.col("_g")).alias("h2"),
        )
    )
    if stride > 1:
        rows = rows.filter(F.pmod(F.col("h1"), F.lit(stride)) == 0)
    return rows


def duplicated_spans(
    df: DataFrame,
    k: int = 20,
    stride: int = 1,
    within_doc: bool = False,
    merge_gap: int | None = None,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional duplicated-span detection (the ExactSubstr shape from
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): maximal token intervals whose k-token windows also occur in
    ANOTHER document (or, with ``within_doc``, elsewhere in the same one).
    Document-level dedup (MinHash/SimHash) misses partially-copied text —
    a quote, a license block, a syndicated paragraph inside an otherwise
    unique page; this finds the copied REGION so :func:`strip_duplicated_spans`
    can cut it while keeping the unique remainder.

    Returns (id, start_tok, end_tok, n_matched): 0-based token interval
    [start_tok, end_tok) in normalized token space, n_matched = matched
    window starts merged into it. Adjacent/overlapping matched windows
    merge when their starts differ by <= merge_gap (default k + 4*(stride
    - 1): exact mode merges exactly the overlapping-or-adjacent windows;
    sampled mode adds slack for selection gaps — the slack means two
    DISTINCT duplicated regions separated by fewer than merge_gap - k
    unique tokens can merge into one interval that includes those unique
    tokens, so stride=1 is the surgical setting and stride>1 trades edge
    exactness for exchange volume). Docs shorter than k tokens emit
    nothing.

    Scale shape (100 TB honest): per-position rows are unavoidable for
    positional output — the design spends everything on keeping them
    narrow and the aggregation skew-proof.

    - Window assembly + hashing is map-side (shingle_rows discipline);
      only (id, pos, h1, h2) ~28-byte rows ever shuffle, never text.
    - Duplicate detection is ONE hash aggregate on (h1, h2) computing
      min(id)/max(id)/count — all map-side-combinable partials, so the
      hottest boilerplate hash folds to one row per input partition
      BEFORE the exchange (a window/partitionBy formulation would funnel
      every occurrence of a hot hash through one task; rejected).
    - Cross-doc duplication is min(id) != max(id) — distinct-doc >= 2
      without a countDistinct (which would disable partial aggregation).
    - The join-back is a semi join of position rows against the (small)
      duplicated-hash set; AQE picks broadcast when it fits and splits
      skewed SMJ partitions when it doesn't.
    - Island merge runs under ONE exchange on id; the final (id, island)
      aggregate reuses the window's hash-partitioning (grouping on a
      superset of the partition key adds no exchange).
    - ``stride`` trades recall floor for exchange volume: content-defined
      1/stride sampling of positions (see :func:`_window_hash_rows`), for
      corpora where even 28-byte rows dominate the shuffle.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    gap = merge_gap if merge_gap is not None else k + 4 * (stride - 1)
    from pyspark.sql import Window

    rows = _window_hash_rows(df, k, text, id_col, stride)
    stats = rows.groupBy("h1", "h2").agg(
        F.min("_id").alias("_lo"),
        F.max("_id").alias("_hi"),
        F.count(F.lit(1)).alias("_n"),
    )
    dup = F.col("_lo") != F.col("_hi")
    if within_doc:
        dup = dup | (F.col("_n") >= 2)
    hot = stats.filter(dup).select("h1", "h2")
    matched = rows.join(hot, ["h1", "h2"], "left_semi").select("_id", "pos")

    w = Window.partitionBy("_id").orderBy("pos")
    brk = (
        F.when(F.col("pos") - F.lag("pos").over(w) > gap, F.lit(1))
        .otherwise(F.lit(0))
    )
    islands = matched.select(
        "_id", "pos", F.sum(brk).over(w).alias("_island")
    )
    return islands.groupBy("_id", "_island").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + k).alias("end_tok"),
        F.count(F.lit(1)).alias("n_matched"),
    ).select(
        F.col("_id").alias(id_col), "start_tok", "end_tok", "n_matched"
    )


def strip_duplicated_spans(
    df: DataFrame,
    spans: DataFrame | None = None,
    k: int = 20,
    stride: int = 1,
    within_doc: bool = False,
    merge_gap: int | None = None,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut duplicated spans out of document text: every token inside a
    :func:`duplicated_spans` interval is dropped and the remainder
    re-joined with single spaces. Pass a precomputed ``spans`` frame to
    reuse one detection pass across consumers (or to strip with a policy-
    filtered subset, e.g. only spans longer than N tokens); otherwise
    detection runs here with (k, stride, within_doc).

    Documents WITH spans come back whitespace-normalized (token space is
    ``\\s+``-split, so reassembly is single-space-joined); documents
    without any span keep their original ``text`` byte-for-byte.

    Cut exactness depends on how the spans were detected: with
    ``stride=1`` every token inside an interval is provably covered by a
    duplicated window, so the cut removes duplicated text only. With
    ``stride > 1`` intervals carry the sampled-mode merge slack (see
    :func:`duplicated_spans`): two distinct duplicated regions separated
    by fewer than ``merge_gap - k`` unique tokens can merge, and the cut
    then removes those in-between unique tokens too. For surgical
    precision detect with ``stride=1``; use sampling when corpus-scale
    exchange volume matters more than edge-exact cuts.

    Scale shape: span intervals aggregate to ONE array row per affected
    doc (affected docs << corpus), then a single join back onto the
    corpus — AQE broadcasts the span side when it fits. The cut itself is
    a pure-Column indexed ``filter`` + ``exists`` over the interval array
    (O(tokens x intervals-per-doc) inside codegen, no Python).
    """
    if "_ivs" in df.columns:
        raise ValueError(
            "input already has a column named '_ivs' (reserved for the "
            "span-interval join); rename it before stripping"
        )
    if spans is None:
        spans = duplicated_spans(
            df, k, stride=stride, within_doc=within_doc,
            merge_gap=merge_gap, text=text, id_col=id_col,
        )
    ivs = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_ivs")
    )
    joined = df.join(ivs, id_col, "left")
    # same token space as detection (_ws_tokens): positional cut indexes
    # must line up with _window_hash_rows' pos or the wrong tokens die
    toks = _ws_tokens(F.col(text))
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_ivs"),
            lambda iv: (i >= iv["start_tok"]) & (i < iv["end_tok"]),
        ),
    )
    return joined.select(
        *[
            F.when(F.col("_ivs").isNotNull(), F.concat_ws(" ", kept))
            .otherwise(F.col(text))
            .alias(text)
            if c == text
            else F.col(c)
            for c in df.columns
        ]
    )


def duplicate_paragraphs(
    df: DataFrame,
    sep: str = r"\n",
    min_chars: int = 1,
    within_doc: bool = False,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-granularity exact dedup (the CCNet/Dolma shape): flag
    every split unit whose whitespace-trimmed body also occurs in ANOTHER
    document (or, with ``within_doc``, elsewhere in the corpus including
    the same document). The third granularity of the dedup family — doc
    level (exact/MinHash/SimHash) misses a copied paragraph inside a
    unique page; token-window spans (:func:`duplicated_spans`) find
    arbitrary copied regions at per-position cost; this is the cheap
    middle: one row per paragraph, exact matching, unit boundaries from
    the document itself.

    ``sep`` is the unit-splitting regex — the ``r"\\n"`` default gives
    line/paragraph dedup on newline-delimited text; use ``r"\\n\\n+"``
    for blank-line-delimited paragraphs. Units are matched on their
    fully-trimmed body (leading/trailing whitespace never distinguishes
    copies) but reported by their RAW split index, so
    :func:`strip_duplicate_paragraphs` can cut without re-deriving
    offsets. Units trimming to fewer than ``min_chars`` characters are
    never flagged (separator runs produce empty units; one-char units
    are rarely worth deduping).

    Returns (id, para_idx, n_copies, is_first): every flagged occurrence
    with the corpus-wide occurrence count and whether this occurrence is
    the canonical FIRST (minimum (id, para_idx)) — the one a keep-first
    strip retains.

    Scale shape: unit assembly + hashing is map-side; only
    (id, idx, h1, h2) rows reach the ONE stats exchange (paragraph
    bodies never shuffle — the 128-bit two-seed key stands in for
    content, the duplicated_spans discipline). The stats aggregate is
    min/max/count/min-struct — all map-side-combinable, so hot
    boilerplate paragraphs fold to one row per input partition before
    the exchange (no countDistinct, which would disable partials; no
    window, which would funnel hot hashes through one task). The
    join-back is an inner join against the (small) duplicated-hash
    stats; AQE broadcasts it when it fits.
    """
    if min_chars < 1:
        raise ValueError(f"min_chars must be >= 1, got {min_chars}")
    from .text import _ws_trim

    rows = (
        df.select(F.col(id_col).alias("_id"), F.split(F.col(text), sep).alias("_u"))
        .select("_id", F.expr("posexplode(_u) AS (para_idx, _p)"))
        .select("_id", "para_idx", _ws_trim(F.col("_p")).alias("_t"))
        .filter(F.length("_t") >= min_chars)
        .select(
            "_id",
            "para_idx",
            F.xxhash64(F.col("_t")).alias("h1"),
            F.xxhash64(F.lit(0x5EED), F.col("_t")).alias("h2"),
        )
    )
    stats = rows.groupBy("h1", "h2").agg(
        F.min("_id").alias("_lo"),
        F.max("_id").alias("_hi"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min(F.struct("_id", "para_idx")).alias("_first"),
    )
    dup = F.col("_lo") != F.col("_hi")
    if within_doc:
        dup = dup | (F.col("n_copies") >= 2)
    hot = stats.filter(dup).select("h1", "h2", "n_copies", "_first")
    return (
        rows.join(hot, ["h1", "h2"])
        .select(
            F.col("_id").alias(id_col),
            "para_idx",
            "n_copies",
            (
                (F.col("_id") == F.col("_first._id"))
                & (F.col("para_idx") == F.col("_first.para_idx"))
            ).alias("is_first"),
        )
    )


def strip_duplicate_paragraphs(
    df: DataFrame,
    paras: DataFrame | None = None,
    keep_first: bool = True,
    sep: str = r"\n",
    join_sep: str = "\n",
    min_chars: int = 1,
    within_doc: bool = False,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove duplicated paragraphs from document text. With
    ``keep_first`` (default) the canonical first occurrence of each
    duplicated paragraph survives corpus-wide and every other occurrence
    is cut — the production dedup policy; with ``keep_first=False``
    every occurrence is cut (the decontamination policy). Pass a
    precomputed ``paras`` frame (optionally policy-filtered, e.g. only
    paragraphs with n_copies >= N) to reuse one detection pass.

    Rebuild joins the kept units with ``join_sep``. When ``sep`` is a
    literal single separator matching ``join_sep`` (the defaults),
    untouched SPANS of a modified document are byte-faithful — empty
    units from separator runs are never flagged, so original blank-line
    structure survives; documents with nothing cut keep their original
    ``text`` byte-for-byte.

    Scale shape: cut indices aggregate to ONE array row per affected doc
    (affected docs << corpus), then a single join back onto the corpus —
    AQE broadcasts the index side when it fits. The cut is a pure-Column
    indexed ``filter`` + ``exists``; bodies never shuffle.
    """
    if "_drop_idx" in df.columns:
        raise ValueError(
            "input already has a column named '_drop_idx' (reserved for "
            "the cut-index join); rename it before stripping"
        )
    if paras is None:
        paras = duplicate_paragraphs(
            df, sep=sep, min_chars=min_chars, within_doc=within_doc,
            text=text, id_col=id_col,
        )
    drop = paras.filter(~F.col("is_first")) if keep_first else paras
    idxs = drop.groupBy(id_col).agg(
        F.collect_list("para_idx").alias("_drop_idx")
    )
    joined = df.join(idxs, id_col, "left")
    units = F.split(F.col(text), sep)
    kept = F.filter(
        units,
        lambda u, i: ~F.exists(F.col("_drop_idx"), lambda d: d == i),
    )
    return joined.select(
        *[
            F.when(F.col("_drop_idx").isNotNull(), F.array_join(kept, join_sep))
            .otherwise(F.col(text))
            .alias(text)
            if c == text
            else F.col(c)
            for c in df.columns
        ]
    )


def hamming_neardup_pairs(
    df: DataFrame,
    max_distance: int = 10,
    hash_bits: int = 64,
    max_bucket: int | None = 256,
    id_col: str = "doc_id",
    hash_col: str = "phash",
) -> DataFrame:
    """All (id_a < id_b) pairs whose hashes differ in at most
    ``max_distance`` bits — the pairing stage for ANY fixed-width hash
    family: pHash image near-dups (:func:`~..operators.multimodal.
    phash64_frames`, ``hash_bits=64``) and SimHash text near-dups
    (:func:`simhash32`, ``hash_bits=32``) alike.

    Candidate generation is pigeonhole banding: the hash splits into
    ``max_distance + 1`` bit-bands, and two hashes within the distance
    budget MUST agree on at least one whole band (at most max_distance
    bits differ across max_distance+1 disjoint bands), so banding has
    100% recall — never all-pairs. Candidates are verified with the
    exact popcount distance (``bit_count(a XOR b)``), so false bucket
    friends never survive. Emits (id_a, id_b, distance).

    ``id_col`` need NOT be unique: a multi-hash id (e.g.
    :func:`~..operators.multimodal.phash64_frames` emits one row per
    (doc_id, frame_idx)) pairs under ANY-frame semantics — ``distance``
    is the MINIMUM popcount over all hash combinations of the two ids,
    one output row per distinct (id_a < id_b) pair, and self-pairs are
    never emitted (in-bucket ids are de-duplicated before pairing).
    Key on a composite id instead when per-frame pairs are wanted.

    Scale shape: ONE exchange on (band_idx, band_val) builds the
    buckets; pair explosion is O(bucket²) confined per bucket, with
    ``max_bucket`` dropping degenerate buckets (e.g. millions of
    identical blank images all share every band — pairing them all is
    quadratic and tells you nothing dedup-wise that ``exact_dedup`` on
    the hash itself wouldn't; a dropped bucket means "dedupe these by
    exact hash instead"; ``None`` disables the cap — oracle-gated
    callers pin it off because the parity law needs uncapped
    semantics). Verification joins hashes back by id — an
    id-sized relation, AQE-broadcast when it fits. Only (id, 8-byte
    hash) rows ever move; the underlying media/text never shuffles.
    """
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    if hash_bits < 1 or hash_bits > 64:
        raise ValueError(f"hash_bits must be 1..64, got {hash_bits}")
    n_bands = max_distance + 1
    if n_bands > hash_bits:
        raise ValueError(
            f"max_distance {max_distance} needs {n_bands} bands but the "
            f"hash has only {hash_bits} bits"
        )
    base, extra = divmod(hash_bits, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    offsets, off = [], 0
    for w in widths:
        offsets.append(off)
        off += w

    renamed = df.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"))
    h = F.col("_h")

    def _band_val(i: int) -> Column:
        # a full-width band (max_distance=0, hash_bits=64) IS the hash —
        # its mask (1<<64)-1 would overflow the signed long literal
        if widths[i] == 64:
            return h
        # Column.& is LOGICAL and in PySpark — bitwiseAND is the bit op
        return F.shiftrightunsigned(h, offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1).cast("long")
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                _band_val(i).alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    rows = renamed.select("_id", "_h", F.explode(bands).alias("_b"))
    buckets = (
        rows.select("_id", F.col("_b.band_idx").alias("bi"), F.col("_b.band_val").alias("bv"))
        .groupBy("bi", "bv")
        # collect_set: a multi-hash id lands in one bucket many times
        # (multiple frames sharing a band value) — positional pairing
        # over a duplicated sorted list would emit id_a == id_b
        # self-pairs (ADVICE r14 #4). max_bucket counts DISTINCT ids.
        .agg(F.sort_array(F.collect_set("_id")).alias("_docs"))
        .filter(
            (F.size("_docs") >= 2)
            # max_bucket=None disables the flood guard (oracle-gated
            # callers need uncapped semantics for the parity law)
            & (
                F.lit(True)
                if max_bucket is None
                else F.size("_docs") <= max_bucket
            )
        )
    )
    cand = (
        buckets.select(F.explode(_ordered_pairs(F.col("_docs"))).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    # verify by DISTINCT-hash ARRAYS, not a row fan-out: joining raw
    # (id, hash) rows on both sides would explode each candidate pair
    # to frames_a x frames_b rows before the MIN aggregate — two docs
    # with thousands of frames each made millions of join rows for ONE
    # pair (ADVICE r15 #3). collect_set per id first (frames sharing a
    # hash are redundant for MIN), then the combination MIN runs INSIDE
    # one array expression per pair-row: same O(f_a·f_b) popcounts, but
    # no row blow-up, no post-join exchange, and the per-id hash-set
    # relation is id-sized (AQE-broadcast when it fits). For unique-id
    # inputs the arrays are singletons and this is the single popcount.
    hsets = (
        renamed.groupBy("_id")
        .agg(F.collect_set("_h").alias("_hs"))
    )
    ha = hsets.select(F.col("_id").alias("id_a"), F.col("_hs").alias("_ha"))
    hb = hsets.select(F.col("_id").alias("id_b"), F.col("_hs").alias("_hb"))
    # nested array_min, NOT flatten: flatten would materialize the full
    # f_a x f_b popcount cross-product as ONE in-memory array per pair
    # row (two 30k-frame tracks -> a 9e8-element array -> executor OOM
    # where the old row aggregate merely spilled); folding the inner
    # MIN first keeps intermediates O(f_b) (review r15)
    dist = F.array_min(
        F.transform(
            F.col("_ha"),
            lambda a: F.array_min(
                F.transform(
                    F.col("_hb"), lambda b: F.bit_count(a.bitwiseXOR(b))
                )
            ),
        )
    )
    out = (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", dist.cast("int").alias("distance"))
        .filter(F.col("distance") <= max_distance)
    )
    return out
