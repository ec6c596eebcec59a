"""Streaming ingest dedup against a stored corpus LSH index.

The continuous form of :func:`..operators.dedup.incremental_neardup_pairs`:
documents arrive as a STREAM, the corpus index (band rows + shingle sets,
both produced once by the batch layer) is static, and every arriving doc
that near-duplicates something already in the corpus is emitted as a match
row — the gate a streaming training-data ingest pipeline puts in front of
its sink.

Why this composition is fully streaming-legal (and scale-shaped):

- **Signatures are row-local.** MinHash over a document's own shingle set
  needs no aggregation: the row's grams are hashed once
  (``transform(grams, portable_hash31)``), then per permutation
  ``array_min(transform(hashes, h -> (a*h+b) % p))`` — pure Column math
  inside the scan stage, so the stream needs no stateful signature
  operator at all (the batch path's groupBy-min becomes an array fold over
  the row's hashes; equivalence is pinned by test). Batch plans keep the
  groupBy-min: see the ``dedup`` module docstring for why.
- **Candidate generation is a stream-static equi join** on (band, key)
  against the stored band index (`dedup.lsh_band_rows` output). At fleet
  scale, store the index partitioned by band/key-prefix so the per-batch
  join prunes; the stream side of any micro-batch is small by definition.
- **Verification is map-side.** Each joined row carries the new doc's own
  distinct gram array and joins the candidate's stored shingle set
  (`dedup.corpus_shingle_sets`), so exact Jaccard is array math on the
  row — no second pass, no state.
- **The only state is pair dedup**: a doc matching a corpus doc in k bands
  produces k identical candidate rows; ``dropDuplicates`` keeps one row
  per EMITTED pair. Pass ``ts``/``watermark`` so that state is GC'd (the
  reference's replay is in-order, but a real ingest bus is not).

Reference anchor: this generalizes the ImportHub ingest path's composite-PK
dedup-before-append (script/w4h_db_utils.py:192) from exact-key to
near-duplicate semantics, as a standing query instead of a batch step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable_hash31
from ..operators.dedup import (
    _band_key,
    _band_rows,
    _gram_expr,
    _jaccard_at_least,
    _permuted_hash_sql,
)
from .replay import drain_memory_sink, file_stream

__all__ = [
    "rowwise_band_rows",
    "streaming_neardup_matches",
    "run_streaming_neardup_batchmode",
    "run_streaming_window_dedup_batchmode",
    "run_streaming_url_frontier_batchmode",
]


_SYNTH_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z


def _synthetic_event_time(id_col: str = "doc_id"):
    """Event time synthesized from the id column (the documents table
    carries no timestamp): all arrivals land within 10 minutes of a
    fixed epoch, so any ≥ 1 hour suppression horizon unambiguously
    covers every duplicate pair. One definition for every watermarked
    gate — the epoch and spread are part of the gates' shared
    semantics."""
    return F.timestamp_seconds(
        F.lit(_SYNTH_EPOCH) + F.col(id_col) % 600
    ).alias("event_time")


def _rowwise_minhash_cols(num_perm: int) -> list:
    """mh_i columns from a ``_h`` column (the row's gram array hashed with
    ``portable_hash31``), computed row-locally: min over the array of each
    permuted hash — identical values to the batch groupBy-min
    (dedup._signatures_inner) by construction, from the same permutation
    text."""
    return [
        F.expr(f"array_min(transform(_h, h -> {perm}))").alias(f"mh_{i}")
        for i, perm in enumerate(_permuted_hash_sql(num_perm))
    ]


def rowwise_band_rows(
    docs: DataFrame,
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    text: str = "text",
    id_col: str = "doc_id",
    carry: list[str] | None = None,
) -> DataFrame:
    """(id, band, key [, carry...]) LSH band rows WITHOUT aggregation —
    streaming-legal, value-identical to ``dedup.lsh_band_rows`` (both band
    through ``dedup._band_rows``). ``carry`` columns ride along (the
    streaming path carries the doc's distinct gram array and event time
    for downstream verification/watermarking). Documents shorter than
    ``n`` words emit no rows (no shingles — same exclusion as the batch
    inner-signature path). Each gram is hashed once per row, and the
    permutations fold over that hash array."""
    carry = tuple(carry or ())
    words = F.split(F.trim(F.col(text)), r"\s+")
    with_h = (
        docs.withColumn("_w", words)
        .withColumn("_g", F.expr(_gram_expr(n)))
        .filter(F.size("_g") > 0)
        .withColumn("_h", F.transform("_g", portable_hash31))
    )
    sig = with_h.select(F.col(id_col), *carry, *_rowwise_minhash_cols(num_perm))
    return _band_rows(sig, id_col, num_perm, bands, carry).select(
        id_col, *carry, *_band_key()
    )


def streaming_neardup_matches(
    stream_docs: DataFrame,
    corpus_bands: DataFrame,
    corpus_sets: DataFrame,
    n: int = 3,
    bands: int = 4,
    num_perm: int = 8,
    threshold: float = 0.5,
    text: str = "text",
    id_col: str = "doc_id",
    ts: str | None = None,
    watermark: str = "1 hour",
    allow_unbounded_state: bool = False,
) -> DataFrame:
    """Standing near-dup gate: rows ``(new_id, corpus_id, jaccard)`` for
    every streamed doc whose exact Jaccard with an indexed corpus doc
    reaches ``threshold``. ``corpus_bands`` = stored
    :func:`..operators.dedup.lsh_band_rows`; ``corpus_sets`` = stored
    :func:`..operators.dedup.corpus_shingle_sets`.

    Pass the event-time column via ``ts`` so pair-dedup state is
    watermark-bounded. On a STREAMING input, ``ts=None`` means the
    ``dropDuplicates`` state grows forever — that configuration raises
    unless ``allow_unbounded_state=True`` is set explicitly (tests and
    bounded replays only); a production caller can't silently run with
    ever-growing state.

    Scale note: pass ``corpus_bands``/``corpus_sets`` read from the
    BUCKETED tables :func:`..operators.dedup.persist_corpus_index` writes
    ((band, key) / id bucketing) and the per-micro-batch candidate and
    verification joins are EXCHANGE-FREE on the corpus side — the only
    per-batch shuffle is the (small) stream side. The index is a frozen
    snapshot; see persist_corpus_index for the refresh contract."""
    if ts is None and stream_docs.isStreaming and not allow_unbounded_state:
        raise ValueError(
            "streaming_neardup_matches on a streaming input with ts=None "
            "keeps unbounded pair-dedup state (no watermark to expire it); "
            "pass the event-time column via ts=, or set "
            "allow_unbounded_state=True for bounded test replays only"
        )
    words = F.split(F.trim(F.col(text)), r"\s+")
    grams = F.expr(f"array_distinct({_gram_expr(n)})")
    stream = stream_docs.withColumn("_w", words).withColumn("_sh_n", grams)
    carry = ["_sh_n"] + ([ts] if ts else [])
    if ts:
        stream = stream.withWatermark(ts, watermark)
    new_bands = rowwise_band_rows(
        stream, n, num_perm, bands, text, id_col, carry=carry
    ).withColumnRenamed(id_col, "new_id")
    cand = new_bands.join(
        corpus_bands.withColumnRenamed(id_col, "corpus_id"), ["band", "key"]
    )
    sets = corpus_sets.select(
        F.col(id_col).alias("corpus_id"), F.col("shingles").alias("_sh_c")
    )
    matches = _jaccard_at_least(
        cand.join(sets, "corpus_id"), "_sh_n", "_sh_c", threshold
    )
    # one row per pair, not per matching band; with ts the dedup state ages
    # out at the watermark, without it this is test-scale only
    dedup_cols = ["new_id", "corpus_id"] + ([ts] if ts else [])
    return matches.dropDuplicates(dedup_cols).select(
        "new_id", "corpus_id", "jaccard"
    )


def run_streaming_neardup_batchmode(
    spark,
    docs_path: str,
    split_mod: int = 5,
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Execute the streaming near-dup gate end-to-end synchronously through
    the REAL streaming engine: :func:`..streaming.replay.file_stream`
    source (the ``doc_id % split_mod == 0`` slice streams in) -> row-local
    MinHash -> stream-static candidate join against the batch-built corpus
    index (the other slice) -> exact-Jaccard verification -> memory sink
    (availableNow). Returns the sink contents: (new_id, corpus_id,
    jaccard). The corpus index is read on ``stream.sparkSession``, so both
    join sides share the bounded-replay session's SQLConf (its
    state-partition pin included).

    This is the registry entry point for `streaming_neardup`: its DuckDB
    oracle is the SAME SQL as `incremental_dedup` (identical split and
    threshold), so the driver externally verifies that the streaming path
    and the batch incremental path agree value-for-value — stream-batch
    unification as a gated claim, not just a local test.
    ``allow_unbounded_state=True`` is correct here: an availableNow replay
    of a finite slice is the flag's documented bounded-replay case (the
    documents table carries no event time to watermark on).
    """
    from ..catalog import read_parquet
    from ..operators.dedup import corpus_shingle_sets, lsh_band_rows

    stream, stage = file_stream(spark, docs_path, prefix="w4h_neardup_stream_")
    docs = read_parquet(stream.sparkSession, docs_path)
    corpus = docs.filter(F.col("doc_id") % split_mod != 0)
    corpus_bands = lsh_band_rows(corpus, n, num_perm, bands)
    corpus_sets = corpus_shingle_sets(corpus, n)
    stream = stream.filter(F.col("doc_id") % split_mod == 0)
    out = streaming_neardup_matches(
        stream,
        corpus_bands,
        corpus_sets,
        n=n,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        allow_unbounded_state=True,
    )
    # drain localizes the (bounded: verified candidate pairs) sink and
    # cleans up the temp view + staging dir — repeated gate/parity/bench
    # invocations leave no per-run residue
    return drain_memory_sink(
        out, "append", name_prefix="w4h_neardup_stream_", stage_dir=stage
    )


def run_streaming_window_dedup_batchmode(
    spark,
    docs_path: str,
    horizon: str = "1 hour",
) -> DataFrame:
    """Execute the ENGINE-NATIVE streaming exact-dedup gate end-to-end
    through the real streaming engine: ``file_stream`` source (the
    bounded-replay session and its state-partition pin) → MD5 content
    key → ``dropDuplicatesWithinWatermark`` (watermark-bounded state, no
    Python in the path; see ``stateful.streaming_dedup_within_watermark``)
    → append memory sink (availableNow). Returns the emitted DISTINCT
    content keys.

    The registry entry point for `stream_window_dedup`. Emission is one
    row per distinct content within the horizon; WHICH duplicate row wins
    is micro-batch-order-dependent, so the gate projects the content_key
    column alone — the emitted KEY SET is deterministic and equals
    ``SELECT DISTINCT md5(text)``, which is exactly the DuckDB oracle.
    Event time is synthesized from doc_id (the documents table carries no
    timestamp) with all arrivals inside one horizon, so the suppression
    window unambiguously covers every duplicate pair.
    """
    from .stateful import streaming_dedup_within_watermark

    stream, stage = file_stream(spark, docs_path, prefix="w4h_windedup_stream_")
    stream = stream.select("doc_id", "text", _synthetic_event_time())
    out = streaming_dedup_within_watermark(
        stream, event_time="event_time", horizon=horizon
    )

    drained = drain_memory_sink(
        out, "append", name_prefix="w4h_windedup_stream_", stage_dir=stage
    )
    return drained.select("content_key").distinct()


def run_streaming_url_frontier_batchmode(
    spark,
    docs_path: str,
    url,
    horizon: str = "1 hour",
) -> DataFrame:
    """Streaming URL-frontier dedup end-to-end through the real
    streaming engine: ``file_stream`` source (the bounded-replay session
    and its state-partition pin) → ``web.canonicalize_url`` as
    the frontier key (pure JVM Columns inside the stream projection —
    percent-normalization, tracking-param strip, port policy and all) →
    ``dropDuplicatesWithinWatermark`` on the canonical key (state
    bounded at O(arrival rate × horizon); re-fetches of a page the
    frontier already admitted within the horizon are suppressed) →
    append memory sink (availableNow). This is the standing query a
    crawl puts in front of its fetch queue — the streaming twin of the
    batch ``url_dedup_groups`` rollup, sharing the same canonical key.

    ``url`` is the Column expression producing each row's URL (resolved
    against the stream projection; the gate passes the deterministic
    noisy generator). Malformed URLs key under NULL — ONE frontier slot,
    as in the batch rollup. Emission is one row per distinct canonical
    key; WHICH duplicate wins is micro-batch-order-dependent, so only
    the key set is returned — deterministic, and exactly the batch
    DISTINCT the oracle computes.
    """
    from ..operators.web import canonicalize_url

    stream, stage = file_stream(spark, docs_path, prefix="w4h_urlfrontier_stream_")
    stream = stream.select(
        "doc_id",
        canonicalize_url(url).alias("canonical_url"),
        _synthetic_event_time(),
    )
    out = stream.withWatermark(
        "event_time", horizon
    ).dropDuplicatesWithinWatermark(["canonical_url"])

    drained = drain_memory_sink(
        out, "append", name_prefix="w4h_urlfrontier_stream_", stage_dir=stage
    )
    return drained.select("canonical_url").distinct()
