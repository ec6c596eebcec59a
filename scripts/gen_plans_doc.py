#!/usr/bin/env python
"""Generate PLANS.md: formatted physical plans for one representative query
per operator family, with the scale-relevant properties called out. Rerun
after plan-affecting changes: python scripts/gen_plans_doc.py"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from w4h_integrated_toolkit_spark.plans import QUERIES  # noqa: E402
from w4h_integrated_toolkit_spark.plans.queries import GATE_CANDIDATES  # noqa: E402
from w4h_integrated_toolkit_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("W4H_TEST_SF_DIR", "/root/testdata/sf0.001")

# (query, what to look for in the plan)
GALLERY = [
    ("pricing_summary", "One exchange of map-side partials (`partial_sum` "
     "before the Exchange); every expression in WholeStageCodegen."),
    ("local_supplier_volume", "TPC-H Q5 join tree: every dimension side is a "
     "BroadcastExchange — the only data exchange is the final per-nation "
     "aggregate; date + region filters pushed to the scans."),
    ("range_scan", "PushedFilters carries the date range into the parquet "
     "scan; ReadSchema pruned to the 2 referenced columns of 11."),
    ("ngram_jaccard_pairs", "ONE shuffle on the shingle builds the inverted "
     "index; set sizes and pair counts both reuse that exchange "
     "(ReusedExchange at runtime); the tiny pair relation broadcasts."),
    ("asof_latest_purchase", "As-of join via the union trick: a single "
     "exchange, no range explosion, no nested loop."),
    ("knn_ivf_topk", "IVF ANN: the corpus never shuffles — cell assignment "
     "is map-side against broadcast centroids; one exchange ranks the "
     "probed candidates."),
    ("geofence_count", "Spatial join: polygon grid-cell index broadcasts; "
     "points join equi on their cell (BroadcastHashJoin, zero exchanges "
     "before the count); even-odd ring test is Column math on candidates."),
    ("calibration", "All per-user windows and the stable mean share ONE "
     "user_id exchange."),
    ("offset_batch", "Pagination WITHOUT a single-task window: native "
     "offset+limit compiles to TakeOrderedAndProject — every partition "
     "keeps a 200-row heap, the driver drops the first 100; the old "
     "row_number() over an unpartitioned Window serialized the whole "
     "table through one task."),
    ("incremental_dedup", "Ingest-vs-corpus dedup: the batch's LSH band "
     "index broadcasts and the corpus side only probes it "
     "(BroadcastHashJoin, no corpus self-join, corpus bodies never "
     "shuffle); exact-Jaccard verification touches candidate docs only."),
    ("funnel_conversion", "Ordered event funnel: the three chained "
     "conditional-min step windows share ONE hashpartitioning(user_id) "
     "exchange — funnel depth never multiplies shuffles; the summary is "
     "a 1-row distinct-count aggregate."),
    ("semantic_dedup", "SemDeDup (gate form, max_cluster=None — the "
     "oracle models whole-cluster semantics): one shuffle on the "
     "cluster key feeds a grouped Arrow kernel (FlatMapGroupsInPandas) "
     "— vectors cross Arrow once, BLAS does the O(b²·d) Gram work, no "
     "pair join. The capped production default adds one tiny "
     "partial-aggregated COUNT exchange broadcast back onto the stream "
     "— giant clusters sub-split by content-defined sign bits instead "
     "of funnelling an O(b²) kernel into one task (plan pinned in "
     "test_semantic_dedup_guarded_plan_broadcast_count)."),
    ("rfm_segments", "Quantile scoring WITHOUT ntile: a 1-row exact "
     "percentile aggregate broadcasts as value cuts "
     "(BroadcastNestedLoopJoin of a scalar relation), scoring stays "
     "map-side and partition-parallel; no Window operator anywhere."),
    ("time_weighted_avg", "Trapezoidal TWA: the lead() window and the "
     "(key, bucket) aggregate share ONE key exchange — "
     "HashPartitioning(user_id) satisfies the coarser (user_id, bucket) "
     "clustering, so bucket granularity never adds a shuffle."),
    ("unigram_nll", "Unigram-LM scoring: ln runs once per TERM on the "
     "vocab-bounded model relation; the static plan repeats the tf "
     "subtree per consumer but AQE collapses the repeats via "
     "ReusedExchange at runtime (runtime-asserted in tests)."),
    ("table_profile", "Column profiling via stack() unpivot: ONE parquet "
     "scan however many columns are profiled — the generator folds into "
     "the scan's project."),
    ("cube_totals", "CUBE lattice: Expand emits all four grouping sets "
     "from a single scan; one aggregate exchange."),
    ("interval_coverage", "Gaps-and-islands merge: both window passes "
     "(running max-end, island ordinal), the (key, island) aggregate, "
     "and the per-key rollup ride ONE hashpartitioning(user_id) "
     "exchange — O(1) running state per row, no interval self-join."),
    ("cusum_changepoint", "CUSUM peak + first-attaining timestamp in one "
     "pass: prefix-sum and whole-partition windows plus a max-of-struct "
     "argmax aggregate share the single key exchange — no join-back to "
     "locate the peak row."),
    ("doc_chunks", "Sliding-window chunking: split → sequence → explode "
     "→ slice entirely inside one codegen'd map stage — zero data "
     "exchanges at any corpus size (the only Exchange is the "
     "degenerate-scan widening repartition, a no-op on a wide cluster "
     "scan)."),
    ("debounce_events", "Event debouncing: ONE key exchange for the lag "
     "window; the cooldown filter is map-side after it — integer-µs gap "
     "math inside WholeStageCodegen."),
    ("event_type_pagerank", "Fixed-point PageRank: the edge aggregate is "
     "checkpointed once; each unrolled iteration is a BroadcastHashJoin of "
     "the node-sized rank frame plus one dst aggregate — no sort-merge "
     "join, no cartesian beyond the whitelisted 1-row scalar cross."),
    ("kmeans_iteration", "Integer Lloyd step: centroids broadcast (k rows); "
     "distance/argmin in one codegen'd zip_with/aggregate expression; the "
     "corpus crosses only as (id, struct) aggregate traffic."),
    ("pmi_pairs", "Bounded-vocab PMI: vocabulary TakeOrdered + broadcast "
     "back; per-doc pair explode map-side (<= vocab^2/2 per doc); ONE pair "
     "aggregate; marginals broadcast — corpus size cannot grow the pair "
     "key space."),
    ("table_diff", "Snapshot diff: ONE full-outer equi join — the payload "
     "crosses once regardless of compared-column count; per-column "
     "null-safe flags are map-side projections after the join."),
    ("zorder_layout", "Z-order audit: the Morton key is pure bit math in "
     "the scan's project (32 shift/and/or terms, whole-stage codegen); "
     "one aggregate exchange for the 64-bucket bounding-box report."),
    ("domain_cap_sample", "Per-domain rate cap via the salted two-stage "
     "top-k: WindowGroupLimit partial mode prunes every task to <= cap "
     "rows per (domain, salt) BEFORE each of the two exchanges, so no "
     "task ever sorts a whole mega-domain and per-exchange volume is "
     "bounded by cap x input-partitions rows per domain."),
    ("scd2_apply", "SCD2 merge-apply: the batch joins the (key-sized) "
     "open slice once, change detection is ONE key-window pass, and the "
     "closed history unions through exchange-free — no cartesian, no "
     "Python eval, the dimension's past never re-shuffles."),
    ("bpe_encode", "BPE encode tail: the fit loop runs as "
     "driver-sequenced vocabulary-sized jobs (component plans — vocab "
     "build 1 exchange, pair counts +1 aggregate, merge application 0 — "
     "are pinned in tests/test_plans.py); the visible plan is the final "
     "token aggregate + deterministic TakeOrdered over the checkpointed "
     "vocabulary, corpus-free by construction."),
    ("registrable_domain_psl", "Broadcast-PSL eTLD+1: one "
     "BroadcastExchange per distinct suffix depth (each a map-side "
     "BroadcastHashJoin probe), then a pure Column when-chain — the "
     "corpus never shuffles until the final result-sized rollup."),
    ("html_extract", "HTML→text: the entire extraction (block drops, "
     "tag strip, entity decode, whitespace collapse) is ONE "
     "WholeStageCodegen project over the scan — zero exchanges, zero "
     "Python; the shape a 100 TB crawl pass needs."),
    ("video_frame_stats", "Media decode kernels: synthesize→encode→"
     "decode→stats is a chain of map-side ArrowEvalPython/MapInPandas "
     "stages with NO exchange anywhere — payload bytes never shuffle; "
     "the same plan shape carries wav_decode_stats/audio_frame_energy."),
    ("knn_ivf_persisted", "Persisted-model IVF probe: the quantizer is "
     "READ BACK from the model store (a plain parquet scan of k·d "
     "centroid cells — fit and apply are different jobs), rebuilt as "
     "broadcast arrays, and the corpus still never shuffles; identical "
     "probe shape to knn_ivf_fitted plus the store scan."),
    ("replay_wraparound", "O7 wrap-around replay: each cursor batch is a "
     "pushed-down DATE-range filter on the events scan (PushedFilters "
     "carries the day bounds) feeding a global aggregate; the union of "
     "per-batch aggregates is result-sized — the cursor index is the "
     "only driver state."),
    ("url_canonicalize", "URL canonicalization + frontier dedup: the "
     "entire normalization (part extraction, tracking-param filter, "
     "bytewise param sort, rebuild) is JVM Column expressions inside "
     "one codegen stage over the scan; the ONLY exchange is the "
     "canonical-key rollup."),
    # --- gate-candidate family: hashed_clf_scores and
    #     phash_hamming_pairs are the pre-built GATE_CANDIDATES, not yet
    #     registered; the others here are registered ---
    ("gopher_flags", "Gopher rule set: all nine published rules — word/"
     "line splits, sorted-predecessor duplicate-line compare, per-rule "
     "fail_reasons assembly — are ONE codegen'd projection over the "
     "scan; zero data exchanges at any corpus size (the only Exchange "
     "is the degenerate-scan widening repartition)."),
    ("duplicated_spans", "Positional span dedup: three exchanges total — "
     "the skew-proof (h1,h2) window-stats aggregate (map-side partials "
     "fold hot boilerplate before the shuffle), the semi join-back of "
     "position rows, and ONE per-doc exchange the island merge and "
     "final aggregate share; document bodies never shuffle (28-byte "
     "position rows only)."),
    ("hashed_clf_scores", "Hashed NB classifier chain: the fit runs as "
     "driver-sequenced sample-sized jobs; the visible scoring plan is "
     "feature_hashing's one (doc, bucket) aggregate, a "
     "BroadcastHashJoin of the O(n_buckets) model (parameter-bounded, "
     "never data-bounded), and the per-doc rollup — corpus bodies "
     "never join against anything."),
    ("phash_hamming_pairs", "Perceptual-dedup pairing: pigeonhole "
     "banding explodes each 64-bit hash into max_distance+1 band "
     "structs, ONE (band, value) exchange builds the buckets "
     "(collect_set — multi-hash ids never self-pair), in-bucket pair "
     "explosion stays confined per bucket under max_bucket, and the "
     "exact bit_count(XOR) verify joins back by id via per-id "
     "DISTINCT-hash arrays (no frame-product row fan-out); only "
     "(id, 8-byte hash) rows ever move."),
    ("dsir_resample", "DSIR chain: the fit is two parameter-bounded "
     "bucket aggregates + O(1) scalar collects; the resample is ONE "
     "feature_hashing aggregate over the corpus, a BroadcastHashJoin "
     "of the O(n_buckets) integer-snapped model, and "
     "orderBy(key).limit(k) planned as TakeOrderedAndProject — "
     "per-partition k-heaps, NO global sort exchange; selection is "
     "integer-exact and partition-invariant."),
    ("audio_fingerprint_pairs", "Audio near-dup arm: WAV synthesis + "
     "the Haitsma-Kalker fingerprint run in ONE map-side Arrow kernel "
     "chain (payload bytes never shuffle), bit flips are pure Columns, "
     "and the pairing is hamming_neardup_pairs' one (band, value) "
     "exchange + array verify — only (id, 4-byte fp) rows ever move."),
]

QUERIES = dict(QUERIES) | dict(GATE_CANDIDATES)


def main() -> None:
    spark = get_spark("plans-doc", cpus=4, shuffle_partitions=4,
                      driver_memory="4g")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out = [
        "# PLANS — physical-plan gallery (generated)",
        "",
        f"Generated by `scripts/gen_plans_doc.py` at sf_dir=`{SF_DIR}`, "
        "local[4]. One representative query per operator family; the plan "
        "properties named here are pinned by `tests/test_plans.py`, so they "
        "cannot silently regress. Broadcast thresholds differ at cluster "
        "scale, but the *shape* claims (pushdown, exchange counts, no "
        "nested loops, partial aggregation) are scale-invariant.",
        "",
    ]
    for name, note in GALLERY:
        fn, _ = QUERIES[name]
        plan = fn(spark, SF_DIR)._jdf.queryExecution().explainString(mode)
        # keep the tree + the scan/exchange/join detail nodes; drop the rest
        tree, _, details = plan.partition("\n\n")
        keep = []
        for block in re.split(r"\n(?=\(\d+\) )", details):
            head = block.splitlines()[0] if block else ""
            if re.search(
                r"Scan parquet|Exchange|HashJoin|SortMergeJoin|HashAggregate"
                r"|TakeOrdered|Window|NestedLoop", head
            ):
                keep.append(block.rstrip())
        out += [f"## {name}", "", note, "", "```", tree.rstrip(), "```", ""]
        if keep:
            out += ["<details><summary>key nodes</summary>", "", "```",
                    *keep, "```", "", "</details>", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
