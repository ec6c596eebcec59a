#!/usr/bin/env python
"""Randomized deep-stress harness for the iterative / oracle-chained
operators — heavier than the CI hypothesis budgets, run on demand:

    python scripts/stress_check.py [trials_scale]

Each section compares the distributed operator against a LITERAL
sequential Python model (not the DuckDB oracle — a third, independent
formulation), over randomized inputs built to hit the hard cases:

- BPE fit + encode vs a textbook sequential trainer: equal-symbol runs
  ("aaaa"), frequent count ties (argmax lex tie-break), pair
  exhaustion, empty texts.
- scd2_apply fold law vs the one-shot rebuild across random three-way
  time splits: NULL attribute runs, new keys, empty batches.
- kmeans_fit vs the integer Lloyd model: half-away-from-zero
  quantization, argmin ties at coarse scales, floor-division of
  negative sums, empty-cluster drops, multi-iteration chaining.
- pagerank_fixed_point vs the integer recurrence at random damping,
  scale and iteration counts.
- duplicated_spans + strip vs the window/island model: tiny
  vocabularies (chance collisions), planted runs straddling k, intra-doc
  repeats, merge_gap overrides, whitespace soup, empty docs.
- gopher_quality_flags + c4_clean_lines vs their rule models at
  random thresholds; paragraph dedup, Hamming pairs, the embedding
  bucket guard and unigram segmentation vs their own brute-force models.

The BPE, PageRank, k-means, span, Gopher and C4 models are the ones the
Hypothesis properties use (tests/reference_models.py); this script
varies their parameters and budgets. Exit code 0 iff every trial
matches exactly (integer/bit equality). Tier-1 runs every section once
(tests/test_properties.py::test_stress_check_sections_run_clean); a full
run is the periodic deep sweep.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tests.reference_models import (  # noqa: E402
    bpe_model,
    c4_model,
    gopher_model,
    kmeans_model,
    pagerank_model,
    spans_model,
)
from w4h_integrated_toolkit_spark.session import get_spark  # noqa: E402


def stress_bpe(spark, rnd, trials):
    from w4h_integrated_toolkit_spark.operators.bpe import bpe_encode, bpe_learn

    bad = 0
    for _ in range(trials):
        texts = [
            "".join(rnd.choice("ab c") for _ in range(rnd.randrange(0, 30)))
            for _ in range(rnd.randrange(1, 6))
        ]
        n_merges = rnd.randrange(1, 5)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        expected, tc = bpe_model(texts, n_merges=n_merges)
        got = [
            (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
            for r in bpe_learn(df, n_merges=n_merges)
            .orderBy("merge_rank")
            .collect()
        ]
        if got != expected:
            bad += 1
            print("BPE MERGE MISMATCH", texts, got, expected)
        got_e = {
            (r["token"], r["n"])
            for r in bpe_encode(df, n_merges=n_merges, k=None).collect()
        }
        if got_e != set(tc.items()):
            bad += 1
            print("BPE ENCODE MISMATCH", texts, sorted(got_e), sorted(tc.items()))
    return bad


def stress_scd2(spark, rnd, trials):
    from w4h_integrated_toolkit_spark.operators.etl import (
        scd2_apply,
        scd2_intervals,
    )

    srt = lambda it: sorted(map(tuple, it), key=lambda t: (t[0], t[2], t[4]))
    bad = 0
    for trial in range(trials):
        rows = [
            (
                eid,
                dt.datetime(2024, 1, 1, 0, 0, rnd.randrange(0, 30)),
                rnd.randrange(0, 4),
                rnd.choice(["a", "b", "c", None, None]),
            )
            for eid in range(rnd.randrange(1, 40))
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        rebuilt = srt(scd2_intervals(df, "user_id", "event_type").collect())
        t_lo, t_hi = (
            dt.datetime(2024, 1, 1, 0, 0, s)
            for s in sorted(rnd.randrange(0, 31) for _ in range(2))
        )
        d0 = scd2_intervals(
            df.filter(F.col("ts") < F.lit(t_lo)), "user_id", "event_type"
        )
        d1 = scd2_apply(
            d0,
            df.filter((F.col("ts") >= F.lit(t_lo)) & (F.col("ts") < F.lit(t_hi))),
            "user_id",
            "event_type",
        )
        d2 = scd2_apply(
            d1, df.filter(F.col("ts") >= F.lit(t_hi)), "user_id", "event_type"
        )
        if srt(d2.collect()) != rebuilt:
            bad += 1
            print("SCD2 FOLD MISMATCH", trial, rows)
    return bad


def stress_kmeans(spark, rnd, trials):
    from w4h_integrated_toolkit_spark.operators.similarity import kmeans_fit

    bad = 0
    for trial in range(trials):
        n, d = rnd.randrange(3, 30), rnd.randrange(1, 5)
        k, iters = rnd.randrange(1, min(6, n + 1)), rnd.randrange(1, 4)
        scale = rnd.choice([10, 100, 10**6])
        vecs = {
            vid: [
                rnd.randrange(-20, 21) / (2 if rnd.random() < 0.5 else 7.3)
                for _ in range(d)
            ]
            for vid in range(n)
        }
        df = spark.createDataFrame(
            [(vid, v) for vid, v in vecs.items()],
            "vec_id long, embedding array<double>",
        )
        got = sorted(
            (r["centroid_id"], r["dim"], r["q_value"], r["n_members"])
            for r in kmeans_fit(df, k=k, iterations=iters, scale=scale).collect()
        )
        first_k = {vid: vecs[vid] for vid in sorted(vecs)[:k]}
        want = kmeans_model(vecs, first_k, iterations=iters, scale=scale)
        if got != sorted(cell + v for cell, v in want.items()):
            bad += 1
            print("KMEANS MISMATCH", trial, dict(n=n, d=d, k=k, scale=scale))
    return bad


def stress_pagerank(spark, rnd, trials):
    from w4h_integrated_toolkit_spark.operators.graph import (
        pagerank_fixed_point,
    )

    bad = 0
    for trial in range(trials):
        n_labels = rnd.randrange(2, 7)
        labels = [f"t{i}" for i in range(n_labels)]
        edges = {}
        for _ in range(rnd.randrange(1, 15)):
            s, d = rnd.choice(labels), rnd.choice(labels)
            edges[(s, d)] = edges.get((s, d), 0) + rnd.randrange(1, 50)
        iters = rnd.randrange(0, 4)
        damping = rnd.choice([85, 0, 100, rnd.randrange(0, 101)])
        scale = rnd.choice([1000, 10**6, 10**12])
        df = spark.createDataFrame(
            [(s, d, w) for (s, d), w in edges.items()],
            "src string, dst string, weight long",
        )
        got = {
            r["node"]: r["rank_fp"]
            for r in pagerank_fixed_point(
                df, iterations=iters, damping_pct=damping, scale=scale
            ).collect()
        }
        rank = pagerank_model(edges, iters, damping, scale)
        if got != rank:
            bad += 1
            print("PAGERANK MISMATCH", trial, edges, iters, damping, scale)
            print(" got ", got)
            print(" want", rank)
    return bad


def stress_spans(spark, rnd, trials):
    """duplicated_spans + strip_duplicated_spans vs a literal sequential
    model: tiny vocabularies (chance window collisions stress the island
    merge), planted cross-doc runs straddling the k boundary (length
    k-2 .. 2k+5 — sub-k plants must NOT be detected), intra-doc repeats
    with within_doc on/off, random merge_gap overrides, whitespace soup
    (tabs/runs of spaces), and empty/short docs."""
    from w4h_integrated_toolkit_spark.operators.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )

    bad = 0
    for trial in range(trials):
        k = rnd.randrange(3, 7)
        vocab = [f"w{i}" for i in range(rnd.randrange(6, 14))]
        n_docs = rnd.randrange(2, 8)
        texts = {}
        for d in range(n_docs):
            n = rnd.randrange(0, 60)
            words = [rnd.choice(vocab) for _ in range(n)]
            sep = lambda: rnd.choice([" ", "  ", "\t", " \t "])
            texts[d] = sep().join(words) if rnd.random() < 0.3 else " ".join(
                words
            )
            # pad with NON-SPACE whitespace: F.trim strips only ASCII
            # spaces, so a leading tab/newline once shifted every Spark
            # token position by one vs strip().split() (ADVICE r14 #1;
            # fixed by _ws_tokens' empty-token filter)
            if rnd.random() < 0.3:
                texts[d] = (
                    rnd.choice(["\t", "\n", " \t", "\n\n"])
                    + texts[d]
                    + rnd.choice(["", "\t", "\n", " \n"])
                )
        # plant a shared run into 2-3 docs (length straddles k)
        if n_docs >= 2 and rnd.random() < 0.8:
            run = [f"p{trial}x{i}" for i in range(rnd.randrange(k - 2, 2 * k + 6))]
            for d in rnd.sample(range(n_docs), rnd.randrange(2, min(3, n_docs) + 1)):
                toks = texts[d].split()
                at = rnd.randrange(0, len(toks) + 1)
                texts[d] = " ".join(toks[:at] + run + toks[at:])
        # sometimes an intra-doc repeat
        if rnd.random() < 0.4:
            d = rnd.randrange(n_docs)
            rep = [f"q{trial}y{i}" for i in range(rnd.randrange(k, k + 4))]
            toks = texts[d].split()
            mid = rnd.randrange(0, len(toks) + 1)
            texts[d] = " ".join(rep + toks[:mid] + rep + toks[mid:])
        within = rnd.random() < 0.5
        gap = rnd.choice([None, 0, k // 2, k, 2 * k])
        kw = {} if gap is None else {"merge_gap": gap}

        df = spark.createDataFrame(
            [(d, t) for d, t in texts.items()], "doc_id long, text string"
        )
        spans_df = duplicated_spans(df, k=k, within_doc=within, **kw)
        got_spans = {
            (r.doc_id, r.start_tok, r.end_tok, r.n_matched)
            for r in spans_df.collect()
        }
        got_cut = {
            r.doc_id: r.text
            for r in strip_duplicated_spans(df, spans=spans_df).collect()
        }
        exp_spans, exp_cut = spans_model(texts, within, k=k, merge_gap=gap)
        if got_spans != exp_spans or got_cut != exp_cut:
            bad += 1
            print(
                f"  spans trial {trial}: k={k} within={within} gap={gap}\n"
                f"    spans got {sorted(got_spans)}\n"
                f"          exp {sorted(exp_spans)}\n"
                f"    cut diff: "
                f"{ {d: (got_cut[d], exp_cut[d]) for d in got_cut if got_cut[d] != exp_cut[d]} }",
                flush=True,
            )
    return bad


def stress_text_gates(spark, rnd, trials):
    """gopher_quality_flags + c4_clean_lines vs their rule models, every
    statistic and verdict, with RANDOMIZED thresholds (the hypothesis
    properties sweep inputs at paper defaults; this sweeps the parameter
    space too): random
    token soup (stopwords, letter runs, digits, #tags, ellipses,
    bullets, dots), duplicated lines, blank/whitespace lines, and
    leading/trailing whitespace soup around the whole document (the
    class of input that caught the F.trim-is-spaces-only bug)."""
    from w4h_integrated_toolkit_spark.operators.text import (
        c4_clean_lines,
        gopher_quality_flags,
    )

    def rand_line(rnd):
        n = rnd.randrange(0, 12)
        toks = []
        for _ in range(n):
            r = rnd.random()
            if r < 0.45:
                toks.append(rnd.choice(
                    ["the", "and", "of", "to", "with", "cat", "dog",
                     "fox", "words", "letters"]))
            elif r < 0.6:
                toks.append("".join(rnd.choice("abcdefgh")
                                    for _ in range(rnd.randrange(1, 14))))
            elif r < 0.7:
                toks.append(str(rnd.randrange(0, 1000)))
            elif r < 0.8:
                toks.append("#" + rnd.choice(["tag", "x"]))
            else:
                toks.append(rnd.choice(
                    ["...", "\u2026", "-", "*", "\u2022", "x.y", ".",
                     "javascript", "lorem", "{"]))
        line = " ".join(toks)
        if rnd.random() < 0.15:
            line = rnd.choice(["- ", "* ", "\u2022 "]) + line
        if rnd.random() < 0.25:
            line += rnd.choice([".", "!", "?", "...", "\u2026",
                                '.\u201d', '."'])
        return line

    def rand_doc(rnd):
        lines = []
        for _ in range(rnd.randrange(0, 12)):
            if lines and rnd.random() < 0.3:
                lines.append(rnd.choice(lines))  # duplicate-line pressure
            elif rnd.random() < 0.15:
                lines.append(rnd.choice(["", "   ", "\t"]))
            else:
                lines.append(rand_line(rnd))
        text = "\n".join(lines)
        if rnd.random() < 0.3:
            text = rnd.choice(["\n ", "  ", "\t\n"]) + text
        if rnd.random() < 0.3:
            text = text + rnd.choice(["\n", " \n ", "\t"])
        return text

    bad = 0
    for trial in range(trials):
        p = {
            "min_words": rnd.randrange(0, 20),
            "max_words": rnd.randrange(30, 200),
            "min_mean_word_len": rnd.uniform(0.0, 3.0),
            "max_mean_word_len": rnd.uniform(5.0, 15.0),
            "max_symbol_word_ratio": rnd.uniform(0.0, 0.3),
            "max_bullet_line_frac": rnd.uniform(0.2, 1.0),
            "max_ellipsis_line_frac": rnd.uniform(0.1, 1.0),
            "min_alpha_word_frac": rnd.uniform(0.3, 1.0),
            "min_stopword_hits": rnd.randrange(0, 3),
            "max_dup_line_frac": rnd.uniform(0.1, 1.0),
            "max_dup_line_char_frac": rnd.uniform(0.1, 1.0),
        }
        q = {
            "min_line_words": rnd.randrange(0, 6),
            "min_lines": rnd.randrange(0, 4),
        }
        texts = {d: rand_doc(rnd) for d in range(rnd.randrange(2, 8))}
        df = spark.createDataFrame(
            [(d, t) for d, t in texts.items()], "doc_id long, text string"
        )
        got_g = {
            r["doc_id"]: r.asDict() for r in gopher_quality_flags(df, **p).collect()
        }
        got_c = {
            r["doc_id"]: r.asDict() for r in c4_clean_lines(df, **q).collect()
        }
        for d, t in texts.items():
            eg = gopher_model(t, **p)
            ec = c4_model(t, **q)
            got_g[d]["fail_reasons"] = sorted(got_g[d]["fail_reasons"])
            if any(got_g[d][c] != v for c, v in eg.items()) or any(
                got_c[d][c] != v for c, v in ec.items()
            ):
                bad += 1
                print(
                    f"  text trial {trial} doc {d}: "
                    f"gopher got {got_g[d]} exp {eg}; "
                    f"c4 got {got_c[d]} exp {ec}\n"
                    f"    text={t!r}",
                    flush=True,
                )
                break
    return bad


def stress_paragraphs(spark, rnd, trials):
    """duplicate_paragraphs + strip_duplicate_paragraphs vs a literal
    Python model: paragraph pools with whitespace-padded copies, blank
    and one-char units, randomized min_chars / within_doc / keep_first,
    cross-doc and intra-doc repetition pressure."""
    from w4h_integrated_toolkit_spark.operators.dedup import (
        duplicate_paragraphs,
        strip_duplicate_paragraphs,
    )

    pool = [
        "the quick brown fox.",
        "boilerplate footer text",
        "x",
        "ab",
        "another unique paragraph here",
        "  boilerplate footer text  ",
        "\tthe quick brown fox.\t",
        "",
        "   ",
        "numbers 123 456",
    ]

    def ref(texts, min_chars, within, keep_first):
        units_by = {d: t.split("\n") for d, t in texts.items()}
        occ = {}
        for d in sorted(units_by):
            for i, u in enumerate(units_by[d]):
                tu = u.strip()
                if len(tu) >= min_chars:
                    occ.setdefault(tu, []).append((d, i))
        flagged = {}
        for tu, lst in occ.items():
            docs = {d for d, _ in lst}
            if len(docs) > 1 or (within and len(lst) >= 2):
                first = min(lst)
                for d, i in lst:
                    flagged[(d, i)] = (len(lst), (d, i) == first)
        out = {}
        for d, units in units_by.items():
            drops = {
                i
                for (dd, i), (n, isf) in flagged.items()
                if dd == d and (not isf if keep_first else True)
            }
            if drops:
                out[d] = "\n".join(
                    u for i, u in enumerate(units) if i not in drops
                )
            else:
                out[d] = texts[d]
        return flagged, out

    bad = 0
    for trial in range(trials):
        min_chars = rnd.randrange(1, 4)
        within = rnd.random() < 0.5
        keep_first = rnd.random() < 0.5
        texts = {
            d: "\n".join(
                rnd.choice(pool) for _ in range(rnd.randrange(0, 8))
            )
            for d in range(rnd.randrange(2, 7))
        }
        df = spark.createDataFrame(
            [(d, t) for d, t in texts.items()], "doc_id long, text string"
        )
        paras = duplicate_paragraphs(
            df, min_chars=min_chars, within_doc=within
        )
        got_f = {
            (r["doc_id"], r["para_idx"]): (r["n_copies"], r["is_first"])
            for r in paras.collect()
        }
        got_s = {
            r["doc_id"]: r["text"]
            for r in strip_duplicate_paragraphs(
                df, paras=paras, keep_first=keep_first
            ).collect()
        }
        exp_f, exp_s = ref(texts, min_chars, within, keep_first)
        if got_f != exp_f or got_s != exp_s:
            bad += 1
            print(
                f"  para trial {trial}: min_chars={min_chars} "
                f"within={within} keep_first={keep_first}\n"
                f"    flags got {sorted(got_f.items())}\n"
                f"          exp {sorted(exp_f.items())}\n"
                f"    strip diff "
                f"{ {d: (got_s[d], exp_s[d]) for d in got_s if got_s[d] != exp_s[d]} }",
                flush=True,
            )
    return bad


def stress_hamming(spark, rnd, trials):
    """hamming_neardup_pairs vs the literal all-pairs popcount model:
    random 64-bit hashes (negative longs included), random max_distance,
    planted k-bit flips. The banding law (pigeonhole recall) and the
    popcount verification must reproduce the quadratic ground truth
    exactly; max_bucket is set above n so the skew guard never trims
    the comparison."""
    from w4h_integrated_toolkit_spark.operators.dedup import (
        hamming_neardup_pairs,
    )

    bad = 0
    for trial in range(trials):
        n = rnd.randrange(4, 40)
        d = rnd.randrange(0, 12)
        hashes = {}
        for i in range(n):
            # flips happen in UNSIGNED space; sign conversion is the very
            # last step (xor on an already-negative Python int escapes the
            # 64-bit domain — arbitrary-precision ints, not two's
            # complement)
            if hashes and rnd.random() < 0.4:
                h = hashes[rnd.randrange(len(hashes))] & ((1 << 64) - 1)
                for _ in range(rnd.randrange(0, d + 3)):
                    h ^= 1 << rnd.randrange(64)
            else:
                h = rnd.getrandbits(64)
            if h >= 1 << 63:
                h -= 1 << 64
            hashes[i] = h
        df = spark.createDataFrame(
            list(hashes.items()), "doc_id long, phash long"
        )
        got = {
            (r["id_a"], r["id_b"]): r["distance"]
            for r in hamming_neardup_pairs(
                df, max_distance=d, max_bucket=n + 1
            ).collect()
        }
        exp = {}
        for a in range(n):
            for b in range(a + 1, n):
                dist = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
                if dist <= d:
                    exp[(a, b)] = dist
        if got != exp:
            bad += 1
            print(
                f"  hamming trial {trial}: n={n} d={d}\n"
                f"    got {sorted(got.items())}\n    exp {sorted(exp.items())}",
                flush=True,
            )
    return bad


def stress_embedding_guard(spark, rnd, trials):
    """neardup_pairs vs the literal bucketed-Gram model (same seeded
    hyperplanes, same sign bucketing, all in-bucket pairs >= threshold)
    — with the max_bucket guard OFF the outputs must match exactly, and
    with the guard ON over healthy data (cap above every bucket) they
    must not change. Degenerate trials plant an identical-vector flood:
    guarded output must contain no flood pair, keep every planted
    exact-duplicate pair outside the flood, and stay a subset of the
    unguarded output."""
    import math

    from w4h_integrated_toolkit_spark.operators.similarity import (
        hyperplanes,
        neardup_pairs,
    )

    def ref_pairs(vecs, planes, thr):
        buckets = {}
        for i, v in vecs:
            key = "".join(
                "1" if sum(x * w for x, w in zip(v, p)) >= 0 else "0"
                for p in planes
            )
            buckets.setdefault(key, []).append((i, v))
        out = {}
        for members in buckets.values():
            for a in range(len(members)):
                for b in range(a + 1, len(members)):
                    (ia, va), (ib, vb) = members[a], members[b]
                    na = math.sqrt(sum(x * x for x in va))
                    nb = math.sqrt(sum(x * x for x in vb))
                    cos = sum(x * y for x, y in zip(va, vb)) / (na * nb)
                    if cos >= thr:
                        out[(min(ia, ib), max(ia, ib))] = cos
        return out

    bad = 0
    for trial in range(trials):
        dim = rnd.randrange(4, 10)
        n = rnd.randrange(4, 30)
        n_planes = rnd.randrange(1, 4)
        thr = rnd.choice([0.3, 0.7, 0.9, 0.999])
        seed = rnd.randrange(1000)
        vecs = []
        for i in range(n):
            if vecs and rnd.random() < 0.3:  # planted exact duplicate
                vecs.append((i, list(vecs[rnd.randrange(len(vecs))][1])))
            else:
                vecs.append(
                    (i, [rnd.gauss(0.0, 1.0) for _ in range(dim)])
                )
        flood_ids = set()
        if rnd.random() < 0.5:  # degenerate identical-vector flood
            fv = [rnd.gauss(0.0, 1.0) for _ in range(dim)]
            flood_ids = set(range(n, n + 12))
            vecs += [(i, list(fv)) for i in flood_ids]
        df = spark.createDataFrame(
            [(i, v) for i, v in vecs], "vec_id long, embedding array<double>"
        )
        planes = hyperplanes(dim, n_planes, seed)
        exp = ref_pairs(vecs, planes, thr)
        kw = dict(
            threshold=thr, dim=dim, n_planes=n_planes, seed=seed
        )
        got_off = {
            (r["id_a"], r["id_b"]): r["cos"]
            for r in neardup_pairs(df, max_bucket=None, **kw).collect()
        }
        ok = set(got_off) == set(exp) and all(
            abs(got_off[k] - exp[k]) < 1e-9 for k in exp
        )
        got_healthy = {
            (r["id_a"], r["id_b"]): r["cos"]
            for r in neardup_pairs(df, max_bucket=4096, **kw).collect()
        }
        ok = ok and got_healthy == got_off
        if flood_ids:
            got_cap = {
                (r["id_a"], r["id_b"])
                for r in neardup_pairs(df, max_bucket=5, **kw).collect()
            }
            by_id = dict(vecs)
            in_flood = {
                k for k in exp
                if k[0] in flood_ids and k[1] in flood_ids
            }

            def keyof(v):
                return "".join(
                    "1" if sum(x * w for x, w in zip(v, p)) >= 0 else "0"
                    for p in planes
                )

            flood_key = keyof(fv)
            # only EXACT-duplicate pairs outside the flood AND outside
            # the flood's LSH bucket are guaranteed to survive the
            # sub-split: identical vectors are never separated, but a
            # pair sharing the flood's bucket can land in the flood's
            # over-cap sub-bucket (same content-defined bits) and be
            # skipped with it — the documented bystander trade; and
            # near-but-unequal pairs may lose a coin flip to the
            # content-defined bits at a tiny cap
            outside_exact = {
                k for k in exp
                if k[0] not in flood_ids and k[1] not in flood_ids
                and by_id[k[0]] == by_id[k[1]]
                and keyof(by_id[k[0]]) != flood_key
            }
            ok = (
                ok
                and got_cap <= set(exp)
                and not (got_cap & in_flood)
                and outside_exact <= got_cap
            )
        if not ok:
            bad += 1
            print(
                f"  embedding-guard trial {trial}: n={n} dim={dim} "
                f"planes={n_planes} thr={thr} flood={bool(flood_ids)}\n"
                f"    exp {sorted(exp)}\n    off {sorted(got_off)}",
                flush=True,
            )
    return bad


def stress_unigram(spark, rnd, trials):
    """unigram_segment vs a literal all-segmentations argmax under the
    exact (integer score, fewer tokens, lex token list) objective —
    randomized piece tables (chars sometimes MISSING, exercising the
    UNK single-char fallback) over randomized words."""
    from w4h_integrated_toolkit_spark.operators.unigram import (
        UNK_LOGP_1E9,
        unigram_segment,
    )

    def brute(word, lp, max_len):
        best = None

        def rec(i, acc, score):
            nonlocal best
            if i == len(word):
                cand = (score, len(acc), list(acc))
                if (
                    best is None
                    or cand[0] > best[0]
                    or (cand[0] == best[0] and cand[1] < best[1])
                    or (
                        cand[0] == best[0]
                        and cand[1] == best[1]
                        and cand[2] < best[2]
                    )
                ):
                    best = cand
                return
            for ln in range(1, min(max_len, len(word) - i) + 1):
                p = word[i : i + ln]
                w = lp.get(p)
                if w is None and ln == 1:
                    w = UNK_LOGP_1E9
                if w is None:
                    continue
                acc.append(p)
                rec(i + ln, acc, score + w)
                acc.pop()

        rec(0, [], 0)
        return best[2]

    bad = 0
    for trial in range(trials):
        alphabet = "abcd"
        words = [
            "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(1, 9)))
            for _ in range(rnd.randrange(3, 12))
        ]
        # random piece table: chars of a RANDOM subset (UNK covers the
        # rest), plus random substrings of the words at random scores
        pieces = {}
        for c in alphabet:
            if rnd.random() < 0.8:
                pieces[c] = -rnd.randrange(1_000_000_000, 4_000_000_000)
        cands = {
            w[i : i + ln]
            for w in words
            for i in range(len(w))
            for ln in (2, 3)
            if i + ln <= len(w)
        }
        for p in rnd.sample(sorted(cands), min(len(cands), 6)):
            pieces[p] = -rnd.randrange(1_500_000_000, 9_000_000_000)
        if not pieces:
            pieces["a"] = -2_000_000_000
        df = spark.createDataFrame(
            [(0, " ".join(words))], "doc_id long, text string"
        )
        got = unigram_segment(df, list(pieces.items())).collect()[0]["tokens"]
        max_len = max(len(p) for p in pieces)
        want = [t for w in words for t in brute(w, pieces, max_len)]
        if got != want:
            bad += 1
            print(
                f"  unigram trial {trial}: words={words}\n"
                f"    pieces={sorted(pieces.items())}\n"
                f"    got {got}\n    want {want}",
                flush=True,
            )
    return bad


def main() -> int:
    scale = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    spark = get_spark(
        "stress-check", cpus=8, shuffle_partitions=8, driver_memory="8g"
    )
    spark.sparkContext.setLogLevel("ERROR")
    rnd = random.Random(20260815)
    bad = 0
    for name, fn, trials in [
        ("bpe", stress_bpe, int(40 * scale)),
        ("scd2_apply", stress_scd2, int(25 * scale)),
        ("kmeans_fit", stress_kmeans, int(20 * scale)),
        ("pagerank", stress_pagerank, int(20 * scale)),
        ("duplicated_spans", stress_spans, int(20 * scale)),
        ("text_gates", stress_text_gates, int(20 * scale)),
        ("paragraph_dedup", stress_paragraphs, int(15 * scale)),
        ("hamming_pairs", stress_hamming, int(15 * scale)),
        ("embedding_guard", stress_embedding_guard, int(10 * scale)),
        ("unigram_segment", stress_unigram, int(15 * scale)),
    ]:
        b = fn(spark, rnd, max(1, trials))
        print(f"{name}: {b} mismatches in {max(1, trials)} trials", flush=True)
        bad += b
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
