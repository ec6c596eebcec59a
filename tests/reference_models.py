"""Literal sequential Python models of the operators whose output is
checked for exact equality, both by the Hypothesis properties
(tests/test_properties.py) and by the deep randomized sweep
(scripts/stress_check.py).

Each model is written once here, so a fix to a model reaches both
checks. The defaults are the values the property tests use; the stress
sweep passes the values it randomizes (thresholds, iteration counts,
scales, merge gaps). Models take plain Python values and know nothing
of Spark.
"""

from __future__ import annotations

import collections
import math
import re


def bpe_model(texts, n_merges=3):
    """Textbook sequential BPE trainer over the ``[a-z]+`` words of
    ``texts``. Returns ``(merges, token_counts)``: ``merges`` lists
    ``(rank, left, right, pair_count)``, the most frequent pair first with
    count ties broken by the lexicographically smallest pair, stopping
    early when no pair is left; ``token_counts`` is the corpus-weighted
    count of every symbol after the last merge. Each merge rewrites a word
    greedily left to right, so "aaaa" becomes ["aa", "aa"]."""
    wc = collections.Counter(
        w for t in texts for w in re.findall(r"[a-z]+", t.lower())
    )
    vocab = {w: list(w) for w in wc}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = collections.Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        top = max(pc.values())
        pair = min(p for p, c in pc.items() if c == top)
        merges.append((rank, pair[0], pair[1], pc[pair]))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == pair[0]
                    and syms[i + 1] == pair[1]
                ):
                    out.append(pair[0] + pair[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    token_counts = collections.Counter()
    for w, syms in vocab.items():
        for s in syms:
            token_counts[s] += wc[w]
    return merges, token_counts


def pagerank_model(edges, iterations=3, damping=85, scale=10**12):
    """The integer fixed-point PageRank recurrence over ``edges``
    (``{(src, dst): weight}``, duplicates already summed). Every node
    starts at ``scale // n``; each step gives a node the teleport share
    plus ``damping``% of the floor-divided mass its in-edges carry.
    Dangling nodes drop their mass. Returns ``{node: rank}``."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for (s, _), w in edges.items():
        out[s] = out.get(s, 0) + w
    n = len(nodes)
    teleport = ((100 - damping) * scale // 100) // n
    rank = {v: scale // n for v in nodes}
    for _ in range(iterations):
        incoming = {}
        for (s, d), w in edges.items():
            incoming[d] = incoming.get(d, 0) + (rank[s] * w) // out[s]
        rank = {
            v: teleport + (damping * incoming.get(v, 0)) // 100 for v in nodes
        }
    return rank


def half_away(x, scale):
    """``x * scale`` rounded half away from zero to an int: the test-side
    twin of the operators' HALF_UP ``F.round(x * scale)`` (Python's
    ``round()`` rounds half to even)."""
    y = x * scale
    return int(math.floor(y + 0.5) if y >= 0 else -math.floor(-y + 0.5))


def kmeans_model(vecs, centroids, iterations=1, scale=10**6):
    """The integer Lloyd step, chained ``iterations`` times. ``vecs`` and
    ``centroids`` map ids to float vectors; both are quantized to
    ``x * scale`` rounded half away from zero, as Spark's ``round`` does.
    A vector joins the nearest centroid by squared integer distance, ties
    to the lowest centroid id; a new centroid is the floor-divided member
    sum, and a centroid with no members vanishes. Returns
    ``{(centroid_id, dim): (q_value, n_members)}`` of the last step."""

    qv = {vid: [half_away(x, scale) for x in v] for vid, v in vecs.items()}
    cents = {
        cid: [half_away(x, scale) for x in c] for cid, c in centroids.items()
    }
    cells = {}
    for _ in range(iterations):
        members = {}
        for vid in sorted(qv):
            _, best = min(
                (sum((a - b) * (a - b) for a, b in zip(qv[vid], cents[c])), c)
                for c in sorted(cents)
            )
            members.setdefault(best, []).append(qv[vid])
        cells, cents = {}, {}
        for cid, ms in members.items():
            cents[cid] = [sum(col) // len(ms) for col in zip(*ms)]
            for dim, value in enumerate(cents[cid]):
                cells[(cid, dim)] = (value, len(ms))
    return cells


def spans_model(texts, within_doc, k=3, merge_gap=None):
    """duplicated_spans + strip_duplicated_spans as a sequential
    window/island model over ``texts`` (``{doc_id: text}``). A k-token
    window is duplicated when it occurs in two documents, or twice in one
    when ``within_doc``; duplicated window starts at most ``merge_gap``
    (default ``k``) apart merge into one island. Returns ``(spans, cut)``:
    ``spans`` is the set of ``(doc_id, start_tok, end_tok, n_matched)``
    and ``cut`` each document with its islands removed (an untouched
    document stays byte-identical)."""
    gap = k if merge_gap is None else merge_gap
    docs_of: dict[tuple, set] = {}
    count = collections.Counter()
    toks_by = {}
    for d, t in texts.items():
        toks = t.strip().split()
        toks_by[d] = toks
        for p in range(len(toks) - k + 1):
            w = tuple(toks[p : p + k])
            docs_of.setdefault(w, set()).add(d)
            count[w] += 1
    dup = {
        w
        for w, c in count.items()
        if len(docs_of[w]) > 1 or (within_doc and c >= 2)
    }
    spans = set()
    cut = {}
    for d, toks in toks_by.items():
        pos = [
            p for p in range(len(toks) - k + 1) if tuple(toks[p : p + k]) in dup
        ]
        islands: list[list[int]] = []
        for p in pos:
            if islands and p - islands[-1][-1] <= gap:
                islands[-1].append(p)
            else:
                islands.append([p])
        ivs = [(isl[0], isl[-1] + k) for isl in islands]
        for isl in islands:
            spans.add((d, isl[0], isl[-1] + k, len(isl)))
        cut[d] = (
            " ".join(
                t
                for i, t in enumerate(toks)
                if not any(a <= i < b for a, b in ivs)
            )
            if ivs
            else texts[d]
        )
    return spans, cut


def gopher_model(
    text,
    min_words=50,
    max_words=100_000,
    min_mean_word_len=3.0,
    max_mean_word_len=10.0,
    max_symbol_word_ratio=0.1,
    max_bullet_line_frac=0.9,
    max_ellipsis_line_frac=0.3,
    min_alpha_word_frac=0.8,
    min_stopword_hits=2,
    max_dup_line_frac=0.3,
    max_dup_line_char_frac=0.2,
):
    """Every gopher_quality_flags statistic and rule verdict, re-derived
    with the same regexes and the same integer counts and double
    divisions, so equality is exact. The thresholds are the operator's
    arguments of the same names (defaults: the paper's). Returns the
    statistics plus the sorted ``fail_reasons`` and ``passes``."""

    def ratio(a, b):
        return a / b if b else 0.0

    stop = ["the", "be", "to", "of", "and", "that", "have", "with"]
    t = text.strip()
    words = re.split(r"\s+", t) if t else []
    n_words = len(words)
    n_sym = len(re.findall(r"#", t)) + len(re.findall(r"\.\.\.|…", t))
    lines = [x.strip() for x in text.split("\n")]
    lines = [x for x in lines if x != ""]
    s = sorted(lines)
    dups = [s[i] for i in range(1, len(s)) if s[i] == s[i - 1]]
    lw = {w.lower() for w in words}
    stats = {
        "n_words": n_words,
        "mean_word_len": ratio(len(re.sub(r"\s", "", t)), n_words),
        "symbol_word_ratio": ratio(n_sym, n_words),
        "bullet_line_frac": ratio(
            sum(1 for x in lines if re.search(r"^[•‣▪●*-]", x)), len(lines)
        ),
        "ellipsis_line_frac": ratio(
            sum(1 for x in lines if re.search(r"(\.\.\.|…)$", x)), len(lines)
        ),
        "alpha_word_frac": ratio(
            sum(1 for w in words if re.search(r"[A-Za-z]", w)), n_words
        ),
        "stopword_hits": sum(1 for w in stop if w in lw),
        "dup_line_frac": ratio(len(dups), len(lines)),
        "dup_line_char_frac": ratio(
            sum(len(x) for x in dups), sum(len(x) for x in lines)
        ),
    }
    rules = {
        "word_count": min_words <= n_words <= max_words,
        "mean_word_len": (
            min_mean_word_len <= stats["mean_word_len"] <= max_mean_word_len
        ),
        "symbol_word_ratio": stats["symbol_word_ratio"] <= max_symbol_word_ratio,
        "bullet_lines": stats["bullet_line_frac"] <= max_bullet_line_frac,
        "ellipsis_lines": stats["ellipsis_line_frac"] <= max_ellipsis_line_frac,
        "alpha_words": stats["alpha_word_frac"] >= min_alpha_word_frac,
        "stopwords": stats["stopword_hits"] >= min_stopword_hits,
        "dup_lines": stats["dup_line_frac"] <= max_dup_line_frac,
        "dup_line_chars": stats["dup_line_char_frac"] <= max_dup_line_char_frac,
    }
    reasons = sorted(name for name, ok in rules.items() if not ok)
    return {**stats, "fail_reasons": reasons, "passes": not reasons}


def c4_model(text, min_line_words=5, min_lines=3):
    """c4_clean_lines re-derived: keep the stripped non-blank lines that
    end in terminal punctuation (closing quotes and brackets allowed
    after it), carry at least ``min_line_words`` words and do not mention
    "javascript"; keep the document when at least ``min_lines`` lines
    survive and it holds neither "lorem ipsum" nor "{"."""
    lines = [x.strip() for x in text.split("\n")]
    lines = [x for x in lines if x != ""]
    kept = [
        x
        for x in lines
        if re.search(r"[.!?…][\"'”’)\]]*$", x)
        and len(re.split(r"\s+", x)) >= min_line_words
        and "javascript" not in x.lower()
    ]
    low = text.lower()
    return {
        "text": "\n".join(kept),
        "n_lines_kept": len(kept),
        "n_lines_dropped": len(lines) - len(kept),
        "doc_kept": (
            len(kept) >= min_lines and "lorem ipsum" not in low and "{" not in low
        ),
    }
