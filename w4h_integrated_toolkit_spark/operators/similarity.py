"""Similarity search over embedding columns (north-star ops).

- **cosine_topk** — exact brute-force top-k: query set broadcast against the
  corpus; pair scores via an Arrow-batched vectorized cosine (einsum over
  the whole batch — array HOF folds run interpreted per element and are
  >10x slower at corpus scale), then top-k per query without a global sort.
- **lsh_topk** — random-hyperplane LSH bucketing; queries only score
  candidates sharing a bucket, trading recall for a bounded candidate set.
  Hyperplanes are deterministic (seeded) literal arrays.
- **neardup_pairs** — the dedup scale path: sign-LSH blocking + per-bucket
  BLAS Gram matrix, so pair scoring never ships O(pairs) vector copies —
  each bucket's vectors cross Arrow once and numpy does the O(b²·d) work.

Float caveat: BLAS/einsum use pairwise summation while SQL engines sum
sequentially; results agree to ~1e-12 relative, so oracle comparisons
round (5 decimals here). Exact-fold `dot`/`cosine` Column helpers remain
for the cases where bit-exactness matters more than speed.
"""

from __future__ import annotations

import math
import random
from collections.abc import Iterator

import pandas as pd

from pyspark import Accumulator
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "cosine_topk",
    "ivf_topk",
    "lsh_topk",
    "neardup_pairs",
    "semantic_dedup",
    "hyperplanes",
    "sign_bucket_key",
    "quantize_int8",
    "quantized_topk",
    "kmeans_iteration",
    "kmeans_fit",
    "centroid_arrays",
]


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold in double — deterministic and
    reproducible by the oracle's list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def _as_double_expr(col_name: str) -> Column:
    """``_as_double`` over a plain column, built as ONE parsed SQL
    expression instead of a Column lambda (r16 construction pass — same
    analyzed expression, ~10x fewer py4j round-trips)."""
    return F.expr(f"transform(`{col_name}`, x -> CAST(x AS DOUBLE))")


# DataType instance (not DDL string): a module-level pandas_udf must not
# need an active session at import time
@F.pandas_udf(T.DoubleType())
def _cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine over an Arrow batch of vector pairs: one einsum per
    batch instead of an interpreted fold per element."""
    import numpy as np

    A = np.stack(a.to_numpy()).astype(np.float64)
    B = np.stack(b.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", A, B)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    return pd.Series(num / den)


def _rank_topk(scored: DataFrame, score: str, k: int) -> DataFrame:
    """Keep each query's ``k`` best neighbors as (query_id, neighbor_id,
    rank, ``score``): rank by ``score`` descending, ties to the smaller
    neighbor id, so the result is deterministic. The window is ONE parsed
    OVER expression: the same WindowExpression as a Window-spec chain
    (DESC/ASC null ordering defaults match the Column API's), built with
    fewer driver calls."""
    return scored.select(
        "query_id",
        "neighbor_id",
        F.expr(
            "row_number() OVER (PARTITION BY query_id "
            f"ORDER BY {score} DESC, neighbor_id ASC) AS rank"
        ),
        score,
    ).filter(f"rank <= {k}")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are broadcast (small side) so the corpus is scanned once
    map-side; ranking via row_number over (query, score desc, id) — the id
    tiebreak makes results fully deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double_expr(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double_expr(vec_col).alias("cv")
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cos", _cosine_batch(F.col("qv"), F.col("cv"))
    )
    if exclude_self:
        scored = scored.filter("query_id != neighbor_id")
    return _rank_topk(scored, "cos", k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int = 50,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    max_centroids: int = 65536,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: corpus vectors
    are assigned to their nearest coarse centroid by cosine, and each query
    scores only the vectors in its ``nprobe`` nearest cells.

    By default centroids are the deterministic subset
    ``id % centroid_stride == 0`` (determinism is what lets the SQL oracle
    reproduce the index); pass ``centroids`` — any (id_col, vec_col) frame,
    e.g. :func:`kmeans_fit` output rebuilt into arrays via
    :func:`centroid_arrays` — to probe against a REAL coarse quantizer
    instead, with identical plan shape. Scale shape: the coarse
    quantizer is tiny by construction (K ~ sqrt(n)), so it is collected and
    closure-captured in an Arrow-batched assignment UDF — cell assignment
    is then a pure map-side pass over the corpus (the "index build";
    persist it partitioned by cell and the probe phase becomes a pruned
    scan of nprobe/K of the corpus). Probing joins broadcast query probes
    on cell, so the corpus itself NEVER shuffles — only the candidate rows
    inside probed cells move for the final per-query ranking. Ties break by
    centroid/neighbor id everywhere, so results are deterministic and
    engine-reproducible.

    The centroid collect is CAPPED at ``max_centroids`` (the probe is a
    single ``limit(cap+1)`` job, so an over-sized quantizer fails fast
    with an actionable error instead of materializing an unbounded
    driver-side array — the same guard shape as ReplaySource's timestamp
    index). K ~ sqrt(n) means the default cap covers corpora to ~4e9
    vectors; raise ``centroid_stride`` (fewer, coarser cells) before
    raising the cap.
    """
    import numpy as np

    cent_src = (
        centroids
        if centroids is not None
        else corpus.filter(F.col(id_col) % centroid_stride == 0)
    )
    cent_rows = sorted(
        cent_src.select(
            F.col(id_col).alias("cid"), _as_double_expr(vec_col).alias("cv")
        )
        .limit(max_centroids + 1)
        .collect(),
        key=lambda r: r["cid"],
    )
    if len(cent_rows) > max_centroids:
        raise ValueError(
            f"IVF coarse quantizer exceeds max_centroids={max_centroids} "
            f"(centroid_stride={centroid_stride} selects more than that from "
            "this corpus); increase centroid_stride so K ~ sqrt(n) stays "
            "driver-collectable, or raise max_centroids deliberately"
        )
    cids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    C = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in cent_rows])
    Cn = (C / np.linalg.norm(C, axis=1, keepdims=True)).T  # (dim, K)

    def top_cells(n: int):
        @F.pandas_udf(T.ArrayType(T.LongType()))
        def _cells(vs: pd.Series) -> pd.Series:
            V = np.stack(vs.to_numpy()).astype(np.float64)
            S = (V / np.linalg.norm(V, axis=1, keepdims=True)) @ Cn  # (rows, K)
            # centroid ids ascend with column index, so a stable argsort on
            # -score breaks score ties by smaller cid — same order as the
            # oracle's (cs DESC, cid) row_number
            order = np.argsort(-S, axis=1, kind="stable")[:, :n]
            return pd.Series(list(cids[order]))

        return _cells

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double_expr(vec_col).alias("nv")
    )
    assigned = c.withColumn("cell", top_cells(1)(F.col("nv"))[0])
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double_expr(vec_col).alias("qv")
    )
    probes = q.withColumn(
        "cell", F.explode(top_cells(nprobe)(F.col("qv")))
    )
    scored = assigned.join(F.broadcast(probes), "cell").withColumn(
        "cos", _cosine_batch(F.col("qv"), F.col("nv"))
    )
    if exclude_self:
        scored = scored.filter("query_id != neighbor_id")
    return _rank_topk(scored, "cos", k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded Gaussian hyperplanes, inlined as literals on both the Spark and
    oracle sides so sign-LSH bucketing is engine-reproducible."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


_hyperplanes = hyperplanes  # back-compat alias


def sign_bucket_key(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one character per plane, '1' iff
    dot(vec, plane) >= 0. Pure map-side column expression."""
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(p) for p in plane])) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def _sign_hash_bit(vec: Column, j: int, seed: int) -> Column:
    """One Rademacher sign-LSH bit: sign of dot(vec, w_j) where
    w_j[i] = ±1 from xxhash64(seed, j, i). Dimension-agnostic (the ±1
    weights come from the element index, so no literal plane array is
    needed) and content-defined: near-identical vectors get the same
    bit w.h.p., identical vectors always do. The Rademacher family is a
    valid sign-LSH distribution (symmetric, mean-zero)."""
    prods = F.transform(
        vec,
        lambda x, i: F.when(
            F.pmod(F.xxhash64(F.lit(seed), F.lit(j), i), F.lit(2)) == 0, x
        ).otherwise(-x),
    )
    s = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    return F.when(s >= 0, F.lit("1")).otherwise(F.lit("0"))


_SUBSPLIT_MAX_BITS = 16


def _subsplit_oversized(
    df: DataFrame,
    key_cols: list[str],
    vec_col: str,
    cap: int,
    seed: int,
) -> DataFrame:
    """Append a ``_sub`` column that splits groups larger than ``cap``
    with ceil(log2(n/cap)) content-defined sign-LSH bits (max 16), the
    documented hot-shingle recipe: a skewed/giant group otherwise
    funnels an O(b²·d) Gram kernel into ONE executor task. Groups at or
    under the cap get ``_sub = ''`` — their kernel input is unchanged.
    The split is content-defined (see :func:`_sign_hash_bit`), so
    near-identical vectors stay together w.h.p. and IDENTICAL vectors
    are never separated — an exact-duplicate flood must be handled by
    the caller's kernel guard (these groups cannot be split by any
    content-defined function).

    The cap is a SOFT target: the bit count carries 3 slack bits
    (expected sub-group ≈ cap/8) because sign bits over real embedding
    families are correlated and a ceil(log2(n/cap))-bit split routinely
    leaves some sub-group past the cap. Callers enforce a HARD bound at
    2×cap in the kernel — memory is O((2·cap)²), same order.

    Cost when nothing is over the cap: one tiny partial-aggregated
    count shuffle (group-key cardinality rows, vectors never move) and
    a broadcast join back; the sign bits are inside a codegen If, so
    under-cap rows never pay the O(d·bits) fold.

    The size join is NULL-SAFE on the group keys: groupBy keeps a NULL
    cluster key as its own group, so an equi-join here would silently
    DROP every NULL-keyed row from a row-preserving caller."""
    import functools
    import operator

    reserved = {"_n", "_sub"} | {f"__w4h_sz_{k}" for k in key_cols}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"input carries reserved sub-split column(s) {sorted(clash)}; "
            "rename them before the capped kernel"
        )
    sizes = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_n"))
    renamed = {k: f"__w4h_sz_{k}" for k in key_cols}
    for k, rk in renamed.items():
        sizes = sizes.withColumnRenamed(k, rk)
    cond = functools.reduce(
        operator.and_,
        [df[k].eqNullSafe(sizes[rk]) for k, rk in renamed.items()],
    )
    out = df.join(F.broadcast(sizes), cond).drop(*renamed.values())
    nbits = F.least(
        F.ceil(
            F.log2(F.col("_n").cast("double") / F.lit(float(cap)))
        ).cast("int")
        + F.lit(3),
        F.lit(_SUBSPLIT_MAX_BITS),
    )
    sig = F.concat(
        *[
            _sign_hash_bit(F.col(vec_col), j, seed)
            for j in range(_SUBSPLIT_MAX_BITS)
        ]
    )
    sub = (
        F.when(F.col("_n") <= cap, F.lit(""))
        .otherwise(sig.substr(F.lit(1), nbits))
    )
    return out.withColumn("_sub", sub).drop("_n")


def neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH blocking.

    Scale shape: one map-side bucket-key projection, ONE shuffle on the
    bucket key, then a per-bucket BLAS Gram matrix scores every in-bucket
    pair (recall trade: a pair is found only if no plane separates it —
    P ≈ (1 - θ/π)^n_planes per pair). At 100 TB the bucket shuffle
    replaces an O(n²) cross join, and the grouped-map kernel keeps the
    vector bytes moving through Arrow exactly once per bucket (a pair-join
    formulation would copy each vector O(bucket-size) times). Raise
    n_planes as n grows to keep buckets bounded, or band multiple keys for
    recall. Output: (id_a < id_b, cos ≥ threshold).

    ``max_bucket`` bounds the quadratic kernel: buckets over the cap are
    sub-split with content-defined sign-LSH bits
    (:func:`_subsplit_oversized` — near-identical pairs stay together
    w.h.p., so near-dup recall in a diverse mega-bucket barely moves),
    and any sub-bucket STILL over 2× the cap is SKIPPED by the kernel,
    mirroring :func:`~.dedup.hamming_neardup_pairs`. That skip is
    usually an exact-duplicate flood (unsplittable by any
    content-defined function — pairing a million identical vectors is
    O(b²) work that tells you nothing ``exact_dedup`` on a vector hash
    wouldn't), but it CAN also hit a heavily-correlated diverse tail
    whose sign bits refuse to spread (the +3 slack bits make that a
    tail event, not an impossibility) and the rare bystander pair
    sharing ALL the flood's sub-split bits (stress-pinned trade). The
    pair-set output has no row to hang a flag on: a caller that needs
    to know whether any group was skipped uses
    :func:`neardup_pairs_counted`, which returns the skip count next to
    the pairs (0 = every group was paired). A recall-contractual caller
    asserts 0, or raises ``max_bucket``/``n_planes`` until no skip can
    trigger, or passes ``max_bucket=None`` to disable the guard — the
    oracle-gated registry queries do exactly that: the parity law needs
    the uncapped semantics.
    """
    return _neardup_pairs(
        df, threshold=threshold, dim=dim, n_planes=n_planes, id_col=id_col,
        vec_col=vec_col, seed=seed, max_bucket=max_bucket,
    )[0]


def _neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int | None = 4096,
) -> tuple[DataFrame, Accumulator]:
    """:func:`neardup_pairs`'s body: the lazy pairs and the accumulator
    its kernel adds 1 to for every skipped sub-bucket."""
    import numpy as np

    planes = hyperplanes(dim, n_planes, seed)
    skipped_acc = df.sparkSession.sparkContext.accumulator(0)
    b = df.select(
        F.col(id_col).alias("vid"), _as_double_expr(vec_col).alias("v")
    ).withColumn("bucket", sign_bucket_key(F.col("v"), planes))
    group_cols = ["bucket"]
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
        b = _subsplit_oversized(b, ["bucket"], "v", max_bucket, seed)
        group_cols = ["bucket", "_sub"]

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        # per-bucket Gram matrix: O(b²·d) in BLAS, vectors cross Arrow once
        ids = pdf["vid"].to_numpy()
        if len(ids) < 2 or (
            max_bucket is not None and len(ids) > 2 * max_bucket
        ):
            # far over the soft cap after sub-split = exact-duplicate
            # flood: skip (see docstring; exact_dedup the vectors
            # instead). 2x is the hard bound _subsplit_oversized names.
            if len(ids) >= 2:
                skipped_acc.add(1)
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        N = V / np.linalg.norm(V, axis=1, keepdims=True)
        G = N @ N.T
        iu, ju = np.triu_indices(len(ids), k=1)
        cos = G[iu, ju]
        keep = cos >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos[keep]})

    out = b.groupBy(*group_cols).applyInPandas(
        block, "id_a long, id_b long, cos double"
    )
    return out, skipped_acc


def neardup_pairs_counted(df: DataFrame, **kwargs) -> tuple[DataFrame, int]:
    """:func:`neardup_pairs` with the count of skipped sub-buckets
    returned next to the pairs.

    Runs exactly one full action against a persisted result and reads
    the accumulator once: ``(pairs, skipped_count)``. Because the
    returned DataFrame is persisted, later actions on it replay cached
    partitions instead of re-running the pairing kernel, so the count
    stays consistent with the rows the caller will read (task
    retries/speculation can still over-count within the one pass — read
    it as a flag: 0 means every group was paired). The caller owns the
    persist: ``pairs.unpersist()`` when done.
    """
    pairs, acc = _neardup_pairs(df, **kwargs)
    pairs = pairs.persist()
    pairs.count()
    return pairs, int(acc.value)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via random-hyperplane (sign) LSH.

    Bucket key = sign bits against ``n_planes`` hyperplanes; only same-bucket
    pairs are scored. At 100 TB: corpus bucketed once (map-side key compute +
    one shuffle on bucket), each query probes one bucket instead of the whole
    corpus. Recall < 1 by design; raise n_planes/bands for precision."""
    planes = hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double_expr(vec_col).alias("cv")
    ).withColumn("bucket", sign_bucket_key(F.col("cv"), planes))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double_expr(vec_col).alias("qv")
    ).withColumn("bucket", sign_bucket_key(F.col("qv"), planes))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter("query_id != neighbor_id")
        .withColumn("cos", _cosine_batch(F.col("qv"), F.col("cv")))
    )
    return _rank_topk(scored, "cos", k)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.3,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = 4096,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): within
    each cluster, vectors whose pairwise cosine meets ``threshold`` form
    near-duplicate groups; every member loses to the group-mate closest to
    the cluster centroid (ties: smaller id wins). Output is one row per
    input vector — (id, cluster, cc = cosine-to-centroid, kept 1/0) — so
    both the keep and the drop side of the decision are verifiable.

    Scale shape: identical to :func:`neardup_pairs` — ONE shuffle on the
    cluster key, then a per-cluster Arrow kernel does the O(b²·d) Gram
    work in BLAS with each vector crossing Arrow exactly once. The paper's
    clusters come from a k-means pass whose k is chosen to bound cluster
    size (b ~ n/k rows), so the quadratic term is bounded by design; here
    the precomputed ``cluster_col`` plays that role (any coarse quantizer
    — the IVF assignment above, sign-LSH buckets, or a label — slots in).

    ``max_cluster`` enforces that bound when the quantizer fails:
    clusters over the cap are sub-split with content-defined sign-LSH
    bits (:func:`_subsplit_oversized`) and each sub-cluster dedups
    against its own centroid — an explicit approximation of the paper's
    per-cluster semantics (near-identical vectors stay together w.h.p.,
    so keep/drop among actual near-dups is mostly preserved; the
    cross-sub-cluster comparisons are forgone, trading a little recall
    for a bounded kernel). A sub-cluster STILL over 2× the cap is an
    exact-duplicate flood no content-defined split can separate — the
    kernel RAISES with the remedy (this operator emits one row per
    input vector, so silently dropping rows is not an option), because
    the alternative is the same job death by executor OOM without the
    message. ``max_cluster=None`` disables the guard.

    Determinism: the centroid is a scaled-integer mean (order-independent,
    engine-exact), and all comparisons — the pair threshold and the
    closer-to-centroid contest — happen on half-away-from-zero µ-rounded
    integers, so an SQL oracle reproduces every keep/drop decision.
    """
    import numpy as np

    thr_i = int(np.floor(abs(threshold) * 1e6 + 0.5)) * (
        1 if threshold >= 0 else -1
    )

    def _away(x):
        # half-away-from-zero (np.rint/np.round are banker's; SQL round is not)
        return np.sign(x) * np.floor(np.abs(x) + 0.5)

    ctype = dict(df.dtypes)[cluster_col]
    out_schema = f"{id_col} long, {cluster_col} {ctype}, cc double, kept long"

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_vid"].to_numpy()
        n = len(ids)
        if max_cluster is not None and n > 2 * max_cluster:
            # 2x the soft cap is the hard bound _subsplit_oversized names
            raise ValueError(
                f"semantic_dedup: a sub-cluster of cluster "
                f"{pdf['_c'].iloc[0]!r} still holds {n} rows after the "
                f"content-defined sub-split (max_cluster={max_cluster}) "
                f"— an exact-duplicate embedding flood. Run exact dedup "
                f"on a vector hash first, or raise max_cluster."
            )
        V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        # scaled-integer centroid: exact in any engine, any summation order
        cent = _away(V * 1e6).astype(np.int64).sum(axis=0) / (1e6 * n)
        Nv = V / np.linalg.norm(V, axis=1, keepdims=True)
        cn = cent / np.linalg.norm(cent)
        cci = _away(Nv @ cn * 1e6).astype(np.int64)
        if n > 1:
            G = Nv @ Nv.T
            M = _away(G * 1e6).astype(np.int64) >= thr_i
            np.fill_diagonal(M, False)
            beats = (cci[:, None] > cci[None, :]) | (
                (cci[:, None] == cci[None, :]) & (ids[:, None] < ids[None, :])
            )
            dropped = (M & beats).any(axis=0)
        else:
            dropped = np.zeros(1, dtype=bool)
        return pd.DataFrame(
            {
                id_col: ids,
                cluster_col: pdf["_c"].to_numpy(),
                "cc": cci / 1e6,
                "kept": (~dropped).astype(np.int64),
            }
        )

    b = df.select(
        F.col(id_col).alias("_vid"),
        F.col(cluster_col).alias("_c"),
        _as_double_expr(vec_col).alias("_v"),
    )
    group_cols = ["_c"]
    if max_cluster is not None:
        if max_cluster < 2:
            raise ValueError(f"max_cluster must be >= 2, got {max_cluster}")
        b = _subsplit_oversized(b, ["_c"], "_v", max_cluster, seed)
        group_cols = ["_c", "_sub"]
    return b.groupBy(*group_cols).applyInPandas(block, out_schema)


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = round(x_i/scale) ∈ [-127, 127]. The 100 TB memory lever for
    embedding workloads — 4x fewer bytes than float32 (8x vs the double
    arrays SQL engines materialize), which is the difference between an
    in-memory ANN probe and a spilled one at billion-vector scale.

    COSINE survives quantization losslessly in structure: the per-vector
    scale cancels in (q_a·q_b)/(|q_a||q_b|), so downstream scoring uses
    the int vectors directly — integer dot products are exact and
    summation-order-invariant, making quantized scores deterministic
    across engines/partitionings (unlike float dots). Error comes only
    from the rounding itself (~1/254 per component relative).

    Map-side only: one codegen'd expression per row, zero shuffles.
    All-zero vectors quantize to all-zero (scale pinned to 1 to avoid
    0/0) and score NULL downstream like any zero-norm vector.
    """
    # The nested transforms are built as parsed SQL expression strings
    # instead of chained Column lambdas: the arithmetic is token-identical
    # (CASE WHEN mirrors when/otherwise, the scale subtree inlines at each
    # use exactly as Column reuse does), but plan construction drops from
    # dozens of py4j round-trips to three parses (r16 construction pass).
    v = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    amax = f"array_max(transform({v}, x -> abs(x)))"
    scale = f"(CASE WHEN {amax} > 0 THEN {amax} / 127.0D ELSE 1.0D END)"
    return df.select(
        F.col(id_col),
        F.expr(f"transform({v}, x -> CAST(round(x / {scale}, 0) AS INT))").alias(
            "qvec"
        ),
        F.expr(f"round({scale} * 1e9, 0) / 1e9").alias("q_scale"),
    )


@F.pandas_udf(T.DoubleType())
def _int_cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine over int8-quantized vector pairs: int64 einsum
    (exact) for the dot, float only in the final norm division."""
    import numpy as np

    A = np.stack(a.to_numpy()).astype(np.int64)
    B = np.stack(b.to_numpy()).astype(np.int64)
    num = np.einsum("ij,ij->i", A, B).astype(np.float64)
    den = np.sqrt(np.einsum("ij,ij->i", A, A).astype(np.float64)) * np.sqrt(
        np.einsum("ij,ij->i", B, B).astype(np.float64)
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        out = num / den
    return pd.Series(out)


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force top-k cosine over int8-quantized vectors — the same
    broadcast-queries/scan-corpus-once plan as :func:`cosine_topk`, at a
    quarter of the vector bytes crossing Arrow. Quantize once upstream
    (``quantize_int8``) and reuse for every query batch; recall vs the
    float path is ~1.0 for real embedding distributions (validated by the
    ``quantized_knn_recall`` registry entry's bound).

    The integer dot makes scores partition-invariant; ranking ties break
    on neighbor id, so the result is fully deterministic.
    """
    qq = quantize_int8(queries, vec_col, id_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("qv")
    )
    qc = quantize_int8(corpus, vec_col, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("cv")
    )
    scored = qc.crossJoin(F.broadcast(qq)).withColumn(
        "qcos", _int_cosine_batch(F.col("qv"), F.col("cv"))
    )
    if exclude_self:
        scored = scored.filter("query_id != neighbor_id")
    # NULL scores are dropped BEFORE ranking (zero-norm vectors must not
    # consume rank slots)
    return _rank_topk(scored.filter("qcos IS NOT NULL"), "qcos", k)


def kmeans_iteration(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """One Lloyd iteration of k-means in INTEGER fixed point: quantize
    every component to ``round(x·scale)``, assign each vector to the
    centroid minimizing the exact integer squared distance (ties break
    to the lowest centroid id), and emit the updated centroids as
    per-dimension floor-divided integer means — the same
    deterministic-iteration discipline as graph.pagerank_fixed_point,
    which is what makes an ITERATIVE ML primitive exactly oracle-able
    (float Lloyd steps diverge across engines in both the argmin ties
    and the mean's summation order).

    Returns (centroid_id, dim, q_value, n_members): the quantized updated
    centroid components. Chain iterations by turning that back into an
    array frame; at convergence-check time compare integer components —
    no epsilon needed.

    Plan: centroids are broadcast (k rows — the k-means contract); the
    distance/argmin runs in ONE codegen'd zip_with/aggregate expression
    per (vector, centroid) pair from a broadcast join, the argmin is a
    vec_id aggregate, and the centroid update is a (centroid, dim)
    aggregate over posexploded quantized components. The corpus never
    shuffles except as (id, small-struct) aggregate traffic.

    Overflow: |q| <= scale·max|x|; per-dim diff² <= (2·scale·max|x|)²
    — at the default scale and unit-normish embeddings that is ~4e12
    per dim, 2.6e14 over 64 dims, comfortably int64.
    """
    q = F.transform(
        F.col(vec_col), lambda x: F.round(x * F.lit(float(scale)), 0).cast("long")
    )
    vq = vectors.select(F.col(id_col).alias("_vid"), q.alias("_q"))
    cq = centroids.select(F.col(id_col).alias("_cid"), q.alias("_cq"))
    return _lloyd_step_q(vq, cq)


def _lloyd_step_q(vq: DataFrame, cq: DataFrame) -> DataFrame:
    """One Lloyd step over ALREADY-QUANTIZED frames — ``vq`` is
    (_vid, _q: array<long>), ``cq`` is (_cid, _cq: array<long>) — so
    iteration chaining (:func:`kmeans_fit`) stays in integers end to
    end with no float round trip. Emits (centroid_id, dim, q_value,
    n_members); centroids that attract no members are DROPPED (k may
    shrink), the one empty-cluster policy a SQL oracle can mirror."""
    dist = F.aggregate(
        F.zip_with("_q", "_cq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    assigned = (
        vq.join(F.broadcast(cq))
        .select("_vid", "_q", F.struct(dist.alias("d"), F.col("_cid")).alias("_dc"))
        .groupBy("_vid")
        .agg(F.min("_dc").alias("_best"), F.first("_q").alias("_q"))
        .select("_vid", F.col("_best._cid").alias("_cid"), "_q")
    )
    comp = assigned.select(
        "_cid", F.posexplode("_q").alias("dim", "_qi")
    )
    return (
        comp.groupBy("_cid", "dim")
        .agg(
            F.expr("CAST(sum(_qi) AS BIGINT)").alias("_s"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            F.col("_cid").alias("centroid_id"),
            F.col("dim").cast("long").alias("dim"),
            F.expr(
                # floor division toward -inf for negative sums: int DIV
                # truncates toward zero, so adjust when signs differ
                "CAST(CASE WHEN _s >= 0 THEN _s DIV n_members "
                "ELSE -((-_s + n_members - 1) DIV n_members) END AS BIGINT)"
            ).alias("q_value"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


def _cells_to_cq(cells: DataFrame) -> DataFrame:
    """Adapter from centroid CELLS (centroid_id, dim, q_value, ...) to
    the (_cid, _cq: array<long>) frame a Lloyd step consumes — the ONE
    place the cell format is interpreted (shared by the fit loop tail,
    the warm-start init path, and :func:`centroid_arrays`, so a format
    change can never desynchronize them)."""
    return (
        cells.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "q_value"))).alias("_s"))
        .select(
            F.col("centroid_id").alias("_cid"),
            F.transform("_s", lambda s: s["q_value"]).alias("_cq"),
        )
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int | None = None,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
    early_stop: bool = True,
    init: DataFrame | None = None,
) -> DataFrame:
    """Full k-means fit: the driver convergence loop around the
    integer fixed-point Lloyd step (:func:`kmeans_iteration`), the same
    unrolled-iterations + checkpoint discipline as
    graph.pagerank_fixed_point. Seeds are the ``k`` lowest-id vectors
    (deterministic — what lets a SQL oracle replay the whole fit);
    every iteration is exactly one Lloyd step on quantized integers, so
    the result after N iterations is bit-identical on any engine or
    partitioning.

    ``early_stop`` breaks out when an iteration reproduces the previous
    centroid cells EXACTLY (integer equality — no epsilon): Lloyd on a
    fixed point is a no-op, so early stopping never changes the
    ``iterations``-step result, and the fixed-iteration oracle stays
    valid with it enabled.

    Empty-cluster policy: centroids that attract no members are dropped
    (k may shrink) — deterministic and SQL-mirrorable, unlike
    re-seeding heuristics.

    ``init`` WARM-STARTS the fit from existing centroid cells in this
    function's own output format (centroid_id, dim, q_value[, ...]) —
    e.g. yesterday's fit loaded back through the model store
    (sources/models.load_model), the production refit loop where a
    nightly job continues from the published model instead of
    re-seeding. When ``init`` is given the centroid count is the
    init's; passing a ``k`` that disagrees with it RAISES (the
    fail-loud hyperparameter philosophy of sources/models.load_model —
    a silent 5-centroid fit under k=8 is a config bug, not a choice).
    ``k`` defaults to 8 on a cold start. Exact continuation law
    (test-pinned):
    ``kmeans_fit(v, init=kmeans_fit(v, k, n), iterations=m)`` equals
    ``kmeans_fit(v, k, n + m)`` integer-for-integer, because each
    iteration is a pure function of the previous cells.

    Plan/scale: the corpus is RE-SCANNED once per iteration (columnar
    parquet scan + broadcast of k quantized centroids — it never
    shuffles); only the k·d centroid CELLS are localCheckpointed each
    round, truncating the otherwise-exponential lineage the way
    pagerank checkpoints its edge aggregate. The early-stop compare is
    an exceptAll over those same k·d rows — O(k·d), never O(corpus).
    Returns (centroid_id, dim, q_value, n_members).
    """
    if k is None and init is None:
        k = 8
    if k is not None and k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    q = F.transform(
        F.col(vec_col), lambda x: F.round(x * F.lit(float(scale)), 0).cast("long")
    )
    vq = vectors.select(F.col(id_col).alias("_vid"), q.alias("_q"))
    if init is not None:
        missing = {"centroid_id", "dim", "q_value"} - set(init.columns)
        if missing:
            raise ValueError(
                f"init is missing centroid-cell column(s) {sorted(missing)}; "
                "pass kmeans_fit-format cells (e.g. a model-store load)"
            )
        cq = _cells_to_cq(init).localCheckpoint(eager=True)
        # one O(k) count serves both guards (the checkpointed frame is
        # k rows; a separate isEmpty would be a second action)
        init_k = cq.count()
        if init_k == 0:
            # mirror the cold path's k >= 1 guard: an empty init would
            # silently fit an empty model (every Lloyd join vacuous)
            raise ValueError(
                "init has no centroid cells — refusing to warm-start "
                "from an empty model; check the load/fit that produced it"
            )
        if k is not None and init_k != k:
            raise ValueError(
                f"k={k} conflicts with init's {init_k} centroid(s) — "
                "the warm-start centroid count is the init's; drop "
                "k or pass a matching init (fail-loud, like "
                "load_model's expect_params)"
            )
    else:
        cq = (
            vq.orderBy("_vid")
            .limit(k)
            .select(F.col("_vid").alias("_cid"), F.col("_q").alias("_cq"))
            .localCheckpoint(eager=True)
        )
    prev = None
    for _ in range(iterations):
        cells = _lloyd_step_q(vq, cq).localCheckpoint(eager=True)
        if (
            early_stop
            and prev is not None
            and prev.exceptAll(cells).isEmpty()
            and cells.exceptAll(prev).isEmpty()
        ):
            return cells
        prev = cells
        cq = _cells_to_cq(cells)
    return prev


def centroid_arrays(
    cells: DataFrame,
    scale: int = 10**6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Adapter from :func:`kmeans_fit` cell output (centroid_id, dim,
    q_value, n_members) back to an (id, array<double>) vector frame —
    what ``ivf_topk(centroids=...)`` consumes, so the IVF coarse
    quantizer can be REAL k-means centroids instead of the ``% stride``
    subset. One k·d-row aggregate (the shared :func:`_cells_to_cq`
    adapter); dims are array_sort-ordered so the array layout is
    deterministic."""
    return _cells_to_cq(cells).select(
        F.col("_cid").alias(id_col),
        F.transform(
            "_cq", lambda q: q.cast("double") / F.lit(float(scale))
        ).alias(vec_col),
    )
