"""Similarity search over embedding columns (array<float>).

Two paths, same contract:
- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small)
  query set against the corpus, dot products via zip_with/aggregate
  (JVM-side, no UDF), TakeOrdered per query. The verifier and the
  right plan when the query set is small.
- :func:`lsh_ann_topk` — random-hyperplane LSH: corpus and queries get
  a P-bit signature; candidates share a bucket; exact re-rank within
  candidates. At 100 TB the bucket join replaces the full cross
  product — the cross-product side never materializes.

:func:`ivf_assign` (nearest centroid), :func:`lsh_signer` (the LSH
buckets) and :func:`embedding_covariance` each have one arm, an Arrow
batch through numpy, gated by the same DuckDB oracle as the JVM
expressions they reproduce bit for bit (:func:`cosine` rounded to 4 dp;
a left-fold projection's sign; Spark's ``sum``/``count(*)``).

Hyperplanes are pseudo-random +/-1 vectors derived from
md5(plane:element), so signatures are deterministic and reproducible in
the DuckDB oracle (no RNG state, no JVM-only hashing).

Measured dead end (do not retry): unrolling the dot products into
explicit GetArrayItem multiply-add chains (dim=64 terms) to escape the
HOF CodegenFallback made things 5-10x SLOWER (lsh_ann 3.4s -> 22s,
ivf 2.1s -> 29s at sf0.1) — the giant expression trees blow past
codegen method limits and interpret per-node, while the HOF loop
interprets one compact loop. The aggregate/zip_with forms below are
the fastest JVM-side shape at embedding dims.
"""

from __future__ import annotations

import functools
import math
from decimal import ROUND_HALF_UP, Decimal
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; a zero-norm side yields 0.0 ("no similarity"),
    not an error. Under ANSI mode (the Spark 4 default) a plain
    division throws DIVIDE_BY_ZERO the moment a padding/failed-encode
    zero vector reaches it — a corpus-scale job killer
    (tests/test_degenerate_inputs.py sweeps this). try_divide keeps
    the norms evaluated once each and returns NULL on a 0 divisor,
    coalesced to 0.0."""
    return F.coalesce(
        F.try_divide(dot(a, b), norm(a) * norm(b)), F.lit(0.0)
    )


def _nonnull(df: DataFrame, vec_col: str) -> DataFrame:
    """NULL embeddings (failed encodes, unbackfilled rows) are DROPPED
    at every frame-operator boundary: a null vector has no geometry to
    compare, and letting it flow produces either an arbitrary
    assignment (expr paths coalesce its cosine to 0.0) or a numpy
    object-array crash (Arrow paths). One uniform rule, swept by
    tests/test_degenerate_inputs.py."""
    return df.filter(F.col(vec_col).isNotNull())


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (excluding self-matches
    on equal ids). Output: (query_id, rank, neighbor_id, cos)."""
    q = _nonnull(queries, vec_col).select(
        F.col(query_id_col), F.col(vec_col).alias("qv")
    )
    c = _nonnull(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cos")
    )


def _plane_signs(p: int, dim: int) -> list[float]:
    """The first ``dim`` elements of the +/-1 hyperplane h_p: element d
    is +1 if the top bit of the first hex digit of md5(p||':'||d) is set
    else -1. Element d does not depend on ``dim``, so every prefix of a
    plane is the plane of a shorter vector, and md5 over the same ASCII
    bytes is bit-identical in hashlib and DuckDB, so the oracle rebuilds
    the same planes."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) >= 8
        else -1.0
        for d in range(dim)
    ]


@functools.lru_cache(maxsize=64)
def _planes(n: int, dim: int) -> np.ndarray:
    """The ``(dim, n)`` matrix of hyperplanes 0..n-1 (read-only)."""
    H = np.asarray([_plane_signs(p, dim) for p in range(n)], dtype=np.float64).T
    H.flags.writeable = False
    return H


def _signature_bits(v: _Vectors, n: int) -> np.ndarray:
    """The ``(rows, n)`` sign bits ``<v, h_p> >= 0`` for hyperplanes
    0..n-1, each projection folded as Spark's ``aggregate`` folds it:
    left to right from 0.0 over the row's own elements (the zero padding
    adds nothing). BLAS computes all projections, and only those within
    its rounding bound of 0 or not finite are re-folded in that order.
    NaN sorts above 0 in Spark, so it gives bit 1; a NULL element makes
    every projection NULL, so its row is all 0."""
    w = v.X.shape[1]
    H = _planes(n, w)
    with np.errstate(invalid="ignore", over="ignore"):  # inf and NaN rows
        P = v.X @ H
        S = np.abs(v.X).sum(axis=1)
        # both sums sit within w*eps*S of the exact one; a huge S may overflow
        bound = np.where(S < 1e300, 4 * w * np.finfo(np.float64).eps * S, np.inf)
        i, j = np.nonzero(~(np.abs(P) > bound[:, None]))
        P[i, j] = _fold(v.X[i], H.T[j])
    bits = (P >= 0) | np.isnan(P)
    bits[v.void] = False
    return bits


def lsh_signer(planes: int = 8, tables: int = 1):
    """An Arrow-batched UDF mapping a vector column to ``array<string>``:
    ``tables`` signatures of ``planes`` bits each, table t from the
    disjoint hyperplanes ``t*planes .. t*planes+planes-1`` of
    :func:`_plane_signs`. Each row projects on its own length (ragged
    and empty rows are fine); a NULL row signs to NULL."""
    from pyspark.sql.functions import arrow_udf

    n = planes * tables

    @arrow_udf("array<string>")
    def sign(vecs: pa.Array) -> pa.Array:
        bits = _signature_bits(_Vectors.of(vecs), n)
        chars = np.where(bits, ord("1"), ord("0")).astype(np.uint8)
        m = len(bits) * tables
        strings = pa.StringArray.from_buffers(
            m, pa.py_buffer(np.arange(0, m * planes + 1, planes, dtype=np.int32)),
            pa.py_buffer(chars))
        return pa.ListArray.from_arrays(
            pa.array(np.arange(0, m + 1, tables, dtype=np.int32)), strings,
            mask=vecs.is_null())

    return sign


def _require_centroids(rows, caller: str) -> None:
    """Empty-centroid contract of the assignment: RAISE.
    A zero-row centroid frame reaching assignment is an operational
    error (a never-written centroid table reads as an empty typed
    frame with no warning; kmeans_centroids over an all-degenerate
    corpus returns empty by contract) — and every quiet alternative is
    worse: a zero-row assignment silently drops 100% of the corpus
    through semdedup's keep-filter, and a NULL pseudo-cluster silently
    caps the whole corpus as ONE cluster in quota consumers. Loud
    beats silent data loss (r07 third review). Keep/drop consumers
    that have a sound no-clusters semantics implement it themselves
    (dedup.semdedup: no clusters -> nothing is a duplicate)."""
    if not rows:
        raise ValueError(
            f"{caller}: empty centroid frame — train centroids first "
            "(kmeans_centroids returns empty only for a corpus with "
            "no usable vectors) or check the centroid table was "
            "actually written; assigning against zero centroids "
            "would silently lose data downstream"
        )


def round4(x) -> np.ndarray:
    """``F.round(x, 4)`` on DOUBLE, vectorised: HALF_UP on the shortest
    decimal repr (``BigDecimal.valueOf``), no -0.0, NaN/inf kept. The
    scaled binary form ``floor(|x|*1e4 + 0.5)`` is wrong within a few
    ulps of a half-integer (0.00145 scales to 14.499999999999998, yet
    "0.00145" rounds up): those, huge and non-finite values go through
    ``Decimal``."""
    flat = np.asarray(x, dtype=np.float64).reshape(-1)
    y = np.abs(flat) * 1e4
    with np.errstate(invalid="ignore"):
        out = np.copysign(np.floor(y + 0.5) / 1e4, flat) + 0.0
        # the scaled value carries <= ~2 ulps (eps * y each) of error
        slow = ~(np.abs(y - np.floor(y) - 0.5) > 1e-9 + 2e-15 * y) | ~(y < 1e15)
    for i in np.flatnonzero(slow):
        v = float(flat[i])
        if math.isfinite(v) and abs(v) < 1e16:  # else no fractional digits
            v = float(Decimal(repr(v)).quantize(Decimal("1e-4"), ROUND_HALF_UP))
        out[i] = v + 0.0
    return out.reshape(np.shape(x))


def _list_layout(arr: pa.Array | pa.ChunkedArray):
    """An Arrow ``list<float|double>`` column as numpy: each row's length
    (0 for a NULL row), the float64 elements of all rows end to end, and
    which of those elements are non-NULL."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = pc.list_value_length(arr).fill_null(0).to_numpy().astype(np.int64)
    flat = arr.flatten()  # honours slicing; NULL rows add no elements
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    valid = flat.is_valid().to_numpy(zero_copy_only=False)
    return lens, vals, valid


class _Vectors(NamedTuple):
    """Embedding rows as :func:`cosine` reads them: a zero-padded
    float64 matrix, each row's length, its left-fold L2 norm, and
    whether it holds a NULL element (Spark's arithmetic then yields
    NULL, which :func:`cosine` coalesces to 0.0 against anything)."""
    X: np.ndarray
    lens: np.ndarray
    norm: np.ndarray
    void: np.ndarray

    @classmethod
    def of(cls, arr: pa.Array | pa.ChunkedArray,
           width: int | None = None) -> "_Vectors":
        """Rows of an Arrow list column, zero-padded (or cut, then
        matching nothing) to ``width``, by default the longest row's
        length. NaN elements stay NaN."""
        lens, vals, valid = _list_layout(arr)
        w = int(lens.max(initial=0)) if width is None else width
        row = np.repeat(np.arange(len(lens)), lens)
        pos = np.arange(len(vals)) - np.repeat(np.cumsum(lens) - lens, lens)
        keep = pos < w
        X = np.zeros((len(lens), w))
        X[row[keep], pos[keep]] = np.where(valid, vals, 0.0)[keep]
        void = np.zeros(len(lens), dtype=bool)
        void[row[~valid]] = True
        with np.errstate(over="ignore"):  # Spark overflows to Infinity silently
            norm = np.sqrt(_fold(X, X))
        return cls(X, lens, norm, void)

    def __getitem__(self, rows) -> "_Vectors":
        return _Vectors(self.X[rows], self.lens[rows], self.norm[rows],
                        self.void[rows])


def _fold(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot products summed in Spark's order: ``aggregate``
    folds left to right from 0.0 over the dims."""
    acc = np.zeros(len(A))
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


def _approx_cosines(a: _Vectors, b: _Vectors):
    """Norm products and cosines of all ``(a_i, b_j)`` by one BLAS matmul
    (off Spark's left fold by ~dim*eps), 0.0 for a zero divisor, a
    length mismatch or a NULL element, NaN for a NaN element; ``a`` and
    ``b`` share one width."""
    den = np.outer(a.norm, b.norm)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(den != 0, (a.X @ b.X.T) / den, 0.0)
    if np.ptp(np.concatenate([a.lens, b.lens])) or a.void.any() or b.void.any():
        cos[(a.lens[:, None] != b.lens[None, :])
            | a.void[:, None] | b.void[None, :]] = 0.0
    return den, cos


def _round_exact(a: _Vectors, b: _Vectors, den, cos, i, j) -> np.ndarray:
    """``F.round(cosine(a_i, b_j), 4)`` bit for bit from BLAS values ``cos``
    (= ``cos[i, j]``, any shape): their error can move the 4dp rounding
    only near a midpoint, so those few are re-folded in Spark's order."""
    y = np.abs(cos) * 1e4
    near = np.nonzero(np.abs(y - np.floor(y) - 0.5) < 1e-5)
    if len(near[0]):
        cos, i, j = cos.copy(), i[near], j[near]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos[near] = np.where(den[i, j] != 0, _fold(a.X[i], b.X[j]) / den[i, j], 0.0)
    return round4(cos)


def cosine4(a: _Vectors, b: _Vectors) -> np.ndarray:
    """The ``(len(a), len(b))`` matrix of ``F.round(cosine(a_i, b_j), 4)``,
    bit for bit: 0.0 for a zero norm, a length mismatch or a NULL
    element, NaN for a NaN element, no -0.0."""
    den, cos = _approx_cosines(a, b)
    return _round_exact(a, b, den, cos, *np.indices(cos.shape))


def cosine4_at_least(a: _Vectors, b: _Vectors, threshold: float) -> np.ndarray:
    """``cosine4(a, b) >= threshold`` under Spark's ordering (NaN is
    above every number), rounding only where it can matter: a 4dp round
    moves a value by at most 5e-5, so only entries within 1e-4 of the
    threshold need their exact rounded value."""
    den, cos = _approx_cosines(a, b)
    hit = (cos >= threshold) | np.isnan(cos)
    i, j = np.nonzero(np.abs(cos - threshold) <= 1e-4)
    hit[i, j] = _round_exact(a, b, den, cos[i, j], i, j) >= threshold
    return hit


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame | list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    with_score: bool = False,
) -> DataFrame:
    """IVF index build: assign every corpus vector to its nearest
    centroid by ``F.round(cosine(v, c), 4)``, ties to the lowest
    centroid id. ``centroids``: a (centroid_id, vec) frame or its
    collected rows; nlist rows, held by the driver.

    One Arrow-batched numpy pass: the cosines to all centroids are one
    matmul per batch (:func:`cosine4`), so there is no join and no
    corpus shuffle, and the cost stays flat as nlist grows. Values are
    Spark's: a row matching no centroid's length (empty, ragged) or
    holding a NULL element scores 0.0 everywhere and goes to the lowest
    id; a NaN element scores NaN, which Spark orders above every number.
    Output: (id, vec, centroid_id); ``with_score`` adds ``centroid_cos``
    (the winning 4dp cosine — SemDeDup's keep rule ranks cluster members
    by it)."""
    from pyspark.sql.functions import arrow_udf

    corpus = _nonnull(corpus, vec_col)
    if isinstance(centroids, DataFrame):
        centroids = centroids.select(centroid_id_col, vec_col).collect()
    _require_centroids(centroids, "ivf_assign")
    rows = sorted(centroids, key=lambda r: r[centroid_id_col])
    ids = np.asarray([int(r[centroid_id_col]) for r in rows], dtype=np.int64)
    C = _Vectors.of(pa.array([r[vec_col] for r in rows], pa.list_(pa.float64())))

    @arrow_udf("struct<centroid_id: long, centroid_cos: double>")
    def assign(vecs: pa.Array) -> pa.Array:
        cos = cosine4(_Vectors.of(vecs, C.X.shape[1]), C)
        best = np.argmax(cos, axis=1)  # first maximum or NaN: ids ascend
        return pa.StructArray.from_arrays(
            [pa.array(ids[best]), pa.array(cos[np.arange(len(best)), best])],
            names=["centroid_id", "centroid_cos"],
        )

    out = corpus.select(
        F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("_a")
    )
    cols = [
        F.col(id_col), F.col(vec_col),
        F.col("_a.centroid_id").alias(centroid_id_col),
    ]
    if with_score:
        cols.append(F.col("_a.centroid_cos").alias("centroid_cos"))
    return out.select(*cols)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search: each query probes its ``nprobe`` nearest centroids'
    inverted lists and exact-reranks only those candidates.

    The scale path for large corpora with many queries: candidates come
    from an equi-join on ``centroid_id`` (shuffle on nlist keys; skewed
    lists are AQE-splittable), never a cross product. Each corpus vector
    belongs to exactly one list, so (query, neighbor) pairs are already
    distinct — no dedup step. Output: (query_id, rank, neighbor_id, cos).

    Centroid choice is the caller's: pass k-means centroids on a real
    cluster, or any deterministic seed set (the oracle-checked query
    uses the first-nlist vectors) — the probe plan is identical."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "centroid_id",
    )
    cent = centroids.select("centroid_id", F.col(vec_col).alias("centv"))
    qscore = (
        _nonnull(queries, vec_col)
        .select(F.col(query_id_col), F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(cent))
        .select(
            query_id_col, "qv", "centroid_id",
            F.round(cosine(F.col("qv"), F.col("centv")), 4).alias("qcos"),
        )
    )
    wprobe = Window.partitionBy(query_id_col).orderBy(
        F.desc("qcos"), F.asc("centroid_id")
    )
    probes = (
        qscore.withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= nprobe)
        .select(query_id_col, "qv", "centroid_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cos")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: exact re-rank restricted to candidates sharing
    a bucket in at least one of ``tables`` hash tables (OR
    amplification). Recall tunes with both knobs: fewer ``planes`` ->
    bigger buckets; more ``tables`` -> more chances to collide. At scale
    the (table, bucket) equi-join is a shuffle on a key that fans each
    vector out ``tables`` times — still linear, never the cross product.
    Buckets come from :func:`lsh_signer`; building the plan runs no
    Spark job."""
    sig = lsh_signer(planes, tables)
    c = _nonnull(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.posexplode(sig(F.col(vec_col))).alias("t", "bucket"),
    )
    q = _nonnull(queries, vec_col).select(
        F.col(query_id_col),
        F.col(vec_col).alias("qv"),
        F.posexplode(sig(F.col(vec_col))).alias("t", "bucket"),
    )
    scored = (
        c.join(F.broadcast(q), ["t", "bucket"])
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .dropDuplicates([query_id_col, "neighbor_id"])
        .select(
            query_id_col,
            "neighbor_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cos")
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric int8 quantization for embedding storage: scale =
    127 / max|x|, q_i = round(x_i * scale). Returns a struct
    (scale double, q array<int>) — 4x smaller at rest than float32,
    the standard storage step before ANN indexing at corpus scale.
    Pure narrow projection (JVM expressions), no shuffle; zero vectors
    quantize to all-zeros with scale 0."""
    absmax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax == 0, F.lit(0.0)).otherwise(F.lit(127.0) / absmax)
    q = F.transform(vec, lambda x: F.round(x.cast("double") * scale).cast("int"))
    return F.struct(scale.alias("scale"), q.alias("q"))


def kmeans_centroids(
    corpus: DataFrame,
    nlist: int = 8,
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train IVF centroids: spherical k-means (Lloyd's on normalized
    vectors) over a deterministic sample, run driver-side in numpy.

    Centroid TRAINING is sample-scale — a few thousand vectors bound
    the centroid quality regardless of corpus size — so the right tool
    is vectorized numpy on the driver, not a distributed iteration
    (same judgment as the driver-held centroids of :func:`ivf_assign`;
    at 100 TB only the ASSIGN step must scale).
    Deterministic end to end: the sample is the ``sample`` lowest ids,
    init is farthest-point from the lowest-id vector, ties and empty
    clusters re-seed deterministically. Output: (centroid_id, vec)
    rows ready for :func:`ivf_topk`."""
    import numpy as np

    rows = (
        _nonnull(corpus, vec_col)
        # empty vectors have no geometry to train on — and one ragged
        # row turns the np.asarray below into an object array that
        # crashes norm/matmul (degenerate-input sweep pins this)
        .filter(F.size(F.col(vec_col)) > 0)
        .select(id_col, vec_col)
        .orderBy(id_col).limit(sample).collect()
    )
    # guard residual raggedness deterministically: train on the modal
    # length (ties -> smallest), drop the rest
    from collections import Counter

    counts = Counter(len(r[vec_col]) for r in rows)
    if counts:
        modal = min(counts, key=lambda d: (-counts[d], d))
        rows = [r for r in rows if len(r[vec_col]) == modal]
    if not rows:
        # a corpus whose every vector is NULL/empty has no geometry at
        # all: return an EMPTY centroid frame (same schema) so
        # downstream assignment joins go empty instead of the shape-
        # (0,) matrix crashing norm/matmul (review r07 finding)
        return corpus.sparkSession.createDataFrame(
            [], f"centroid_id long, {vec_col} array<float>"
        )
    X = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)

    # farthest-point init (deterministic; ties -> lowest index)
    chosen = [0]
    sims = Xn @ Xn[0]
    while len(chosen) < min(nlist, len(Xn)):
        nxt = int(np.argmin(sims))
        chosen.append(nxt)
        sims = np.maximum(sims, Xn @ Xn[nxt])
    C = Xn[chosen].copy()

    for _ in range(iters):
        assign = np.argmax(Xn @ C.T, axis=1)
        for j in range(len(C)):
            members = Xn[assign == j]
            if len(members):
                c = members.mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
            else:
                # re-seed an empty cluster with the worst-covered point
                worst = int(np.argmin((Xn @ C.T).max(axis=1)))
                C[j] = Xn[worst]

    return corpus.sparkSession.createDataFrame(
        [(j, [float(x) for x in C[j]]) for j in range(len(C))],
        f"centroid_id long, {vec_col} array<float>",
    )


def embedding_dim_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-DIMENSION corpus statistics (n, mean, std, min, max) — the
    normalization/whitening precursor every embedding pipeline runs
    before cosine work (mean-centering, per-dim scaling, dead-dim
    detection: a dimension with ~zero variance carries no signal and
    wastes index bytes). NULL embeddings are dropped at the boundary
    like every vector operator here (:func:`_nonnull`).

    Scale shape: posexplode is rows x dims, but every aggregate
    combines map-side, so the exchange carries O(dims x partials) —
    at dim=64 that is 64 rows per task regardless of corpus size; the
    result is dim-scale and broadcasts back into whatever projection
    applies the normalization. Stats rounded to 4 dp (double) so the
    DuckDB oracle hash-matches despite summation-order differences in
    the last ulps.

    Output: (dim long [0-based], n long, mean, std, vmin, vmax —
    double, 4 dp; std is NULL for a single-vector corpus, the
    stddev_samp convention on both engines).
    """
    e = _nonnull(df, vec_col).select(
        F.posexplode(F.col(vec_col)).alias("dim", "_v")
    )
    v = F.col("_v").cast("double")
    return (
        e.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg(v), 4).alias("mean"),
            F.round(F.stddev_samp(v), 4).alias("std"),
            F.round(F.min(v), 4).alias("vmin"),
            F.round(F.max(v), 4).alias("vmax"),
        )
    )


def embedding_covariance(df: DataFrame,
                         vec_col: str = "embedding") -> DataFrame:
    """Upper-triangle POPULATION covariance matrix of the embedding
    distribution — the PCA/whitening precursor (:func:`
    embedding_dim_stats` gives the per-dim diagonal view; this gives
    the cross terms a whitening transform or dead-direction analysis
    needs). cov(i,j) = E[v_i*v_j] - E[v_i]E[v_j] over the vectors of
    length > max(i, j), from the sums of :func:`
    embedding_covariance_state`: one Gram matrix per Arrow batch, an
    exchange of O(dim^2) partials per task whatever the corpus size,
    and dim^2/2 output rows.

    Output: (i long, j long [i<=j], n long, cov double 4 dp), the values
    of ``sum(v_i*v_j)/count(*) - (sum(v_i)/count(*))*(sum(v_j)/count(*))``
    per (i, j) in Spark: NULL vectors and empty ones are skipped, a NULL
    element drops out of the sums but its row still counts in n (a cell
    with no non-NULL term is NULL), and a NaN element makes its cells
    NaN. Float sums run in another order than Spark's (~1e-13 relative),
    far below the 4 dp rounding."""
    return covariance_finalize(embedding_covariance_state(df, vec_col))


def _gram_partials(x: np.ndarray, ok: np.ndarray) -> pa.RecordBatch:
    """(i, j, sp, si, sj, n) partial rows of one group of equal-length
    vectors ``x`` (rows) whose non-NULL elements are ``ok``. Spark's sum
    skips a NULL term and keeps a NaN or infinite one, so rows holding
    either kind go through exact per-row outer products; the rest is one
    BLAS Gram matrix."""
    xz = np.where(ok, x, 0.0)
    clean = ok.all(axis=1) & np.isfinite(x).all(axis=1)
    c = xz[clean]
    g = c.T @ c
    has_p = np.full(g.shape, clean.any())  # some non-NULL v_i*v_j term
    if not clean.all():
        d, okd = xz[~clean], ok[~clean]
        pair = okd[:, :, None] & okd[:, None, :]
        with np.errstate(invalid="ignore", over="ignore"):
            g = g + np.where(pair, d[:, :, None] * d[:, None, :], 0.0).sum(axis=0)
        has_p |= pair.any(axis=0)
    s, has_v = xz.sum(axis=0), ok.any(axis=0)
    iu, ju = np.triu_indices(x.shape[1])
    return pa.RecordBatch.from_arrays([
        pa.array(iu.astype(np.int64)), pa.array(ju.astype(np.int64)),
        pa.array(g[iu, ju], mask=~has_p[iu, ju]),
        pa.array(s[iu], mask=~has_v[iu]), pa.array(s[ju], mask=~has_v[ju]),
        pa.array(np.full(len(iu), len(x), dtype=np.int64)),
    ], names=["i", "j", "sp", "si", "sj", "n"])


def embedding_covariance_state(df: DataFrame,
                               vec_col: str = "embedding") -> DataFrame:
    """This run's PERSISTABLE second-moment state from raw embeddings:
    (i, j, sp, si, sj, n) — write it to parquet and a later run merges
    its own via :func:`covariance_partial_state` over the union, then
    :func:`covariance_finalize` for the corpus covariance. Each Arrow
    batch's vectors are grouped by length (a ragged corpus contributes
    each row's own i<=j pairs) and each group is one Gram matrix
    (:func:`_gram_partials`); the output is dim²/2 rows regardless of
    corpus size."""

    def gram(batches):
        for b in batches:
            lens, vals, valid = _list_layout(b.column(0))
            starts = np.cumsum(lens) - lens
            for dim in np.unique(lens[lens > 0]):
                idx = starts[lens == dim][:, None] + np.arange(dim)
                yield _gram_partials(vals[idx], valid[idx])

    partials = _nonnull(df, vec_col).select(vec_col).mapInArrow(
        gram, "i long, j long, sp double, si double, sj double, n long"
    )
    return covariance_partial_state(partials)


def covariance_partial_state(partials: DataFrame) -> DataFrame:
    """Aggregate raw Gram partials into the PERSISTABLE second-moment
    state: one (i, j, sp, si, sj, n) row per pair — the covariance
    member of the cross-run state family (HLL = cardinality,
    histograms = quantiles, Bloom = membership, CMS = frequency,
    THIS = second moments). Merging runs is exact sum-per-pair over
    the union of their state tables (re-apply this function), so a
    later run updates the corpus covariance — and everything derived
    from it, PCA included — at O(its own batch) cost plus an
    O(dim²)-row merge, never re-reading prior embeddings."""
    return partials.groupBy("i", "j").agg(
        F.sum("sp").alias("sp"), F.sum("si").alias("si"),
        F.sum("sj").alias("sj"), F.sum("n").cast("long").alias("n"),
    )


def covariance_finalize(state: DataFrame) -> DataFrame:
    """(i, j, n, cov) from second-moment state:
    cov = sp/n - (si/n)(sj/n), rounded to 4 dp."""
    return state.select(
        "i", "j", F.col("n").cast("long").alias("n"),
        F.round(
            F.col("sp") / F.col("n")
            - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n")),
            4,
        ).alias("cov"),
    )


def _cov_matrix(cov_rows, dim: int):
    """Dense symmetric matrix from (i, j, cov) upper-triangle rows —
    the single place the mirroring rule lives (pca_components and
    pca_eigenvalues both read it)."""
    import numpy as np

    c = np.zeros((dim, dim))
    for r in cov_rows:
        c[r["i"], r["j"]] = r["cov"]
        c[r["j"], r["i"]] = r["cov"]
    return c


def _pca_start(ki: int, dim: int):
    """Dense deterministic start vector for power-iteration round ki:
    md5-derived values in (-1, 1). DENSE on purpose (review fix): a
    basis-vector start that happens to be an exact eigenvector of a
    weak direction never rotates toward the dominant one — easy to hit
    once the 4 dp covariance rounding zeroes small cross terms. An
    md5-mixed start has generic overlap with every eigendirection."""
    import hashlib

    import numpy as np

    return np.array([
        int(hashlib.md5(f"pca{ki}:{d}".encode()).hexdigest()[:8], 16)
        / float(1 << 31) - 1.0
        for d in range(dim)
    ])


def pca_components(cov_rows, dim: int, k: int = 8,
                   iters: int = 50) -> list:
    """Top-k principal components from a COLLECTED covariance matrix
    (the (i, j, cov) upper-triangle rows of
    :func:`embedding_covariance`): orthogonal (power) iteration with
    deflation on the driver, results sorted by Rayleigh quotient so
    the eigenvalue order holds regardless of which start converged
    where. dim x dim is MODEL-scale math (64x64 = 4 KB) — the same
    driver-side boundary as kmeans_centroids' argmax and BPE's merge
    loop: the corpus-scale pass is the covariance build; everything
    after it is constant-size.

    Deterministic by construction: the start vectors are fixed
    md5-derived dense vectors and the iteration count is pinned, so
    two runs produce identical components up to float ulps. Sign
    convention: each component's largest-|coord| entry is made
    positive. ``k`` is clamped to dim — there are only dim orthogonal
    directions (review fix: the old code appended near-zero garbage
    vectors past dim).

    Returns a list of min(k, dim) lists (each dim floats),
    eigenvalue-ordered.
    """
    import numpy as np

    c = _cov_matrix(cov_rows, dim)
    k = min(k, dim)
    comps = []
    for ki in range(k):
        v = _pca_start(ki, dim)
        v /= np.linalg.norm(v)
        for _ in range(iters):
            # deflate: project out already-found components
            for u in comps:
                v -= np.dot(v, u) * u
            w = c @ v
            n = np.linalg.norm(w)
            if n < 1e-12:
                break
            v = w / n
        for u in comps:
            v -= np.dot(v, u) * u
        n = np.linalg.norm(v)
        v = v / n if n > 1e-12 else v
        top = int(np.argmax(np.abs(v)))
        if v[top] < 0:
            v = -v
        comps.append(v)
    comps.sort(key=lambda u: -float(u @ c @ u))
    return [[float(x) for x in v] for v in comps]


def project_embeddings(df: DataFrame, components: list,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Distributed projection onto PCA components: (id, proj array of
    k doubles) — the dimensionality-reduction / whitening application
    of :func:`pca_components`. Each component is a broadcast-inlined
    literal array; the dot products run through the same
    aggregate-HOF shape as :func:`dot` (keep the HOF — unrolled
    GetArrayItem chains measured 5-10x slower, see module docstring
    history). Pure per-row projection, no shuffle.

    Dirty-input contract (review fix): a ragged or NULL-element
    vector yields proj = NULL for the WHOLE row — one null coordinate
    must not survive into the array, where a later array_join would
    silently skip it and emit a misaligned shorter record.
    """
    vecs = [F.array(*[F.lit(float(x)) for x in comp])
            for comp in components]
    raw = F.array(*[
        F.round(dot(F.col(vec_col), cvec), 4) for cvec in vecs
    ])
    return _nonnull(df, vec_col).select(
        F.col(id_col),
        F.when(
            F.exists(raw, lambda x: x.isNull()),
            F.lit(None).cast("array<double>"),
        ).otherwise(raw).alias("proj"),
    )


def pca_eigenvalues(cov_rows, components) -> list:
    """Rayleigh quotients v^T C v of each component against the
    collected covariance — the variance captured along each principal
    direction. Driver-side dim² math like :func:`pca_components`."""
    import numpy as np

    c = _cov_matrix(cov_rows, len(components[0]))
    return [float(np.asarray(v) @ c @ np.asarray(v)) for v in components]


def whiten_components(components, eigenvalues, eps: float = 1e-9) -> list:
    """Scale principal components to whitening vectors: projecting
    onto component_k / sqrt(eigenvalue_k) gives unit variance along
    every kept direction (PCA whitening). Near-zero eigenvalues are
    floored by ``eps`` — a dead direction stays ~dead instead of
    amplifying float noise to unit scale. Feed the result straight to
    :func:`project_embeddings`."""
    import math

    return [
        [x / math.sqrt(max(ev, eps)) for x in comp]
        for comp, ev in zip(components, eigenvalues)
    ]
