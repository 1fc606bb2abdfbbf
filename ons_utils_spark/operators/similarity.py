"""Similarity search over embedding columns.

North-star extension: approximate-nearest-neighbor over
``array<float>`` embeddings.

* :func:`cosine_topk` — brute-force exact top-k: broadcast the query
  vectors, score every row with a codegen'd ``aggregate`` expression,
  ranked-window top-k. Linear scan — the correctness baseline, and
  actually the right plan up to ~10⁷ rows per query batch.
* :func:`random_hyperplane_lsh` / :func:`lsh_topk` — the scale path:
  sign-random-projection signatures bucket the corpus; queries probe
  only their own bucket (plus optional multi-probe), turning the scan
  into a hash join of buckets.

Determinism: hyperplanes are derived from xxhash64 of (seed, plane,
dim) — no RNG state, reproducible anywhere.
* :func:`ivf_topk` — the second scale path: an IVF (inverted-file)
  index. Deterministic k-means coarse quantizer partitions the corpus
  into cluster lists; each query probes only its ``nprobe`` nearest
  clusters. With ``nprobe == n_clusters`` the scan is exhaustive and
  the result exactly equals :func:`cosine_topk` (pinned by the DuckDB
  oracle); smaller ``nprobe`` trades recall for a ~nprobe/n_clusters
  scan fraction.
"""
from __future__ import annotations

from typing import Iterator, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.arrays import cosine_similarity
from .lineage import cut, scope


def cosine_topk(
    corpus: SparkDF,
    queries: SparkDF,
    k: int = 10,
    corpus_id: str = 'vec_id',
    corpus_vec: str = 'embedding',
    query_id: str = 'query_id',
    query_vec: str = 'query_vec',
) -> SparkDF:
    """Exact top-k by cosine similarity for each query vector.

    ``queries`` is broadcast (must be small); the corpus is scanned
    once with no shuffle until the final per-query top-k window on
    ``query_id`` (tiny — k rows per query survive the ranked filter).
    """
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        F.col(query_id),
        F.col(corpus_id),
        cosine_similarity(
            F.col(corpus_vec).cast('array<double>'),
            F.col(query_vec).cast('array<double>'),
        ).alias('cosine'),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col('cosine').desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn('__rk', F.row_number().over(w))
        .filter(F.col('__rk') <= k)
        .drop('__rk')
    )


def hard_negatives(
    corpus: SparkDF,
    queries: SparkDF,
    positives: SparkDF,
    k: int = 5,
    k_scan: Optional[int] = None,
    corpus_id: str = 'vec_id',
    corpus_vec: str = 'embedding',
    query_id: str = 'query_id',
    query_vec: str = 'query_vec',
) -> SparkDF:
    """Mine hard negatives for retrieval/embedding training: the
    top-``k`` most query-similar corpus items that are NOT labeled
    positives — the examples a contrastive loss learns most from
    (in-batch random negatives are too easy; see DPR / ANCE).

    ``positives`` is ``(query_id, vec_id)``.  Shape: one
    :func:`cosine_topk` scan over-fetched to ``k_scan`` (default
    ``k + 16`` — must exceed ``k`` + the max positives per query, or
    a query with many labeled positives comes back short), an
    anti-join against the (small, broadcast) positive set, and a
    re-rank.  The corpus is scanned once; no extra shuffle beyond
    the per-query top-k window.  Swap the first stage for
    :func:`ivf_topk`/:func:`pq_topk` when brute force is too dear —
    the exclusion + re-rank contract is unchanged.

    Returns ``(query_id, rank, vec_id, cosine)``, rank 1..k.
    """
    if k_scan is None:
        k_scan = k + 16
    if k_scan <= k:
        raise ValueError(
            f'k_scan ({k_scan}) must exceed k ({k}) to absorb'
            ' excluded positives')
    scored = cosine_topk(
        corpus, queries, k=k_scan,
        corpus_id=corpus_id, corpus_vec=corpus_vec,
        query_id=query_id, query_vec=query_vec,
    )
    neg = scored.join(
        F.broadcast(positives.select(query_id, corpus_id)),
        on=[query_id, corpus_id], how='left_anti',
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col('cosine').desc(), F.col(corpus_id).asc())
    return (
        neg.withColumn('rank', F.row_number().over(w))
        .filter(F.col('rank') <= k)
        .select(query_id, 'rank', corpus_id, 'cosine')
    )


def _hyperplane(dim: int, plane: int, seed: int) -> list:
    """Deterministic pseudo-random unit-free hyperplane weights.

    Derived from a splitmix-style integer mix of (seed, plane, d) —
    stable across machines, no numpy RNG state to ship.
    """
    weights = []
    for d in range(dim):
        x = (seed * 0x9E3779B97F4A7C15 + plane * 0xBF58476D1CE4E5B9
             + d * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        # Map to [-1, 1)
        weights.append((x / 2**63) - 1.0)
    return weights


def _plane_dots(vec_col, dim: int, num_planes: int, seed: int):
    """Array column of ``vec · hyperplane_p`` for p in [0, num_planes)."""
    if not 1 <= num_planes <= 64:
        # Bit p of the bucket id is shiftleft(1L, p); Java shift counts
        # wrap mod 64, so planes beyond 64 would silently alias buckets.
        raise ValueError(
            f'num_planes must be in [1, 64], got {num_planes}'
        )
    dots = []
    for p in range(num_planes):
        w = _hyperplane(dim, p, seed)
        dots.append(
            F.aggregate(
                F.zip_with(
                    vec_col.cast('array<double>'),
                    F.array(*[F.lit(x) for x in w]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return F.array(*dots)


def _signature_from_dots(dots_col):
    """Fold a dot-product array into the sign-bit bucket id."""
    bits = F.transform(
        dots_col,
        lambda d, i: F.when(
            d > 0, F.call_function('shiftleft', F.lit(1).cast('long'), i)
        ).otherwise(F.lit(0).cast('long')),
    )
    return F.aggregate(
        bits, F.lit(0).cast('long'), lambda acc, b: acc.bitwiseOR(b)
    )


def random_hyperplane_signature(
    vec_col,
    dim: int,
    num_planes: int = 16,
    seed: int = 42,
):
    """Sign-random-projection LSH signature (bigint bucket id).

    Bit p of the signature is 1 iff ``vec · hyperplane_p > 0``. Cosine-
    similar vectors collide with probability 1 - theta/pi per bit.

    This is the pure-JVM expression form — ``num_planes`` interpreted
    ``aggregate(zip_with(...))`` folds per row, and the whole lambda
    tree is re-inlined wherever the column is referenced (filter,
    join key).  It stays as the SQL-replayable reference; hot paths
    use :func:`hyperplane_signature_udf` — one numpy GEMM per Arrow
    batch, measured ~4× faster on first execution at sf0.1.
    """
    return _signature_from_dots(_plane_dots(vec_col, dim, num_planes, seed))


def _plane_matrix(dim: int, num_planes: int, seed: int) -> np.ndarray:
    """(num_planes, dim) hyperplane matrix — same weights as
    :func:`_hyperplane`, so both signature implementations project
    onto identical planes."""
    if not 1 <= num_planes <= 64:
        raise ValueError(
            f'num_planes must be in [1, 64], got {num_planes}'
        )
    return np.array(
        [_hyperplane(dim, p, seed) for p in range(num_planes)],
        dtype=np.float64,
    )


def hyperplane_signature_udf(
    dim: int,
    num_planes: int = 16,
    seed: int = 42,
):
    """Arrow-vectorized sign-random-projection signature (bigint).

    The (num_planes × dim) plane matrix ships in the UDF closure;
    each Arrow batch is one GEMM + a sign→bit fold — BLAS per row
    instead of ``num_planes`` interpreted lambda folds, and the
    bucket is computed exactly once (nothing re-inlines into
    downstream filters/join keys).

    Note the float caveat: numpy sums the dot products in a
    different order than the JVM fold, so a dot within ~1 ulp of
    zero could sign-differ from :func:`random_hyperplane_signature`.
    Within ONE implementation identical vectors always produce
    identical buckets, so use the same form on both sides of a
    bucket join (as :func:`lsh_topk` does).
    """
    planes = _plane_matrix(dim, num_planes, seed)
    bit_weights = (np.int64(1) << np.arange(num_planes, dtype=np.int64))

    @F.pandas_udf('long')
    def _sig(batch: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batch:
            # NULL embedding -> NULL bucket (excluded by the bucket
            # equi-join), matching the JVM expression form's NULL
            # propagation — np.stack on a None-holding batch raises.
            na = vecs.isna().to_numpy()
            if na.any():
                zero = np.zeros(dim)
                m = np.stack([zero if none else np.asarray(v)
                              for v, none in zip(vecs.to_numpy(), na)
                              ]).astype(np.float64)
                out = pd.Series((m @ planes.T > 0) @ bit_weights,
                                dtype='Int64')
                out[na] = pd.NA
                yield out
            else:
                m = np.stack(vecs.to_numpy()).astype(np.float64)
                yield pd.Series((m @ planes.T > 0) @ bit_weights)

    return _sig


def hyperplane_signature_dots_udf(
    dim: int,
    num_planes: int = 16,
    seed: int = 42,
):
    """Arrow variant returning ``struct<bucket:long, dots:array>`` —
    the query-side form: multi-probe needs the per-plane margins to
    pick which sign bits to flip, and computing them in the SAME
    numpy math as the corpus side guarantees an identical vector
    lands in an identical bucket (see the float caveat on
    :func:`hyperplane_signature_udf`)."""
    planes = _plane_matrix(dim, num_planes, seed)
    bit_weights = (np.int64(1) << np.arange(num_planes, dtype=np.int64))

    @F.pandas_udf('struct<bucket: long, dots: array<double>>')
    def _sig(batch: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for vecs in batch:
            na = vecs.isna().to_numpy()
            if na.any():
                zero = np.zeros(dim)
                m = np.stack([zero if none else np.asarray(v)
                              for v, none in zip(vecs.to_numpy(), na)
                              ]).astype(np.float64)
            else:
                m = np.stack(vecs.to_numpy()).astype(np.float64)
            dots = m @ planes.T
            out = pd.DataFrame({
                'bucket': pd.array((dots > 0) @ bit_weights,
                                   dtype='Int64'),
                'dots': list(dots),
            })
            if na.any():
                out.loc[na, 'bucket'] = pd.NA
                out.loc[na, 'dots'] = None
            yield out

    return _sig


def _probe_buckets(dots_col, bucket_col, probes: int):
    """Base bucket + multi-probe buckets (array<long>).

    Classic multi-probe for sign-random-projection: the bits most
    likely to be wrong for a near neighbor are those whose projection
    margin ``|vec · hyperplane|`` is smallest, so probe the buckets
    obtained by flipping the ``probes`` smallest-margin bits.
    """
    ranked = F.slice(
        F.sort_array(
            F.transform(
                dots_col,
                lambda d, i: F.struct(
                    F.abs(d).alias('m'), i.alias('p')
                ),
            )
        ),
        1,
        probes,
    )
    flips = F.transform(
        ranked,
        lambda s: bucket_col.bitwiseXOR(
            F.call_function('shiftleft', F.lit(1).cast('long'), s['p'])
        ),
    )
    return F.concat(F.array(bucket_col), flips)


def hyperplane_band_udf(
    dim: int,
    bands: int = 24,
    planes_per_band: int = 16,
    seed: int = 42,
):
    """Arrow-vectorized BANDED sign-random-projection signatures:
    ``array<long>`` of ``bands`` bucket keys per vector, one GEMM.

    The banding trick from MinHash LSH transferred to hyperplane
    LSH: a single signature of b planes has per-bit collision
    probability ``p = 1 - θ/π``, so its full-key collision rate
    ``p^b`` decays fast even for near-duplicates — but with
    ``bands`` independent keys of ``planes_per_band`` bits each, a
    pair is a candidate if ANY band matches:
    ``1 - (1 - p^r)^B``.  At cosine 0.95 (θ≈18.2°, p≈0.899) the
    24×16 defaults give ≈0.99 recall while passing only
    ``B · 2^−r ≈ 4·10⁻⁴`` of orthogonal-pair noise (r = 8 would
    recall ≈0.999 but admit ~5% of ALL pairs as candidates — a
    Θ(n²) verify load); identical vectors collide in EVERY band
    deterministically (recall exactly 1 for exact duplicates).
    All ``bands × planes_per_band`` planes are applied in one
    matrix multiply per Arrow batch.

    NULL/empty embeddings yield a NULL key array (dropped by the
    downstream ``posexplode`` + bucket equi-join).
    """
    total = bands * planes_per_band
    planes = np.array(
        [_hyperplane(dim, p, seed) for p in range(total)],
        dtype=np.float64,
    )
    bit_weights = (np.int64(1)
                   << np.arange(planes_per_band, dtype=np.int64))

    @F.pandas_udf('array<long>')
    def _sigs(batch: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batch:
            vals = vecs.to_numpy()
            mask = np.array([v is not None and len(v) > 0
                             for v in vals], dtype=bool)
            out = np.full(len(vals), None, dtype=object)
            if mask.any():
                m = np.stack(vals[mask]).astype(np.float64)
                bits = (m @ planes.T > 0)
                keys = np.stack([
                    bits[:, b * planes_per_band:
                         (b + 1) * planes_per_band] @ bit_weights
                    for b in range(bands)
                ], axis=1).astype(np.int64)
                for j, i in enumerate(np.nonzero(mask)[0]):
                    out[i] = keys[j]
            yield pd.Series(out)

    return _sigs


def random_hyperplane_lsh(
    df: SparkDF,
    vec_col: str = 'embedding',
    dim: int = 64,
    num_planes: int = 16,
    seed: int = 42,
    output_col: str = 'lsh_bucket',
) -> SparkDF:
    """Attach an LSH bucket id column to an embedding DataFrame."""
    return df.withColumn(
        output_col,
        random_hyperplane_signature(F.col(vec_col), dim, num_planes, seed),
    )


def lsh_topk(
    corpus: SparkDF,
    queries: SparkDF,
    k: int = 10,
    dim: int = 64,
    num_planes: int = 8,
    seed: int = 42,
    probes: int = 0,
    corpus_id: str = 'vec_id',
    corpus_vec: str = 'embedding',
    query_id: str = 'query_id',
    query_vec: str = 'query_vec',
) -> SparkDF:
    """Approximate top-k: score only corpus rows in the query's bucket.

    With b planes the corpus splits into ~2^b buckets, so the scanned
    fraction is ~2^-b of brute force; recall drops for near-orthogonal
    neighbors — tune ``num_planes`` per corpus. Same output schema as
    :func:`cosine_topk` (may return < k rows when the bucket is small).

    ``probes > 0`` enables multi-probe: each query additionally scans
    the buckets reached by flipping its ``probes`` smallest-margin
    sign bits (the bits a true near-neighbor most plausibly disagrees
    on), raising recall ~(probes+1)× scan cost without adding planes.
    Probing expands the (small, broadcast) query side only — each
    corpus row still has exactly one bucket, so no pair is scored
    twice and no corpus shuffle is added.
    """
    if not 0 <= probes <= num_planes:
        raise ValueError(
            f'probes must be in [0, num_planes={num_planes}],'
            f' got {probes}'
        )
    # Arrow GEMM on BOTH sides: one bucket computation per row (the
    # expression form re-inlines its lambda tree into the join key
    # and null filter), and one float implementation on both sides
    # of the bucket equi-join so identical vectors collide bit-
    # exactly.
    c = corpus.withColumn(
        '__bucket',
        hyperplane_signature_udf(dim, num_planes, seed)(
            F.col(corpus_vec)),
    )
    q = queries.withColumn(
        '__sd',
        hyperplane_signature_dots_udf(dim, num_planes, seed)(
            F.col(query_vec)),
    ).withColumn('__dots', F.col('__sd.dots')) \
     .withColumn('__base', F.col('__sd.bucket')) \
     .drop('__sd')
    if probes:
        q = q.withColumn(
            '__bucket',
            F.explode(
                _probe_buckets(F.col('__dots'), F.col('__base'), probes)
            ),
        )
    else:
        q = q.withColumn('__bucket', F.col('__base'))
    q = q.drop('__dots', '__base')
    scored = c.join(F.broadcast(q), on='__bucket').select(
        F.col(query_id),
        F.col(corpus_id),
        cosine_similarity(
            F.col(corpus_vec).cast('array<double>'),
            F.col(query_vec).cast('array<double>'),
        ).alias('cosine'),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col('cosine').desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn('__rk', F.row_number().over(w))
        .filter(F.col('__rk') <= k)
        .drop('__rk')
    )


# --------------------------------------------------------------------
# IVF (inverted-file) index — centroid-bucketed ANN
# --------------------------------------------------------------------

def _normalize_rows(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def ivf_centroids(
    corpus: SparkDF,
    vec_col: str = 'embedding',
    id_col: str = 'vec_id',
    n_clusters: int = 16,
    iters: int = 2,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic k-means coarse quantizer: (n_clusters, dim) array.

    Init: the ``n_clusters`` rows with smallest ``xxhash64(id, seed)``
    — a seeded, order-independent pseudo-random sample (no RNG state,
    same result on any cluster layout). Refinement: ``iters`` Lloyd
    passes; assignment is an Arrow-batched numpy GEMM per partition,
    per-cluster means are one tiny ``applyInPandas`` job (rows sorted
    by id inside each group so fp summation order — and therefore the
    centroids — are bit-reproducible).

    The result is driver-side numpy: k × dim × 8 bytes (a 65k × 1024
    codebook is ~0.5 GB — at that point persist it to parquet instead
    of recomputing per query batch).
    """
    init = (
        corpus.select(F.col(vec_col).alias('v'))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_clusters)
        .collect()
    )
    cents = np.array([r['v'] for r in init], dtype=np.float64)
    for _ in range(max(iters, 0)):
        assigned = ivf_assign(corpus, cents, vec_col=vec_col)

        def cluster_mean(key, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col)
            vecs = np.stack(pdf[vec_col].to_numpy())
            return pd.DataFrame(
                {'c': [key[0]], 'centroid': [vecs.mean(axis=0).tolist()]}
            )

        means = (
            assigned.select(id_col, vec_col, '__ivf_c')
            .groupBy('__ivf_c')
            .applyInPandas(cluster_mean, 'c int, centroid array<double>')
            .collect()
        )
        new = cents.copy()  # empty clusters keep their old centroid
        for r in means:
            new[r['c']] = r['centroid']
        cents = new
    return cents


def ivf_assign(
    df: SparkDF,
    centroids: np.ndarray,
    vec_col: str = 'embedding',
    output_col: str = '__ivf_c',
) -> SparkDF:
    """Tag each row with its nearest centroid (cosine): one int column.

    The centroid matrix ships to executors inside the UDF closure
    (small — see :func:`ivf_centroids`); each Arrow batch is scored
    with a single GEMM, so the per-row cost is BLAS, not Python.
    """
    cn = _normalize_rows(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf('int')
    def nearest(batch: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batch:
            vals = vecs.to_numpy()
            mask = np.array([v is not None and len(v) > 0
                             for v in vals], dtype=bool)
            out = np.full(len(vals), None, dtype=object)
            if mask.any():
                m = np.stack(vals[mask]).astype(np.float64)
                # argmax_c (v · c_norm) == argmax_c cosine(v, c)
                out[mask] = list(
                    np.argmax(m @ cn.T, axis=1).astype(np.int32))
            yield pd.Series(out)

    return df.withColumn(output_col, nearest(F.col(vec_col)))


def ivf_assign_multi(
    df: SparkDF,
    centroids: np.ndarray,
    vec_col: str = 'embedding',
    n: int = 2,
    output_col: str = '__ivf_c',
) -> SparkDF:
    """Tag each row with its ``n`` nearest centroids — one output row
    per (input row, probe cluster), i.e. the overlap-assignment used
    to recover cluster-boundary misses in SemDeDup-style pruning
    (row count multiplies by ``n``; downstream per-cluster work grows
    accordingly). Same GEMM + stable argsort as :func:`ivf_topk`'s
    query probing.

    NULL/empty embeddings cannot be assigned a cluster and are
    DROPPED from the output (the explode of a null probe list emits
    no row) instead of crashing the Arrow batch — filter them
    upstream if they must be accounted for."""
    cn = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    n = min(n, cn.shape[0])

    @F.pandas_udf('array<int>')
    def topn(batch: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batch:
            vals = vecs.to_numpy()
            mask = np.array([v is not None and len(v) > 0
                             for v in vals], dtype=bool)
            out = np.full(len(vals), None, dtype=object)
            if mask.any():
                m = np.stack(vals[mask]).astype(np.float64)
                order = np.argsort(-(m @ cn.T), axis=1, kind='stable')
                rows = order[:, :n].astype(np.int32)
                # per-slot assignment: fancy-assigning a 2-D block
                # into an object array is rejected by numpy
                for j, i in enumerate(np.nonzero(mask)[0]):
                    out[i] = rows[j]
            yield pd.Series(out)

    return df.withColumn(output_col, F.explode(topn(F.col(vec_col))))


def ivf_topk(
    corpus: SparkDF,
    queries: SparkDF,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    seed: int = 42,
    corpus_id: str = 'vec_id',
    corpus_vec: str = 'embedding',
    query_id: str = 'query_id',
    query_vec: str = 'query_vec',
    centroids: Optional[np.ndarray] = None,
) -> SparkDF:
    """IVF approximate top-k: probe the ``nprobe`` nearest cluster lists.

    Plan shape: corpus tagged with its cluster (GEMM per Arrow batch,
    no shuffle), queries exploded to their ``nprobe`` probe clusters
    and broadcast, equi-join on cluster id, exact cosine refinement,
    ranked-window top-k. Scanned fraction ≈ nprobe/n_clusters (data-
    dependent); ``nprobe == n_clusters`` degenerates to an exhaustive
    — exact — scan. Pass a precomputed ``centroids`` codebook to skip
    the k-means jobs (recommended for repeated query batches).
    """
    if not 1 <= nprobe <= n_clusters:
        raise ValueError(
            f'nprobe must be in [1, n_clusters={n_clusters}], got {nprobe}'
        )
    if centroids is None:
        centroids = ivf_centroids(
            corpus, vec_col=corpus_vec, id_col=corpus_id,
            n_clusters=n_clusters, iters=iters, seed=seed,
        )
    cn = _normalize_rows(np.asarray(centroids, dtype=np.float64))

    c = ivf_assign(corpus, centroids, vec_col=corpus_vec)

    @F.pandas_udf('array<int>')
    def probe_clusters(batch: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batch:
            m = np.stack(vecs.to_numpy()).astype(np.float64)
            order = np.argsort(-(m @ cn.T), axis=1, kind='stable')
            yield pd.Series(list(order[:, :nprobe].astype(np.int32)))

    q = queries.withColumn(
        '__ivf_c', F.explode(probe_clusters(F.col(query_vec)))
    )
    scored = c.join(F.broadcast(q), on='__ivf_c').select(
        F.col(query_id),
        F.col(corpus_id),
        cosine_similarity(
            F.col(corpus_vec).cast('array<double>'),
            F.col(query_vec).cast('array<double>'),
        ).alias('cosine'),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col('cosine').desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn('__rk', F.row_number().over(w))
        .filter(F.col('__rk') <= k)
        .drop('__rk')
    )


# --------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# --------------------------------------------------------------------

def pq_train(
    corpus: SparkDF,
    vec_col: str = 'embedding',
    id_col: str = 'vec_id',
    m: int = 8,
    k: int = 16,
    iters: int = 4,
    seed: int = 42,
    sample_size: int = 4096,
) -> np.ndarray:
    """Train per-subspace codebooks: an ``(m, k, dim/m)`` array.

    The vector space splits into ``m`` contiguous subspaces; each gets
    its own k-means over a seeded, order-independent sample (the
    ``sample_size`` rows with smallest ``xxhash64(id, seed)`` — no RNG
    state, reproducible on any cluster layout). Vectors are
    L2-normalized first, so the compressed domain approximates
    cosine. Training is driver-side numpy on the bounded sample —
    codebooks are tiny (m × k × dim/m doubles).
    """
    if not 1 <= k <= 256:
        # codes are uint8 — more than 256 centroids per subspace
        # would alias code ids mod 256 at encode time
        raise ValueError(f'k must be in [1, 256], got {k}')
    rows = (
        corpus.select(F.col(vec_col).alias('v'))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(sample_size)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(
            f'training sample has {len(rows)} vectors, need >= k={k}')
    x = _normalize_rows(np.array([r['v'] for r in rows], np.float64))
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f'dim {dim} not divisible by m={m}')
    sub = dim // m
    books = np.empty((m, k, sub), np.float64)
    for j in range(m):
        xs = x[:, j * sub:(j + 1) * sub]
        cents = xs[:k].copy()  # deterministic init: hash-ordered rows
        for _ in range(max(iters, 0)):
            # argmin ||x-c||² == argmax (x·c − ||c||²/2)
            scores = xs @ cents.T - 0.5 * (cents ** 2).sum(axis=1)
            assign = np.argmax(scores, axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = xs[mask].mean(axis=0)
        books[j] = cents
    return books


def pq_encode(
    df: SparkDF,
    codebooks: np.ndarray,
    vec_col: str = 'embedding',
    output_col: str = 'pq_code',
) -> SparkDF:
    """Compress each vector to ``m`` bytes (one codebook id per
    subspace) — a ``binary`` column. 64-dim float32 embeddings shrink
    256 B → 8 B (32×), which is what lets a billion-vector corpus
    sit in executor memory for ADC scanning. Encoding is a GEMM per
    subspace per Arrow batch.
    """
    books = np.asarray(codebooks, np.float64)
    m, k, sub = books.shape

    @F.pandas_udf('binary')
    def enc(batch: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batch:
            x = _normalize_rows(
                np.stack(vecs.to_numpy()).astype(np.float64))
            if x.shape[1] != m * sub:
                raise ValueError(
                    f'vector dim {x.shape[1]} != codebook dim '
                    f'{m * sub} (m={m} x sub={sub})')
            codes = np.empty((x.shape[0], m), np.uint8)
            for j in range(m):
                xs = x[:, j * sub:(j + 1) * sub]
                scores = xs @ books[j].T \
                    - 0.5 * (books[j] ** 2).sum(axis=1)
                codes[:, j] = np.argmax(scores, axis=1)
            yield pd.Series([c.tobytes() for c in codes])

    return df.withColumn(output_col, enc(F.col(vec_col)))


def pq_topk(
    corpus_codes: SparkDF,
    queries: SparkDF,
    codebooks: np.ndarray,
    k: int = 10,
    corpus_id: str = 'vec_id',
    code_col: str = 'pq_code',
    query_id: str = 'query_id',
    query_vec: str = 'query_vec',
    max_query_rows: int = 100_000,
) -> SparkDF:
    """Approximate top-k by asymmetric distance computation (ADC).

    Each (normalized) query pre-computes an ``(m, k)`` inner-product
    table against the codebooks; a corpus vector's approximate cosine
    is then ``Σ_j table[j, code[j]]`` — pure table lookups
    (``np.take``-style indexing), zero FLOPs per vector. The query
    tables ship in the UDF closure (tiny); the corpus never
    re-shuffles; the only shuffle is the final per-query top-k
    window, fed |corpus| × |queries| score rows exactly like
    :func:`cosine_topk` — but scanning 8-byte codes, not 256-byte
    vectors. ``queries`` must be small (collected to the driver):
    more than ``max_query_rows`` raises rather than silently OOMing
    the driver — this operator is for interactive query batches, not
    query-table joins (for those, use :func:`cosine_topk`'s join
    path, or raise the cap explicitly if you know the batch fits).
    """
    books = np.asarray(codebooks, np.float64)
    m, kk, sub = books.shape
    qrows = (queries.select(query_id, query_vec)
             .limit(max_query_rows + 1).collect())
    if len(qrows) > max_query_rows:
        raise ValueError(
            f'pq_topk collects the query set to the driver and got '
            f'more than max_query_rows={max_query_rows} rows — this '
            f'is the interactive-batch path, not a query-table join. '
            f'Use cosine_topk for table-vs-table scoring, or raise '
            f'max_query_rows if the batch genuinely fits in driver '
            f'memory.')
    if not qrows:
        raise ValueError('queries is empty')
    qids = [r[query_id] for r in qrows]
    qmat = _normalize_rows(
        np.array([r[query_vec] for r in qrows], np.float64))
    if qmat.shape[1] != m * sub:
        raise ValueError(
            f'query dim {qmat.shape[1]} != codebook dim {m * sub}')
    # tables[q, j, c] = q_sub[j] · codebook[j, c]
    tables = np.einsum('qjs,jcs->qjc',
                       qmat.reshape(len(qids), m, sub), books)

    @F.pandas_udf('array<double>')
    def adc(batch: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for codes in batch:
            c = np.stack([np.frombuffer(b, np.uint8)
                          for b in codes.to_numpy()])  # (n, m)
            # scores[q, n] = Σ_j tables[q, j, c[n, j]]
            scores = tables[:, np.arange(m)[None, :], c].sum(axis=2)
            yield pd.Series(list(scores.T))

    spark = corpus_codes.sparkSession
    qid_map = spark.createDataFrame(
        list(enumerate(qids)), '__qidx int, __qid string'
    ).withColumnRenamed('__qid', query_id) if isinstance(qids[0], str) \
        else spark.createDataFrame(
            list(enumerate(qids)), f'__qidx int, {query_id} bigint')
    scored = (
        corpus_codes
        .select(corpus_id, F.posexplode(adc(F.col(code_col)))
                .alias('__qidx', 'pq_score'))
        .join(F.broadcast(qid_map), on='__qidx')
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col('pq_score').desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn('__rk', F.row_number().over(w))
        .filter(F.col('__rk') <= k)
        .select(query_id, corpus_id, 'pq_score')
    )


def ivf_pq_topk(
    corpus: SparkDF,
    queries: SparkDF,
    codebooks: np.ndarray,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    seed: int = 42,
    corpus_id: str = 'vec_id',
    corpus_vec: str = 'embedding',
    query_id: str = 'query_id',
    query_vec: str = 'query_vec',
    centroids: Optional[np.ndarray] = None,
    max_query_rows: int = 100_000,
) -> SparkDF:
    """IVF-PQ: the standard billion-scale ANN layout — coarse IVF
    clusters prune the corpus to ``nprobe/n_clusters`` of its lists,
    and PQ codes make scanning a list table lookups over 8-byte codes
    instead of float math over raw vectors.

    Plan shape: corpus tagged with cluster id + PQ code (two
    Arrow-batched passes, no shuffle), queries exploded to probe
    clusters and broadcast, equi-join on cluster id, per-pair ADC
    lookup, ranked top-k. Versus :func:`pq_topk` the scored row count
    drops by ~nprobe/n_clusters; versus :func:`ivf_topk` each scored
    row reads m bytes, not the full vector.
    """
    if not 1 <= nprobe <= n_clusters:
        raise ValueError(
            f'nprobe must be in [1, n_clusters={n_clusters}], got {nprobe}'
        )
    books = np.asarray(codebooks, np.float64)
    m, kk, sub = books.shape
    if centroids is None:
        centroids = ivf_centroids(
            corpus, vec_col=corpus_vec, id_col=corpus_id,
            n_clusters=n_clusters, iters=iters, seed=seed,
        )
    cn = _normalize_rows(np.asarray(centroids, np.float64))

    tagged = pq_encode(
        ivf_assign(corpus, centroids, vec_col=corpus_vec),
        books, vec_col=corpus_vec,
    ).select(corpus_id, '__ivf_c', 'pq_code')

    qrows = (queries.select(query_id, query_vec)
             .limit(max_query_rows + 1).collect())
    if len(qrows) > max_query_rows:
        raise ValueError(
            f'ivf_pq_topk collects the query set to the driver and '
            f'got more than max_query_rows={max_query_rows} rows — '
            f'this is the interactive-batch path, not a query-table '
            f'join. Use cosine_topk/ivf_topk for table-vs-table '
            f'scoring, or raise max_query_rows if the batch genuinely '
            f'fits in driver memory.')
    if not qrows:
        raise ValueError('queries is empty')
    qids = [r[query_id] for r in qrows]
    qmat = _normalize_rows(
        np.array([r[query_vec] for r in qrows], np.float64))
    if qmat.shape[1] != m * sub:
        raise ValueError(
            f'query dim {qmat.shape[1]} != codebook dim {m * sub}')
    tables = np.einsum('qjs,jcs->qjc',
                       qmat.reshape(len(qids), m, sub), books)
    probe_lists = np.argsort(-(qmat @ cn.T), axis=1,
                             kind='stable')[:, :nprobe]

    spark = corpus.sparkSession
    id_type = 'bigint' if not isinstance(qids[0], str) else 'string'
    q_probe = spark.createDataFrame(
        [(int(i), qid, int(c))
         for i, qid in enumerate(qids)
         for c in probe_lists[i]],
        f'__qidx int, {query_id} {id_type}, __ivf_c int')

    @F.pandas_udf('double')
    def adc_pair(codes: pd.Series, qidx: pd.Series) -> pd.Series:
        c = np.stack([np.frombuffer(b, np.uint8)
                      for b in codes.to_numpy()])
        qi = qidx.to_numpy()
        return pd.Series(
            tables[qi[:, None], np.arange(m)[None, :], c].sum(axis=1))

    scored = (
        tagged.join(F.broadcast(q_probe), on='__ivf_c')
        .withColumn('pq_score', adc_pair(F.col('pq_code'),
                                         F.col('__qidx')))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col('pq_score').desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn('__rk', F.row_number().over(w))
        .filter(F.col('__rk') <= k)
        .select(query_id, corpus_id, 'pq_score')
    )


def quantize_embeddings(
    df: SparkDF,
    col: str = 'embedding',
    out_col: str = 'q',
    scale_col: str = 'max_abs',
) -> SparkDF:
    """Symmetric per-vector int8 quantization: ``q_i =
    floor(x_i * 127 / max|x| + 0.5)`` in [-127, 127], plus the
    per-vector ``max_abs`` needed to dequantize — the standard 4×
    storage/bandwidth cut for embedding corpora (at 100 TB the
    embedding table is usually the biggest thing after raw text,
    and int8 ADC search loses ~nothing at recall@k).

    Pure array expressions in the scan projection — no UDF, no
    shuffle.  The arithmetic is plain IEEE multiply/divide/floor, so
    any engine replays the codes bit-exactly (``round()`` is NOT
    used — engines disagree at exact half boundaries; ``floor(x +
    0.5)`` is deterministic everywhere).  All-zero vectors quantize
    to all zeros with ``max_abs`` 0.
    """
    v = F.transform(F.col(col), lambda x: x.cast('double'))
    mx = F.array_max(F.transform(v, F.abs))
    q = F.when(
        mx > 0,
        F.transform(v, lambda x: F.floor(x * 127 / mx + 0.5)
                    .cast('int'))
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumn(out_col, q).withColumn(scale_col, mx)


def dequantize_embeddings(
    df: SparkDF,
    q_col: str = 'q',
    scale_col: str = 'max_abs',
    out_col: str = 'embedding',
) -> SparkDF:
    """Inverse of :func:`quantize_embeddings`:
    ``x_i ≈ q_i * max_abs / 127`` (``array<double>``)."""
    x = F.transform(
        F.col(q_col),
        lambda qi: qi.cast('double') * F.col(scale_col) / 127)
    return df.withColumn(out_col, x)


def bitext_mine(
    src: SparkDF,
    tgt: SparkDF,
    k: int = 4,
    threshold: float = 1.05,
    src_id: str = 'src_id',
    tgt_id: str = 'tgt_id',
    src_vec: str = 'embedding',
    tgt_vec: str = 'embedding',
    mutual: bool = True,
    broadcast_side: str = 'tgt',
    candidates: Optional[SparkDF] = None,
) -> SparkDF:
    """Margin-based parallel-corpus mining between two embedding
    sets: ``(src_id, tgt_id, cosine, margin)`` pairs whose RATIO
    margin clears ``threshold`` — the standard bitext miner
    (Artetxe & Schwenk, "Margin-based Parallel Corpus Mining with
    Multilingual Sentence Embeddings", ACL 2019; the LASER/CCMatrix
    recipe) for harvesting translation pairs for multilingual
    training data.

    margin(x, y) = cos(x, y) / ((mean_k(x→tgt) + mean_k(y→src))/2)
    — raw cosine over-selects hub sentences whose neighborhood is
    uniformly close; dividing by the mean of each side's k nearest
    cosines cancels the hubness.  Candidates are each side's top-k
    neighbors; with ``mutual=True`` (default) a pair must be BOTH
    sides' best margin (ties broken by partner id, so decisions are
    deterministic and engine-replayable).

    Scale shape: exact scoring is ONE broadcast cross —
    ``broadcast_side`` picks which side is broadcast (default
    ``'tgt'``; pass ``'src'`` when the source set is the small one,
    or ``'auto'`` to count both sides EAGERLY and broadcast the
    smaller) — then two per-side top-k windows and joins on the
    pair candidates (bounded by ``(|src| + |tgt|) × k`` rows, never
    |src|×|tgt|).  For corpus-scale sides pass ``candidates``: a
    pre-joined ``(src_id, tgt_id)`` frame (e.g. from
    :func:`ivf_topk`/:func:`lsh_topk` on both directions, or
    hreflang page alignment) — only those pairs are scored (two
    shuffle joins to fetch the vectors; no cross, no broadcast
    requirement), and margin/mutual-best run on the candidate set,
    which IS the Artetxe & Schwenk recipe (their k-NN candidates
    come from FAISS).  k-nearest means are then means over each
    side's k best CANDIDATE cosines.
    """
    with scope() as held:
        s = src.select(F.col(src_id).alias('__sid'),
                       F.col(src_vec).cast('array<double>').alias('__sv'))
        t = tgt.select(F.col(tgt_id).alias('__tid'),
                       F.col(tgt_vec).cast('array<double>').alias('__tv'))
        cos = cosine_similarity(F.col('__sv'), F.col('__tv'))
        if candidates is not None:
            pairs = (
                candidates
                .select(F.col(src_id).alias('__sid'),
                        F.col(tgt_id).alias('__tid'))
                .distinct()
                .join(s, '__sid')
                .join(t, '__tid'))
        else:
            if broadcast_side == 'auto':
                broadcast_side = 'tgt' if t.count() <= s.count() \
                    else 'src'
            # Pre-partition the STREAM side by its id before the cross:
            # the broadcast cross preserves the stream side's
            # partitioning, so that side's top-k rank window below is
            # satisfied without re-exchanging the whole |src|×|tgt|
            # scored frame — one exchange of |stream| vector rows
            # replaces one exchange of the cross product (guide §2.4:
            # operations keyed the same way share one exchange; the
            # other side's window still pays its full exchange).  The
            # partition count is pinned to the session's shuffle
            # parallelism: an unpinned column repartition gets
            # AQE-coalesced on the (tiny) stream side, which would run
            # the whole quadratic scoring pass in one task.
            nparts = int(s.sparkSession.conf.get(
                'spark.sql.shuffle.partitions'))
            if broadcast_side == 'tgt':
                pairs = s.repartition(nparts, '__sid') \
                    .crossJoin(F.broadcast(t))
            elif broadcast_side == 'src':
                pairs = t.repartition(nparts, '__tid') \
                    .crossJoin(F.broadcast(s))
            else:
                raise ValueError(
                    "broadcast_side must be 'tgt', 'src' or 'auto', "
                    f'got {broadcast_side!r}')
        scored = pairs.select('__sid', '__tid', cos.alias('cosine'))
        w_s = Window.partitionBy('__sid').orderBy(
            F.col('cosine').desc(), F.col('__tid').asc())
        w_t = Window.partitionBy('__tid').orderBy(
            F.col('cosine').desc(), F.col('__sid').asc())
        # chained (not one select): the STREAM side's window must evaluate
        # FIRST, while the frame still carries that side's pre-cross
        # partitioning — evaluated second it would need its own full
        # re-exchange of the scored frame, on top of the other window's.
        ranks = [('__rs', F.row_number().over(w_s)),
                 ('__rt', F.row_number().over(w_t))]
        if candidates is None and broadcast_side == 'src':
            ranks.reverse()
        ranked = scored
        for name, rank in ranks:
            ranked = ranked.withColumn(name, rank)
        # Lineage cut on the candidate set (bounded by (|src|+|tgt|)×k):
        # the hubness means, the margin join, and the mutual-best windows
        # all reference this frame — without the cut each reference
        # re-executes the scoring pass + both rank windows (the r15
        # before-plan held TWELVE copies of the cross product).
        cands0 = (
            ranked.where((F.col('__rs') <= k) | (F.col('__rt') <= k))
            .transform(cut, eager=False))
        # per-side hubness denominators: mean of the k nearest cosines
        mean_s = (cands0.where(F.col('__rs') <= k).groupBy('__sid')
                  .agg(F.avg('cosine').alias('__ms')))
        mean_t = (cands0.where(F.col('__rt') <= k).groupBy('__tid')
                  .agg(F.avg('cosine').alias('__mt')))
        cands = (cands0
                 .join(F.broadcast(mean_s), '__sid')
                 .join(F.broadcast(mean_t), '__tid')
                 .withColumn('margin',
                             F.col('cosine')
                             / ((F.col('__ms') + F.col('__mt')) / 2)))
        out = cands.where(F.col('margin') >= threshold)
        if mutual:
            b_s = Window.partitionBy('__sid').orderBy(
                F.col('margin').desc(), F.col('__tid').asc())
            b_t = Window.partitionBy('__tid').orderBy(
                F.col('margin').desc(), F.col('__sid').asc())
            out = (out.withColumn('__bs', F.row_number().over(b_s))
                   .withColumn('__bt', F.row_number().over(b_t))
                   .where((F.col('__bs') == 1) & (F.col('__bt') == 1)))
        return held.result(out.select(
            F.col('__sid').alias(src_id), F.col('__tid').alias(tgt_id),
            'cosine', 'margin'))


def maxsim_topk(
    docs: SparkDF,
    queries: SparkDF,
    k: int = 10,
    doc_id: str = 'doc_id',
    doc_vecs: str = 'token_vecs',
    query_id: str = 'query_id',
    query_vecs: str = 'token_vecs',
    candidates: Optional[SparkDF] = None,
) -> SparkDF:
    """Late-interaction retrieval (ColBERT MaxSim — Khattab &
    Zaharia, SIGIR 2020): per query, the top-k documents by
    ``score(q, d) = Σ_{qt∈q} max_{dt∈d} ⟨qt, dt⟩`` over per-TOKEN
    embedding matrices (``array<array<double>>`` columns) — the
    retrieval scorer that keeps token-level interactions the single
    pooled-vector cosine loses, standard for mining supervision
    pairs and reranking candidates in retrieval training data.

    Pure codegen: the whole MaxSim is nested higher-order array
    expressions (``aggregate`` over query tokens of ``array_max``
    of per-token ``zip_with`` dots) — no UDF, and every fold runs
    in fixed array order so any engine with list lambdas replays
    scores bit-exactly.  ``queries`` broadcasts (the small side by
    construction); the corpus scans once, and the only shuffle is
    the per-query top-k window on k-survivor rows.  At corpus
    scale pass ``candidates``: a pre-joined ``(query_id, doc_id)``
    frame from a pooled-vector ANN stage (``ivf_topk``/``lsh_topk``
    on a mean-pooled column) — only those pairs are MaxSim-scored
    (two joins to fetch token matrices; the full cross never
    materializes), and the top-k window ranks within the candidate
    set.  The scorer is candidate-source agnostic either way.
    """
    # disambiguate before the cross join: both sides may carry the
    # same token-matrix column name
    d = docs.select(F.col(doc_id), F.col(doc_vecs).alias('__dv'))
    q = queries.select(F.col(query_id),
                       F.col(query_vecs).alias('__qv'))
    dot = lambda a, b: F.aggregate(  # noqa: E731 — local expr alias
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0), lambda s, x: s + x)
    score = F.aggregate(
        F.col('__qv'), F.lit(0.0),
        lambda acc, qt: acc + F.array_max(
            F.transform(F.col('__dv'), lambda dt: dot(qt, dt))))
    if candidates is not None:
        pairs = (
            candidates
            .select(query_id, doc_id)
            .distinct()
            .join(d, doc_id)
            .join(q, query_id))
    else:
        pairs = d.crossJoin(F.broadcast(q))
    scored = pairs.select(
        F.col(query_id), F.col(doc_id), score.alias('maxsim'))
    w = Window.partitionBy(query_id).orderBy(
        F.col('maxsim').desc(), F.col(doc_id).asc())
    return (scored.withColumn('__rk', F.row_number().over(w))
            .filter(F.col('__rk') <= k).drop('__rk'))


def matryoshka_topk(
    corpus: SparkDF,
    queries: SparkDF,
    dims: int = 16,
    k: int = 10,
    rerank_k: Optional[int] = None,
    corpus_id: str = 'vec_id',
    corpus_vec: str = 'embedding',
    query_id: str = 'query_id',
    query_vec: str = 'query_vec',
) -> SparkDF:
    """Matryoshka adaptive retrieval (Kusupati et al., NeurIPS 2022
    — the MRL funnel): score the corpus with only the FIRST ``dims``
    embedding dimensions (cosine is scale-free, so truncation needs
    no explicit renormalization), shortlist ``rerank_k`` candidates
    per query, then rerank just the shortlist with the full vectors
    — the standard cheap-pass/exact-pass deployment for embeddings
    trained with matryoshka losses, and a useful brute-force
    cost-cutter even for vanilla embeddings (the funnel is exact
    whenever the truncated ranking's top-``rerank_k`` contains the
    true top-``k``; widen ``rerank_k`` to trade cost for recall).

    Returns ``(query_id, rank, vec_id, cosine)`` with the FULL-dim
    cosine, rank 1..k.

    Plan & scale: stage 1 is the :func:`cosine_topk` shape — corpus
    scanned once against broadcast queries at ``dims``/full-width
    arithmetic cost (the win at 100 TB: a 16-of-768 truncation cuts
    the scan's FLOPs ~50×), one per-query top-``rerank_k`` window
    over rows that carry only (ids, score).  Stage 2 re-reads ONLY
    the candidate rows via a broadcast hash join on the (queries ×
    rerank_k)-row shortlist — full vectors never transit the stage-1
    window — then a per-query top-``k`` window on the exact score.
    No shuffle touches corpus vectors in either stage.
    """
    if rerank_k is None:
        rerank_k = 4 * k
    if dims < 1:
        raise ValueError(f'dims must be >= 1, got {dims!r}')
    if rerank_k < k:
        raise ValueError(
            f'rerank_k ({rerank_k}) must be >= k ({k})')
    coarse = corpus.crossJoin(F.broadcast(queries)).select(
        F.col(query_id),
        F.col(corpus_id),
        cosine_similarity(
            F.slice(F.col(corpus_vec).cast('array<double>'), 1, dims),
            F.slice(F.col(query_vec).cast('array<double>'), 1, dims),
        ).alias('__coarse'),
    )
    w1 = Window.partitionBy(query_id).orderBy(
        F.col('__coarse').desc(), F.col(corpus_id).asc())
    shortlist = (
        coarse.withColumn('__rk', F.row_number().over(w1))
        .filter(F.col('__rk') <= rerank_k)
        .select(query_id, corpus_id)
    )
    enriched = shortlist.join(queries, query_id)
    exact = corpus.join(F.broadcast(enriched), corpus_id).select(
        F.col(query_id),
        F.col(corpus_id),
        cosine_similarity(
            F.col(corpus_vec).cast('array<double>'),
            F.col(query_vec).cast('array<double>'),
        ).alias('cosine'),
    )
    w2 = Window.partitionBy(query_id).orderBy(
        F.col('cosine').desc(), F.col(corpus_id).asc())
    return (
        exact.withColumn('rank', F.row_number().over(w2))
        .filter(F.col('rank') <= k)
        .select(query_id, 'rank', corpus_id, 'cosine')
    )
