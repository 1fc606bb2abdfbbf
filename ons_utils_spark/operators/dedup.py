"""Deduplication operators for large-scale document pipelines.

North-star extension (the reference has no dedup beyond pandas
``drop_duplicates`` on driver-side frames, pandas.py:112-118). Five
strategies, all shuffle-aware:

* exact — hash-groupBy on a normalized fingerprint (one shuffle).
* MinHash + LSH — shingle → minhash signature → band buckets →
  candidate join; only candidate pairs are verified, never the n²
  cross product.
* SimHash — 64-bit near-dup signature via per-token hash bit voting.
* n-gram Jaccard — exact similarity join via shingle-inverted-index
  (explode + equi-join + count ratio).
* embedding cosine — near-dup by vector similarity.

Determinism: all hashing is xxhash64 with fixed seeds, so results are
reproducible across runs/clusters. Skew note: common shingles create
hot buckets; ``ngram_jaccard_join`` drops shingles above a document-
frequency cap (stopword-shingle suppression) which bounds both skew
and bucket size — the standard trick from web-scale dedup (Lee et al.,
"Deduplicating Training Data Makes Language Models Better").
"""
from __future__ import annotations

import warnings
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Window
from pyspark.sql import functions as F

from .lineage import cut, keep, scope, scoped
from .text import normalize_text, tokenize


def exact_dedup(
    df: SparkDF,
    text_col: str = 'text',
    id_col: str = 'doc_id',
    normalize: bool = True,
) -> SparkDF:
    """Keep one row (lowest id) per distinct (normalized) text.

    One hash shuffle on the 128-bit fingerprint. At 100 TB hash the
    text before the shuffle (done here) so only ~16-byte keys move.
    """
    key = F.md5(normalize_text(text_col)) if normalize \
        else F.md5(F.col(text_col))
    w = Window.partitionBy('__fp').orderBy(F.col(id_col).asc())
    return (
        df.withColumn('__fp', key)
        .withColumn('__rn', F.row_number().over(w))
        .filter(F.col('__rn') == 1)
        .drop('__fp', '__rn')
    )


def dedup_report(
    df: SparkDF,
    text_col: str = 'text',
    normalize: bool = True,
) -> SparkDF:
    """Corpus duplication profile BEFORE deduplicating:
    ``(family_size, n_families, n_docs)`` — how many exact-duplicate
    families exist at each multiplicity.  The first diagnostic a
    curation run prints: it sizes the dedup win (``1 -
    n_families/n_docs`` overall) and shows whether duplication is a
    long tail of pairs or a few megafamilies (which need skew
    handling downstream).

    Two aggregates: one shuffle keyed by the 16-byte text
    fingerprint (map-side partials; only hashes move, same plan
    prefix as :func:`exact_dedup`), then a second over the tiny
    ``family_size`` key space.
    """
    key = F.md5(normalize_text(text_col)) if normalize \
        else F.md5(F.col(text_col))
    fam = (
        df.select(key.alias('__fp'))
        .groupBy('__fp')
        .agg(F.count(F.lit(1)).alias('family_size')))
    return (
        fam.groupBy('family_size')
        .agg(F.count(F.lit(1)).alias('n_families'),
             F.sum('family_size').alias('n_docs')))


def latest_by_key(
    df: SparkDF,
    keys,
    order_by,
    tiebreak=None,
) -> SparkDF:
    """CDC/SCD compaction: keep the single latest row per key.

    One shuffle keyed by ``keys``; the ranked window never
    materializes more than a partition. ``order_by`` is the recency
    column (descending); ``tiebreak`` columns (descending) pin a
    deterministic winner when recency ties — REQUIRED for
    reproducible output if the recency column isn't unique per key.

    The standard compaction step for upsert/changelog feeds before
    joining them as dimensions; at scale prefer running it per
    ingestion partition and merging, rather than over all history.
    """
    from ..generic import list_convert

    order_cols = [F.col(c).desc() for c in list_convert(order_by)]
    if tiebreak is not None:
        order_cols += [F.col(c).desc() for c in list_convert(tiebreak)]
    w = Window.partitionBy(*list_convert(keys)).orderBy(*order_cols)
    return (
        df.withColumn('__rn', F.row_number().over(w))
        .filter(F.col('__rn') == 1)
        .drop('__rn')
    )


def word_shingles(text_col: str, n: int = 3):
    """Distinct word n-gram shingles of the normalized text (array col).

    Built from ``n`` shifted slices combined with ``zip_with`` concat —
    O(tokens) with n array allocations. (The naive
    ``transform(sequence, i -> concat_ws(slice(toks, i, n)))`` costs
    O(tokens²) element copies plus an interpreted slice per index —
    ~10× slower on real documents.)  On hot paths prefer
    :func:`with_char_shingles`-style DataFrame-level shingling over a
    materialized normalized column; a ``transform(array(expr), t ->
    ...)[0]`` let-binding wrapper is NOT safe here — when the result
    feeds a pandas UDF, Spark's ExtractPythonUDFs intermittently
    fails to extract a UDF whose argument contains that shape and
    execution dies with INTERNAL_ERROR (observed on Spark 4.1, both
    in deduplicated self-join branches and mid-session).
    """
    toks = tokenize(normalize_text(text_col))
    k = F.size(toks) - (n - 1)
    shingled = F.slice(toks, 1, k)
    for offset in range(1, n):
        shifted = F.slice(toks, offset + 1, k)
        shingled = F.zip_with(
            shingled, shifted, lambda a, b: F.concat_ws(' ', a, b)
        )
    return F.when(k >= 1, F.array_distinct(shingled)) \
        .otherwise(F.array(F.concat_ws(' ', toks)))


def char_shingles(text_col: str, n: int = 5):
    """Distinct character n-gram shingles of the normalized text —
    the dedup unit for scripts without whitespace word boundaries
    (CJK, Thai) where :func:`word_shingles` degenerates to one giant
    token. Short texts fall back to a single whole-string shingle.

    Built like :func:`word_shingles`: split to a char array, then
    ``n`` shifted slices combined with ``zip_with`` concat. The naive
    ``transform(sequence(1, k), i -> substring(c, i, n))`` hits
    pitfall #1 — ``c`` (the normalization regex) is inlined into the
    per-element lambda and re-evaluated once PER CHARACTER.  On hot
    paths prefer :func:`with_char_shingles`, which materializes the
    normalized string in its own projection first and is ~5× faster
    cold (single substr per position, no nested zip_with chain, no
    intermediate char arrays).
    """
    chars = F.split(normalize_text(text_col), '')
    k = F.size(chars) - (n - 1)
    shingled = F.slice(chars, 1, F.greatest(k, F.lit(0)))
    for offset in range(1, n):
        shifted = F.slice(chars, offset + 1, F.greatest(k, F.lit(0)))
        shingled = F.zip_with(
            shingled, shifted, lambda a, b: F.concat(a, b)
        )
    return F.when(k >= 1, F.array_distinct(shingled)) \
        .otherwise(F.array(F.array_join(chars, '')))


def with_char_shingles(
    df: SparkDF,
    text_col: str = 'text',
    n: int = 5,
    out_col: str = '__shingles',
    norm_col: Optional[str] = None,
) -> SparkDF:
    """DataFrame-level char n-gram shingling — the hot-path form.

    Materializes the normalized string as its own aliased projection
    FIRST (CollapseProject refuses to duplicate a non-cheap aliased
    expression, so the regex tree is evaluated once per row and the
    per-element lambda only touches the cheap attribute — pitfall
    #1), then emits distinct shingles via a single ``substr(t, i,
    n)`` per position.  ``substr`` past the end clips, so short
    texts collapse to one whole-string shingle with no extra branch
    — identical output to :func:`char_shingles`, ~5× faster cold at
    sf0.1 (no nested ``zip_with`` chain, no intermediate per-char
    arrays, nothing re-evaluated per element).

    ``norm_col`` additionally keeps the normalized string under that
    name (for downstream length stats); otherwise it is dropped.
    """
    norm_name = norm_col or '__cs_norm'
    out = df.withColumn(norm_name, normalize_text(text_col))
    t = F.col(norm_name)
    out = out.withColumn(
        out_col,
        F.array_distinct(F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.length(t) - (n - 1), F.lit(1))),
            lambda i: F.substr(t, i, F.lit(n)))),
    )
    return out if norm_col else out.drop(norm_name)


def _shingler(kind: str):
    """'word' → :func:`word_shingles`, 'char' → :func:`char_shingles`
    (use 'char' for scripts without whitespace word boundaries)."""
    if kind == 'word':
        return word_shingles
    if kind == 'char':
        return char_shingles
    raise ValueError(f"shingles must be 'word' or 'char', got {kind!r}")


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mix (splitmix64) for seeding hash families."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def shingle_hashes(shingles_col):
    """Hash each shingle string once → array<bigint> (32-bit range).

    Evaluate this into a real column (with a barrier — see
    :func:`minhash_signature`'s note) before fanning out to the
    ``num_hashes`` min-loops, otherwise Catalyst inlines the shingle
    construction into the per-function lambda and re-evaluates it once
    per hash function.
    """
    return F.transform(
        shingles_col,
        lambda s: F.xxhash64(s).bitwiseAND(F.lit(0xFFFFFFFF)),
    )


# Smallest prime above 2^32: the modulus of the universal hash
# family. 32-bit shingle hash x 30-bit multiplier + 30-bit offset
# stays under 2^62, so the mod is exact in signed 64-bit math.
MINHASH_PRIME = 4294967311


def _check_bands(num_hashes: int, bands: int) -> None:
    """Fail loudly on a lossy banding request.

    ``rows_per_band = num_hashes // bands`` silently DROPS the
    trailing ``num_hashes % bands`` hash functions, changing the LSH
    S-curve from what the caller asked for — e.g. ``num_hashes=16,
    bands=5`` uses only 15 hashes at 3 rows/band.
    """
    if bands <= 0 or num_hashes <= 0:
        raise ValueError(
            f'num_hashes ({num_hashes}) and bands ({bands}) must be'
            ' positive')
    if num_hashes % bands != 0:
        raise ValueError(
            f'num_hashes ({num_hashes}) must be divisible by bands'
            f' ({bands}): the trailing {num_hashes % bands} hash'
            ' functions would be silently dropped, changing the LSH'
            ' collision probability')


def _check_blocks(n_blocks: int) -> None:
    """SimHash block keys must tile the 64-bit signature exactly."""
    if n_blocks <= 0 or 64 % n_blocks != 0:
        raise ValueError(
            f'n_blocks ({n_blocks}) must be a positive divisor of 64:'
            ' otherwise the trailing signature bits fall outside every'
            ' block and the pigeonhole recall guarantee silently'
            ' weakens')


def _minhash_consts(num_hashes: int):
    a = [(_splitmix64(i) & 0x3FFFFFFF) | 1 for i in range(num_hashes)]
    b = [_splitmix64(i + 1_000_003) & 0x3FFFFFFF
         for i in range(num_hashes)]
    return a, b


def minhash_signature(hashes_col, num_hashes: int = 64):
    """MinHash signature from a shingle-hash array column (pure JVM).

    The ``num_hashes`` hash functions are the universal family
    ``(A_i·h + B_i) mod P`` with fixed 30-bit constants and the
    prime ``P = 4294967311`` (smallest prime above 2³²; every
    product fits a signed 64-bit long — no ANSI overflow), so only
    one string hash is paid per shingle.  The modulus is
    LOAD-BEARING: without it the affine map is monotone in ``h``,
    every "hash function" selects the same argmin shingle, and the
    signature degenerates to an all-or-nothing exact-duplicate
    detector (caught by the recall probe, round 5 — near-dup pairs
    at Jaccard 0.9 had 0/64 signature agreement).  ``hashes_col``
    must be a materialized column (not an inline expression) or the
    input will be recomputed per hash function.  For large corpora
    prefer :func:`minhash_signature_udf` — same values, vectorized.
    """
    a_list, b_list = _minhash_consts(num_hashes)
    a_consts = F.array(*[F.lit(a) for a in a_list])
    b_consts = F.array(*[F.lit(b) for b in b_list])
    return F.zip_with(
        a_consts,
        b_consts,
        lambda a, b: F.array_min(
            F.transform(hashes_col,
                        lambda h: F.pmod(h * a + b,
                                         F.lit(MINHASH_PRIME)))
        ),
    )


def minhash_signature_udf(num_hashes: int = 64):
    """Arrow-vectorized MinHash signature (identical values to
    :func:`minhash_signature`).

    Spark's higher-order functions are interpreted per element; at
    num_hashes × shingles evals per document that interpretation
    dominates. This pandas UDF receives the JVM-computed shingle-hash
    arrays via Arrow and does the ``min(h*A_i+B_i)`` fan-out as one
    numpy matrix op per document (~30× faster at 64 hashes). All
    constants are 30-bit so the int64 math never overflows.
    """
    from pyspark.sql.functions import pandas_udf

    a_list, b_list = _minhash_consts(num_hashes)

    @pandas_udf('array<bigint>')
    def _sig(hashes: pd.Series) -> pd.Series:
        a = np.asarray(a_list, dtype=np.int64)[:, None]
        b = np.asarray(b_list, dtype=np.int64)[:, None]
        out = []
        for h in hashes:
            if h is None or len(h) == 0:
                out.append(np.full(num_hashes, 2**62, dtype=np.int64))
                continue
            hv = np.asarray(h, dtype=np.int64)[None, :]
            out.append(((hv * a + b) % MINHASH_PRIME).min(axis=1))
        return pd.Series(out)

    return _sig


def minhash_band_index(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hashed_shingles: Optional[SparkDF] = None,
    shingles: str = 'word',
) -> SparkDF:
    """``(<id_col>, band, bucket)`` banded MinHash index frame.

    This IS the incremental-dedup artifact: write it as a table
    (partitioned/bucketed by ``(band, bucket)``) once per corpus,
    then dedup each incoming batch by banding ONLY the batch with
    identical parameters and equi-joining the stored index
    (:func:`minhash_index_probe`) — no corpus re-shingle, no corpus
    re-shuffle, index growth is an append.  The same frame backs
    :func:`minhash_lsh_candidates` (probe == the index self-join),
    so batch and incremental paths can never diverge.

    The signature pipeline is xxhash64-seeded and deterministic:
    banding a document yields identical (band, bucket) keys on any
    cluster at any time, which is what makes a STORED index joinable
    against future batches.
    """
    _check_bands(num_hashes, bands)
    rows_per_band = num_hashes // bands
    # Shingle + hash in the JVM (one pass); signature fan-out in a
    # vectorized pandas UDF (Arrow transfer of small long arrays).
    # The explode(array(...)) wraps the shingle pipeline in a Generate
    # node: a plan barrier CollapseProject cannot cross, so the pandas
    # UDF's input stays a plain attribute.  Without it a self-join's
    # attribute dedup duplicates the shingle lambda tree into the UDF
    # argument of the rebuilt branch, where ExtractPythonUDFs fails to
    # extract it and execution dies with INTERNAL_ERROR "Cannot
    # evaluate expression: _sig(...)".
    hashed = hashed_shingles if hashed_shingles is not None else df.select(
        F.col(id_col).alias('__id'),
        F.explode(F.array(shingle_hashes(
            _shingler(shingles)(text_col, shingle_n)))).alias('__hs'),
    )
    sig = hashed.select(
        '__id',
        minhash_signature_udf(num_hashes)(F.col('__hs')).alias('__sig'),
    )
    banded = sig.select(
        '__id',
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias('band'),
                    F.xxhash64(
                        F.concat_ws(
                            ',',
                            F.transform(
                                F.slice(F.col('__sig'),
                                        b * rows_per_band + 1,
                                        rows_per_band),
                                lambda x: x.cast('string'),
                            ),
                        )
                    ).alias('bucket'),
                ),
            )
        ).alias('bh'),
    ).select(F.col('__id').alias(id_col), 'bh.band', 'bh.bucket')
    return banded


def _bucket_pair_join(
    banded: SparkDF,
    keys: Sequence[str],
    carry: Sequence[str] = (),
    max_bucket_size: Optional[int] = None,
) -> SparkDF:
    """Self-join a banded frame on its bucket ``keys`` with
    ``id_a < id_b`` — the candidate-pair stage shared by the LSH
    dedup families — with a hot-bucket guard.

    An unguarded self-join on (band, bucket) emits k(k−1)/2 pairs
    from a k-row bucket: on a web corpus a boilerplate family easily
    reaches k=10⁶, i.e. 5·10¹¹ pairs from ONE bucket — a join
    explosion AQE cannot split (it is output volume, not shuffle
    imbalance).  With ``max_bucket_size`` set, buckets above the cap
    are STAR-paired instead: every row pairs with the bucket's
    minimum id only (k−1 pairs).  Under greedy keep-lowest-id dedup
    this preserves "everything that verifies against the bucket min
    drops"; pairs between two non-min members of an oversized bucket
    are the documented recall loss (collapse exact-duplicate
    signatures FIRST — see the callers — so only genuinely-distinct
    near-dup mega-families ever hit the cap).

    ``carry`` columns are emitted per side as ``<col>_a``/``<col>_b``
    (e.g. SimHash signatures for the Hamming verify).

    Inside a :func:`lineage.scope` (the dedup drivers, which are
    eager anyway) the bucket census is resolved NOW and the
    repartitioned frame is kept until the scope exits: the census is
    then a separate action from the pair join it guards, and
    exchange reuse does not span actions, so the kept frame is what
    lets the census collect and the pair join share ONE shuffle.
    Outside a scope the returned plan is fully lazy and caches
    nothing.
    """
    banded = keep(banded.repartition(*keys))

    def _pairs(ldf: SparkDF, rdf: SparkDF) -> SparkDF:
        l, r = ldf.alias('l'), rdf.alias('r')
        cond = [F.col(f'l.{k}') == F.col(f'r.{k}') for k in keys]
        cond.append(F.col('l.__id') < F.col('r.__id'))
        sel = [F.col('l.__id').alias('id_a'),
               F.col('r.__id').alias('id_b')]
        for c in carry:
            sel.append(F.col(f'l.{c}').alias(f'{c}_a'))
            sel.append(F.col(f'r.{c}').alias(f'{c}_b'))
        return l.join(r, on=cond).select(*sel)

    if max_bucket_size is None:
        return _pairs(banded, banded)
    # Join against the OVERSIZED buckets only: one bucket row per
    # ≥ cap members means at most rows/cap oversized keys — normally
    # zero — so the tag join is a broadcast of a near-empty frame,
    # not the rows×bands-sized full bucket-census join an earlier
    # shape paid (which re-shuffled the whole banded frame and was
    # 2.3× the unguarded join's cost at sf0.1 even with NO oversized
    # bucket in the data).  The census itself rides the same (keys)
    # shuffle as the pair join via ReusedExchange.
    oversized = (
        banded.groupBy(*keys)
        .agg(F.count('*').alias('__bsz'), F.min('__id').alias('__bmin'))
        .filter(F.col('__bsz') > max_bucket_size)
        .drop('__bsz')
    )
    if scoped():
        # Resolve the census NOW (scopes are opened only by already-
        # eager contexts like the dedup drivers): in the overwhelming
        # common case there is NO oversized bucket and the plan
        # degenerates to the plain self-join — the split scaffolding
        # (tag join + three filter branches) measured 2.5× the plain
        # join's cost at sf0.1 even with zero oversized buckets.  The
        # collect is driver-bounded: ≤ rows/cap oversized keys can
        # exist, and anything beyond 100k rows falls back to the
        # fully-distributed lazy split below.
        over_rows = oversized.limit(100_001).collect()
        if not over_rows:
            return _pairs(banded, banded)
        # Recall loss is OBSERVABLE, never silent: star-capping an
        # oversized bucket drops its spoke-spoke pairs (only hub
        # pairs survive), so callers with legitimate 2k+-member
        # near-dup families see a loud one-time warning instead of
        # quietly reduced recall.  Raise max_bucket_size (default
        # 2000 since r9; it was 100000 before) to keep those pairs.
        warnings.warn(
            f'{min(len(over_rows), 100_000)} LSH bucket(s) exceed '
            f'max_bucket_size={max_bucket_size} and were star-capped'
            ' to their min-id row: pairs between two non-min members'
            ' of those buckets are not emitted. Raise'
            ' max_bucket_size (or pass None) if full in-family'
            ' recall matters more than join-explosion safety.',
            RuntimeWarning, stacklevel=3)
        if len(over_rows) <= 100_000:
            over_df = F.broadcast(
                banded.sparkSession.createDataFrame(
                    over_rows, oversized.schema))
            tagged = banded.join(over_df, on=list(keys), how='left')
            small = tagged.filter(F.col('__bmin').isNull()) \
                .drop('__bmin')
            hub = tagged.filter(F.col('__id') == F.col('__bmin')) \
                .drop('__bmin')
            spokes = tagged.filter(
                F.col('__bmin').isNotNull()
                & (F.col('__id') != F.col('__bmin'))).drop('__bmin')
            return _pairs(small, small).unionByName(
                _pairs(hub, spokes))
    tagged = banded.join(oversized, on=list(keys), how='left')
    small = tagged.filter(F.col('__bmin').isNull()).drop('__bmin')
    hub = tagged.filter(F.col('__id') == F.col('__bmin')) \
        .drop('__bmin')
    spokes = tagged.filter(F.col('__bmin').isNotNull()
                           & (F.col('__id') != F.col('__bmin'))) \
        .drop('__bmin')
    return _pairs(small, small).unionByName(_pairs(hub, spokes))


def _cap_index_buckets(
    idx: SparkDF,
    keys: Sequence[str],
    id_col: str,
    probe_banded: SparkDF,
    max_bucket_size: Optional[int],
) -> SparkDF:
    """Cap oversized stored-index buckets to their min-id row for an
    incremental probe join (see :func:`minhash_index_probe`).

    Restricts the census to buckets the batch actually probes (a
    semi-join against the batch's band keys — the stored index may
    be the whole corpus, the batch touches a sliver of it), then one
    window pass keeps every row of within-cap buckets and only the
    minimum-id row of oversized ones.
    """
    if max_bucket_size is None:
        return idx
    idx = idx.join(
        probe_banded.select(*keys).distinct(),
        on=list(keys), how='left_semi')
    w = Window.partitionBy(*keys)
    return (
        idx.withColumn('__bsz', F.count('*').over(w))
        .withColumn('__bmin', F.min(id_col).over(w))
        .filter((F.col('__bsz') <= max_bucket_size)
                | (F.col(id_col) == F.col('__bmin')))
        .drop('__bsz', '__bmin')
    )


def _set_fingerprint(hs_col):
    """64-bit fingerprint of a shingle-hash SET (order/multiplicity
    erased) — two documents with equal fingerprints have, up to a
    2⁻⁶⁴-per-pair xxhash64 collision, identical shingle sets and
    therefore exact Jaccard 1 with each other and identical Jaccard
    against every other document."""
    return F.xxhash64(F.array_sort(F.array_distinct(hs_col)))


def minhash_lsh_candidates(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hashed_shingles: Optional[SparkDF] = None,
    shingles: str = 'word',
    collapse_identical: bool = True,
    max_bucket_size: Optional[int] = 2000,
    banded_index: Optional[SparkDF] = None,
) -> SparkDF:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows → (id, signature) → explode into ``bands`` band-hash keys →
    self-join on (band, band_hash) → distinct (id_a < id_b) pairs.
    Shuffle volume is O(rows × bands), never O(rows²).

    **Hot-family guard (default ON).** On web corpora exact-duplicate
    families (boilerplate, empty docs) dominate LSH buckets: k
    identical documents co-land in every band and an unguarded
    self-join emits k(k−1)/2 pairs.  With ``collapse_identical`` each
    identical-shingle-SET family is collapsed to its minimum-id
    representative before banding and every non-representative is
    emitted as a ``(rep, member)`` pair directly (k−1 pairs, and the
    pair is exact — Jaccard 1 by construction, so any verifier at
    threshold ≤ 1 confirms it).  The returned pair set is then
    *dedup-sufficient* rather than bucket-complete: for every pair
    (a, b) sharing a bucket, either (a, b) is returned or
    (rep(a), rep(b)) plus the (rep, member) chains are — and because
    members have Jaccard 1 with their representative (hence identical
    Jaccard against every third document), greedy keep-lowest-id
    decisions after any Jaccard verification are IDENTICAL to the
    uncollapsed join's.  Set ``collapse_identical=False`` for the
    historical bucket-complete pair set.

    ``max_bucket_size`` star-pairs buckets that are still oversized
    after the collapse (genuinely-distinct near-dup mega-families)
    on the bucket's min id — see :func:`_bucket_pair_join` for the
    documented recall bound.  ``None`` disables the cap.

    ``hashed_shingles`` (``__id``, ``__hs array<bigint>``) lets the
    caller supply a precomputed — typically persisted — shingle-hash
    frame so the (expensive) shingling is not re-derived here, and
    ``banded_index`` a precomputed :func:`minhash_band_index` frame
    (same parameters!) for the banding itself.  The guards reference
    these frames from several plan branches (fingerprint census,
    banding, bucket census, both self-join sides), so a DIRECT call
    with the guards on and neither frame persisted evaluates the
    shingle pipeline more than once — :func:`minhash_dedup` persists
    and eagerly materializes both, which is the shape to copy at
    scale.

    Called inside a :func:`lineage.scope` it keeps the family-member
    frame and the bucket repartition until the scope exits and
    resolves the bucket census eagerly (see
    :func:`_bucket_pair_join`).  Outside one the returned plan is
    fully lazy and caches nothing.

    ``max_bucket_size`` sizing rule: an at-cap bucket emits cap²/2
    pairs from ONE join task (a single bucket key cannot be split by
    AQE), so pick cap ≈ √(2 × tolerable-pairs-per-task) — the
    default 2000 bounds any bucket to ~2M pairs; raising it to 10⁵
    would allow 5×10⁹-pair tasks.  Star-pairing makes a low cap
    cheap: recall loss is only spoke↔spoke pairs of
    genuinely-distinct near-dup mega-families.
    """
    _check_bands(num_hashes, bands)
    hashed = hashed_shingles if hashed_shingles is not None else df.select(
        F.col(id_col).alias('__id'),
        F.explode(F.array(shingle_hashes(
            _shingler(shingles)(text_col, shingle_n)))).alias('__hs'),
    )

    fam_pairs = None
    member_ids = None
    if collapse_identical:
        # SCALAR side computation only: the fingerprint branch
        # projects (id, 64-bit setfp) off the (ideally persisted)
        # shingle-hash frame, aggregates map-side, and the family
        # frame AQE-broadcasts back — the wide array-bearing frame is
        # never re-shuffled.  (An earlier shape anti-joined the array
        # frame itself by id before banding: that re-shuffled the
        # arrays AND broke the pair-join's ReusedExchange — 3.2x
        # slower at sf0.1.)
        keyed = hashed.select(
            '__id', _set_fingerprint(F.col('__hs')).alias('__setfp'))
        # ONE window over __setfp, not groupBy-census + join-back:
        # the census/join shape scans `keyed` twice from sibling leaf
        # stages of one action (AQE may submit them concurrently,
        # re-racing the cold shingle pipeline — r12 ADVICE), and at
        # scale the join-back is a second full shuffle once the
        # family frame outgrows broadcast.  The window is a single
        # scan + a single exchange on __setfp — a LINEAR plan by
        # construction.
        fam_w = Window.partitionBy('__setfp')
        members = (
            keyed.select(
                '__id',
                F.min('__id').over(fam_w).alias('__rep'),
                F.count(F.lit(1)).over(fam_w).alias('__fn'))
            .filter((F.col('__fn') > 1)
                    & (F.col('__id') != F.col('__rep')))
            .select('__rep', '__id')
        )
        # The member frame is referenced by EVERY downstream branch
        # (banding anti-join feeds both self-join sides, the
        # hub/spoke split, and the bucket census): left uncached,
        # each branch re-runs its window shuffle.  It is
        # rows-with-a-duplicate sized (small by construction).  Inside
        # a scope a KEEP is enough — and one whole job cheaper than
        # an eager checkpoint: the first downstream action populates
        # it, and AQE cannot race the cold shingle pipeline because
        # the members window exchange is that plan's only leaf stage
        # (the banding repartition exchange depends on it, so stages
        # run sequentially).
        members = keep(members)
        fam_pairs = members.select(F.col('__rep').alias('id_a'),
                                   F.col('__id').alias('id_b'))
        member_ids = members.select('__id')

    if banded_index is not None:
        banded = banded_index.withColumnRenamed(id_col, '__id')
    else:
        banded = minhash_band_index(
            df, id_col, text_col, num_hashes, bands, shingle_n,
            hashed, shingles,
        ).withColumnRenamed(id_col, '__id')
    if member_ids is not None:
        # Drop member rows from the NARROW (id, band, bucket) frame —
        # post-signature, so the banding pipeline keeps its pre-guard
        # plan shape; the member-id side is tiny after aggregation and
        # AQE turns this into a broadcast anti-join (no banded-side
        # shuffle).  Banding members' signatures is wasted-but-bounded
        # work (the unguarded pipeline always paid it).
        banded = banded.join(member_ids, '__id', 'left_anti')

    # _bucket_pair_join repartitions on (band, bucket): a shuffle
    # barrier that also stops the optimizer from inlining the (large)
    # signature expression tree into both self-join branches — the two
    # sides then share one ReusedExchange instead of recomputing and
    # recompiling the minhash pipeline twice.
    pairs = _bucket_pair_join(
        banded, ('band', 'bucket'), max_bucket_size=max_bucket_size)
    if fam_pairs is not None:
        pairs = pairs.unionByName(fam_pairs)
    return pairs.distinct()


def minhash_index_probe(
    index: SparkDF,
    df_new: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    shingles: str = 'word',
    new_id: str = 'new_id',
    index_id: str = 'index_id',
    max_bucket_size: Optional[int] = 2000,
    prebanded: Optional[SparkDF] = None,
) -> SparkDF:
    """Candidate pairs between a NEW batch and a STORED band index.

    ``prebanded``: optionally the caller's own
    :func:`minhash_band_index` output for ``df_new`` (SAME
    parameters), when it already banded the batch for another
    purpose (e.g. the incremental sink's store append + bucket-prune
    list) — skips re-shingling and re-signing the batch here.

    The incremental half of MinHash dedup: ``index`` is a
    :func:`minhash_band_index` frame (typically read back from a
    table written with the corpus); only the new batch is shingled
    and banded — with parameters that MUST match the index build:
    band keys are parameter-dependent, and a mismatch yields silent
    near-empty joins (store num_hashes/bands alongside the index
    table and pass them through).  Equi-join on (band, bucket),
    distinct (new, index) pairs; exact-verify against the corpus
    text and append the new batch's band rows to the index table to
    complete the cycle.

    Hot-bucket guard: an index bucket larger than
    ``max_bucket_size`` (a boilerplate mega-family present in both
    the stored corpus AND the batch would otherwise join
    k_idx × k_new pairs from one unsplittable bucket key) is capped
    to its MIN-ID index row — each new doc pairs with the bucket
    representative only, which preserves "drop the new doc if it
    verifies against anything indexed" greedy decisions for
    exact-duplicate families; pairs against the bucket's other
    members are the documented recall bound (same trade as
    :func:`_bucket_pair_join`).  ``None`` disables the cap.  The
    census touches only buckets the batch actually probes (semi-join
    first), not the whole stored index.

    Pair-completeness contract (test-pinned): with no bucket over
    the cap, probe(index(old), new) ∪ candidates(new,
    ``collapse_identical=False``) equals every bucket-complete
    candidate pair of old ∪ new that touches a new document —
    banding is deterministic per document, so splitting the corpus
    into (indexed, new) loses nothing.  (The DEFAULT
    :func:`minhash_lsh_candidates` output is the collapsed
    dedup-sufficient pair set, a subset of bucket-complete — compare
    against the guard-off form when auditing completeness.)
    """
    idx_cols = set(index.columns)
    if not {'band', 'bucket'} <= idx_cols:
        raise ValueError(
            f"index must be a minhash_band_index frame with 'band'"
            f" and 'bucket' columns, got {sorted(idx_cols)}")
    id_candidates = [c for c in index.columns
                     if c not in ('band', 'bucket')]
    if len(id_candidates) != 1:
        # a stored index read back with extra partition/metadata
        # columns must be projected down first — silently joining on
        # the wrong column would produce garbage dedup decisions
        raise ValueError(
            f'index frame must have exactly one id column besides'
            f' (band, bucket); got {id_candidates} — select the id'
            f' column explicitly before probing')
    iid = id_candidates[0]
    new_banded = (
        prebanded if prebanded is not None else minhash_band_index(
            df_new, id_col, text_col, num_hashes, bands, shingle_n,
            shingles=shingles)
    ).withColumnRenamed(id_col, new_id)
    idx = index.withColumnRenamed(iid, index_id)
    idx = _cap_index_buckets(
        idx, ('band', 'bucket'), index_id, new_banded,
        max_bucket_size)
    return (
        new_banded
        .join(idx, on=['band', 'bucket'])
        .filter(F.col(new_id) != F.col(index_id))
        .select(new_id, index_id)
        .distinct()
    )


def minhash_signature_portable(
    shingles_col,
    num_hashes: int = 16,
    prefix_len: int = 16,
):
    """Engine-portable MinHash signature: ``array<string>`` of the
    minimum md5-hex prefix per seed.

    The classic K-independent-permutation formulation: hash function
    ``i`` re-hashes each shingle as ``md5(i || ':' || shingle)`` and
    the signature element is the lexicographic minimum of the first
    ``prefix_len`` hex chars (lexicographic min of fixed-length hex
    == numeric min).  Any engine with ``md5()`` reproduces it
    bit-exactly — this is the auditing/verification twin of
    :func:`minhash_signature` (the xxhash64+affine production family,
    which pays ONE string hash per shingle instead of ``num_hashes``
    md5s and is what 100 TB runs should use).

    ``shingles_col`` must be a materialized column behind a barrier
    (see :func:`shingle_hashes`) or the shingle pipeline re-evaluates
    per hash function.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                shingles_col,
                lambda s: F.substring(
                    F.md5(F.concat(i.cast('string'), F.lit(':'), s)),
                    1, prefix_len),
            )
        ),
    )


def minhash_lsh_candidates_portable(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingles: str = 'word',
) -> SparkDF:
    """Banded MinHash LSH candidate pairs with the engine-portable
    md5 hash family (:func:`minhash_signature_portable`).

    Identical pipeline shape to :func:`minhash_lsh_candidates`
    (signature → band buckets → self-join on (band, bucket) —
    shuffle O(rows × bands), never O(rows²)) but every hash is
    md5-derived, so an independent SQL engine replays the EXACT
    candidate set — this is what lets the external DuckDB oracle
    hash-verify the LSH banding decision itself rather than just row
    counts.  Use the xxhash64 production family for real corpora;
    use this for audits and cross-engine verification.
    """
    _check_bands(num_hashes, bands)
    rows_per_band = num_hashes // bands
    # Explode shingles to rows so every md5 is a FLAT projection:
    # higher-order transform() lambdas are interpreted per element
    # (~10x slower at seeds x shingles evals), while the exploded
    # form stays inside whole-stage codegen and aggregates the
    # num_hashes minima map-side in one doc-keyed shuffle.  Values
    # are identical to minhash_signature_portable.
    ex = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias('__id'),
                F.explode(
                    _shingler(shingles)(text_col, shingle_n)
                ).alias('__s'))
    )
    sig = ex.groupBy('__id').agg(*[
        F.min(F.substring(
            F.md5(F.concat(F.lit(f'{i}:'), F.col('__s'))), 1, 16)
        ).alias(f'__h{i}')
        for i in range(num_hashes)
    ])
    banded = sig.select(
        '__id',
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias('band'),
                F.md5(F.concat_ws(',', *[
                    F.col(f'__h{j}')
                    for j in range(b * rows_per_band,
                                   (b + 1) * rows_per_band)
                ])).alias('bucket'),
            )
            for b in range(bands)
        ])).alias('bh'),
    ).select('__id', 'bh.band', 'bh.bucket')
    banded = banded.repartition('band', 'bucket')
    left, right = banded.alias('l'), banded.alias('r')
    return (
        left.join(
            right,
            on=[
                F.col('l.band') == F.col('r.band'),
                F.col('l.bucket') == F.col('r.bucket'),
                F.col('l.__id') < F.col('r.__id'),
            ],
        )
        .select(F.col('l.__id').alias('id_a'),
                F.col('r.__id').alias('id_b'))
        .distinct()
    )


def minhash_dedup(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    shingles: str = 'word',
    collapse_identical: bool = True,
    max_bucket_size: Optional[int] = 2000,
) -> SparkDF:
    """Remove near-duplicates: LSH candidates → exact Jaccard verify →
    greedy keep-lowest-id.

    Greedy rule: a row is dropped if it near-matches ANY lower id —
    a one-pass approximation of connected components that needs no
    iteration (sufficient for dedup; for full clustering run
    connected components on the pair graph).

    Scale guards (both default-on, see
    :func:`minhash_lsh_candidates`): identical-shingle-set families
    collapse to their min-id representative before banding — this
    preserves greedy decisions EXACTLY (members are Jaccard 1 with
    their representative, so they verify and drop at any threshold
    ≤ 1, and the representative's cross-pairs are the members')
    while cutting k-clone families from k²/2 candidate pairs to
    k−1 — and buckets still larger than ``max_bucket_size`` after
    the collapse are star-paired on the bucket min.

    The LSH/verify pipeline runs EAGERLY inside a
    :func:`lineage.scope` (the drop-list is its result): the
    expensive shingle cache is released before this returns, so
    repeated calls in a long-lived session don't accumulate cached
    partitions, and re-running actions on the result re-executes
    only the cheap anti-join.  The drop-list's cut is
    :func:`lineage.cut`: a reliable checkpoint when the session has
    a checkpoint directory, executor-local otherwise.
    """
    with scope() as s:
        # Shingle+hash ONCE and keep (8 B/shingle, spills to disk):
        # the same frame feeds signature generation AND both sides of
        # the verification join. Without this the shingle
        # regex/concat pipeline — the most expensive stage — runs
        # three times.
        hashed = keep(df.select(
            F.col(id_col).alias('__id'),
            shingle_hashes(
                _shingler(shingles)(text_col, shingle_n)).alias('__hs'),
        ))
        # The banded frame is consumed exactly ONCE downstream (the
        # candidate stage's bucket repartition, which
        # _bucket_pair_join keeps), so it carries no keep of its own;
        # `hashed` stays kept — the fingerprint census, the banding,
        # and both verify sides read it.  Cache population is
        # sequential without an explicit count() pass: the first
        # action (the bucket-census collect) computes the family
        # members and the banded repartition through a linear plan
        # into the then-warm `hashed`, and the drop-list job reads
        # only cached parents — no branchy action ever races to
        # compute a cold pipeline (the 3-4x failure mode an earlier
        # eager-count shape guarded).
        banded = minhash_band_index(
            df, id_col, text_col, num_hashes, bands, shingle_n,
            hashed, shingles,
        )
        cands = minhash_lsh_candidates(
            df, id_col, text_col, num_hashes, bands, shingle_n,
            hashed_shingles=hashed,
            collapse_identical=collapse_identical,
            max_bucket_size=max_bucket_size,
            banded_index=banded,
        )
        verified = verify_jaccard_hashed(cands, hashed, jaccard_threshold)
        # Materialize the (id-only, tiny relative to df) drop-list as
        # the scope's result, so the shingle cache is released now
        # instead of leaking for the SparkSession lifetime; the blocks
        # live in executor storage (never the driver).
        # No id-level distinct: the anti-join is duplicate-
        # insensitive.  A dropped id repeats once per distinct
        # verified lower-id partner × band collided in — partners
        # are bounded by the near-dup family size as capped by
        # ``max_bucket_size``, NOT a small constant, so the
        # checkpointed drop-list can inflate ~quadratically in
        # family size.  The trade accepted here: typical corpora
        # have small families and the saved full shuffle wins
        # (A/B-measured r10); a pathological clone-heavy corpus
        # should pass ``collapse_identical=True`` (exact clones
        # collapse before banding) or restore a distinct upstream.
        to_drop = s.result(verified.select(F.col('id_b').alias(id_col)))
    return df.join(to_drop, on=id_col, how='left_anti')


def verify_jaccard_hashed(
    pairs: SparkDF,
    hashed: SparkDF,
    threshold: float,
) -> SparkDF:
    """Exact Jaccard on precomputed shingle-HASH arrays (``__id``,
    ``__hs``) — set arithmetic on bigints instead of strings, and no
    shingle recomputation when ``hashed`` is persisted. Identical to
    string-shingle Jaccard up to 32-bit hash collisions within a pair
    (~|shingles|²/2³² — immaterial for near-dup thresholds)."""
    a = hashed.select(F.col('__id').alias('id_a'),
                      F.col('__hs').alias('hs_a'))
    b = hashed.select(F.col('__id').alias('id_b'),
                      F.col('__hs').alias('hs_b'))
    return (
        pairs.join(a, 'id_a').join(b, 'id_b')
        .withColumn(
            'jaccard',
            F.size(F.array_intersect('hs_a', 'hs_b')).cast('double')
            / F.size(F.array_union('hs_a', 'hs_b')),
        )
        .filter(F.col('jaccard') >= threshold)
        .select('id_a', 'id_b', 'jaccard')
    )


def verify_jaccard(
    pairs: SparkDF,
    df: SparkDF,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
) -> SparkDF:
    """Exact shingle-Jaccard for candidate pairs; keeps pairs >= threshold.

    Fast path: pairs whose NORMALIZED texts hash equal are exact
    duplicates (Jaccard 1.0 by construction — identical shingle sets)
    and skip the shingle join entirely. On web corpora exact
    duplicates dominate LSH candidates, so this removes most of the
    array_intersect/union work: only the near-miss tail pays for
    shingle materialization. (64-bit xxhash equality stands in for
    string equality; a collision is ~2⁻⁶⁴ per pair.)
    """
    fp = df.select(
        F.col(id_col).alias('__id'),
        F.xxhash64(normalize_text(text_col)).alias('__fp'),
    )
    keyed = (
        pairs
        .join(fp.select(F.col('__id').alias('id_a'),
                        F.col('__fp').alias('__fp_a')), 'id_a')
        .join(fp.select(F.col('__id').alias('id_b'),
                        F.col('__fp').alias('__fp_b')), 'id_b')
    )
    exact = (
        keyed.filter(F.col('__fp_a') == F.col('__fp_b'))
        .select('id_a', 'id_b', F.lit(1.0).alias('jaccard'))
        .filter(F.lit(1.0) >= threshold)
    )
    rest = keyed.filter(F.col('__fp_a') != F.col('__fp_b')) \
        .select('id_a', 'id_b')

    sh = df.select(
        F.col(id_col).alias('__id'),
        word_shingles(text_col, shingle_n).alias('__sh'),
    )
    a = sh.select(F.col('__id').alias('id_a'), F.col('__sh').alias('sh_a'))
    b = sh.select(F.col('__id').alias('id_b'), F.col('__sh').alias('sh_b'))
    near = (
        rest.join(a, 'id_a').join(b, 'id_b')
        .withColumn(
            'jaccard',
            F.size(F.array_intersect('sh_a', 'sh_b')).cast('double')
            / F.size(F.array_union('sh_a', 'sh_b')),
        )
        .filter(F.col('jaccard') >= threshold)
        .select('id_a', 'id_b', 'jaccard')
    )
    return exact.unionByName(near)


def simhash(text_col: str):
    """SimHash signature as a 64-character bitstring column.

    Each token is hashed once (xxhash64 → ``bin()`` bitstring); bit b
    of the signature is 1 iff more tokens have bit b set than unset.
    Hamming-close signatures ↔ similar documents. Pure higher-order
    functions — the vote accumulation is a ``zip_with`` fold, no
    shuffle, no Python. (A bitstring is used instead of a long because
    Spark's shift functions take only literal shift amounts.)
    """
    toks = tokenize(normalize_text(text_col))
    bitstrings = F.transform(
        toks, lambda t: F.lpad(F.bin(F.xxhash64(t)), 64, '0')
    )
    votes = F.aggregate(
        bitstrings,
        F.array_repeat(F.lit(0), 64),
        lambda acc, s: F.zip_with(
            acc,
            F.sequence(F.lit(1), F.lit(64)),
            lambda a, i: a + F.when(
                s.substr(i, F.lit(1)) == '1', F.lit(1)
            ).otherwise(F.lit(-1)),
        ),
    )
    return F.array_join(
        F.transform(
            votes, lambda v: F.when(v > 0, F.lit('1')).otherwise(F.lit('0'))
        ),
        '',
    )


def simhash_candidates_portable(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n_blocks: int = 4,
) -> SparkDF:
    """SimHash candidate pairs with an engine-portable md5 bit source.

    Verification twin of the xxhash64 :func:`simhash` pipeline (same
    shape: per-token 64-bit hash → per-bit majority vote → signature
    split into ``n_blocks`` block keys → pairs sharing ≥1 block; the
    pigeonhole guarantee covers Hamming distance < ``n_blocks``).
    Bits come from the first 16 hex chars of ``md5(token)`` (MSB of
    each nibble first), votes tie-break to 0 like :func:`simhash`,
    and every step is integer arithmetic — so an independent SQL
    engine replays the exact candidate set and the external oracle
    hash-verifies the blocking decision itself.

    Flat-projection formulation (explode tokens → 16 nibble columns
    → 64 codegen'd vote sums in ONE doc-keyed shuffle): higher-order
    lambdas would be interpreted per token × per bit.  Production
    corpora should use :func:`simhash_dedup` (one xxhash64 per token
    instead of an md5); this exists for audits.
    """
    from .text import normalize_text, tokenize

    _check_blocks(n_blocks)
    width = 64 // n_blocks
    ex = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias('__id'),
                F.explode(
                    tokenize(normalize_text(text_col))).alias('__t'))
    )
    h = F.md5(F.col('__t'))
    # Two 32-bit words per token (8 hex chars each) instead of 16
    # per-nibble conv(substring) parses: same bits, an eighth of the
    # per-token string work (guide §1.2: per-task work after shape).
    ex2 = ex.select(
        '__id',
        F.conv(F.substring(h, 1, 8), 16, 10).cast('long')
        .alias('__w0'),
        F.conv(F.substring(h, 9, 8), 16, 10).cast('long')
        .alias('__w1'),
    )

    def _bit(j: int):
        # bit j of the 64-bit MSB-first hex value: nibble k = j//4
        # lives in word k//8 at hex offset k%8; within the nibble
        # the MSB comes first (shift 3 - j%4).
        k = j // 4
        word = F.col('__w0') if k < 8 else F.col('__w1')
        shift = (7 - k % 8) * 4 + (3 - j % 4)
        return F.shiftright(word, shift).bitwiseAND(F.lit(1))

    votes = ex2.groupBy('__id').agg(*[
        F.sum(_bit(j) * 2 - 1).alias(f'__v{j}')
        for j in range(64)
    ])
    block_cols = []
    for m in range(n_blocks):
        expr = F.lit(0)
        for idx in range(width):
            j = m * width + idx
            bit = F.when(F.col(f'__v{j}') > 0, 1).otherwise(0)
            expr = expr + bit * F.lit(1 << (width - 1 - idx))
        block_cols.append(expr.cast('long').alias(f'__b{m}'))
    sig = votes.select('__id', *block_cols)
    banded = sig.select(
        '__id',
        F.explode(F.array(*[
            F.struct(F.lit(m).alias('block'),
                     F.col(f'__b{m}').alias('key'))
            for m in range(n_blocks)
        ])).alias('bk'),
    ).select('__id', 'bk.block', 'bk.key')
    banded = banded.repartition('block', 'key')
    left, right = banded.alias('l'), banded.alias('r')
    return (
        left.join(
            right,
            on=[
                F.col('l.block') == F.col('r.block'),
                F.col('l.key') == F.col('r.key'),
                F.col('l.__id') < F.col('r.__id'),
            ],
        )
        .select(F.col('l.__id').alias('id_a'),
                F.col('r.__id').alias('id_b'))
        .distinct()
    )


def simhash_blocks_udf(n_blocks: int = 4):
    """Arrow-vectorized SimHash: token-hash array → block-key array.

    Same layout as :func:`simhash` + :func:`simhash_blocks` (MSB-first
    bit order, 64/n_blocks-bit integer keys).  The whole Arrow batch
    is processed in document CHUNKS (not one Python iteration per
    document): each chunk's token hashes concatenate into one
    ``unpackbits`` call, per-document vote sums come from a single
    ``np.add.reduceat`` over the segment starts, and block packing is
    one matmul against the MSB-first weight vector.  At sf0.1 this
    measures PARITY with the per-document loop (Arrow transfer of the
    token-hash arrays dominates the stage either way); the chunked
    form removes the per-doc numpy call overhead that would surface
    at larger batch sizes, and chunking bounds the transient bit
    matrix to a few MB regardless of batch size.
    """
    from pyspark.sql.functions import pandas_udf

    _check_blocks(n_blocks)
    width = 64 // n_blocks
    # MSB-first weights within each block: first bit is the high bit.
    weights = (1 << (width - 1 - np.arange(width))).astype(np.int64)

    @pandas_udf('array<bigint>')
    def _blocks(hashes: pd.Series) -> pd.Series:
        n_docs = len(hashes)
        out = np.zeros((n_docs, n_blocks), dtype=np.int64)
        chunk = 256
        for lo in range(0, n_docs, chunk):
            part = hashes.iloc[lo:lo + chunk]
            arrs = [np.asarray(h, dtype=np.int64)
                    for h in part if h is not None and len(h) > 0]
            if not arrs:
                continue  # all-empty chunk keeps the zero signature
            idx = np.array([i for i, h in enumerate(part)
                            if h is not None and len(h) > 0])
            lens = np.array([len(a) for a in arrs], dtype=np.int64)
            flat = np.concatenate(arrs)
            # MSB-first bits of each 64-bit hash: big-endian bytes.
            bits = np.unpackbits(
                flat.astype('>i8').view(np.uint8)
                .reshape(len(flat), 8),
                axis=1,
            )
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # reduceat on uint8 would wrap at 256 tokens — widen
            # to a signed type first (same hazard as the old
            # per-doc sum() promotion note).
            ones = np.add.reduceat(bits.astype(np.int32), starts,
                                   axis=0).astype(np.int64)
            sig_bits = (ones * 2 > lens[:, None]).astype(np.int64)
            out[lo + idx] = sig_bits.reshape(
                len(lens), n_blocks, width) @ weights
        return pd.Series(list(out))

    return _blocks


def simhash_blocks(sig_col, n_blocks: int = 4):
    """Split a 64-bit simhash bitstring into ``n_blocks`` integer keys."""
    _check_blocks(n_blocks)
    width = 64 // n_blocks
    return F.array(*[
        F.conv(F.substring(sig_col, i * width + 1, width), 2, 10)
        .cast('long')
        for i in range(n_blocks)
    ])


def _simhash_sigs(
    df: SparkDF,
    id_col: str,
    text_col: str,
    n_blocks: int = 4,
) -> SparkDF:
    """``(__id, __blocks)`` SimHash signature frame — the shared
    signature stage of :func:`simhash_dedup` and
    :func:`simhash_block_index`.

    Token hashing rides a higher-order ``transform`` into the
    Arrow-vectorized :func:`simhash_blocks_udf` (numpy unpackbits
    vote sums).  A fully JVM-side alternative — explode the tokens
    and take 64 ``sum((h >> b) & 1)`` aggregates — measured ~1s
    SLOWER end-to-end in q_simhash_dedup at sf0.1 (65 aggregate
    buffers over the exploded token-sized frame plus a
    token-volume shuffle; the 64-sum update loop also risks the
    codegen budget), so the Arrow UDF stays.
    """
    token_hashes = F.transform(
        tokenize(normalize_text(text_col)), lambda t: F.xxhash64(t)
    )
    return df.select(
        F.col(id_col).alias('__id'),
        simhash_blocks_udf(n_blocks)(token_hashes).alias('__blocks'),
    )


def hamming_distance_blocks(a_blocks, b_blocks, n_blocks: int = 4):
    """Hamming distance between two block-array signatures.

    Unrolled over ``element_at`` (no lambda) so it stays inside
    whole-stage codegen — this runs once per candidate PAIR, which on
    collision-heavy corpora is millions of times; an interpreted
    ``aggregate``/``zip_with`` here costs 10-20× more.
    """
    terms = [
        F.bit_count(
            F.element_at(a_blocks, i + 1)
            .bitwiseXOR(F.element_at(b_blocks, i + 1))
        )
        for i in range(n_blocks)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def simhash_dedup(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    max_hamming: int = 3,
    collapse_identical: bool = True,
    max_bucket_size: Optional[int] = 2000,
) -> SparkDF:
    """Near-dedup by SimHash: 4-block banding finds all pairs within
    Hamming distance 3 (pigeonhole: one 16-bit block must match
    exactly), verified by true Hamming distance, then greedy
    keep-lowest-id. Shuffle volume O(rows × 4), never O(rows²).

    Scale guards: with ``collapse_identical`` (default) each
    identical-signature family is collapsed to its min-id
    representative before banding and the non-representatives are
    dropped directly.  This preserves greedy decisions EXACTLY — the
    signature IS the verification object here, so a member is at
    Hamming 0 from its (lower-id) representative and at the
    representative's exact distance from every other document — while
    cutting a k-clone family's candidate pairs from k²/2 to 0.
    Buckets still larger than ``max_bucket_size`` after the collapse
    are star-paired on the bucket min (:func:`_bucket_pair_join`).
    """
    # Signatures fully JVM-side (:func:`_simhash_sigs`).  The
    # signature frame (id + 4 bigints, ~40 B/row at ANY corpus
    # size) is KEPT rather than trusting AQE exchange reuse to
    # cover the self-join: reuse silently breaks when the input plan
    # branches don't canonicalize identically (observed with a
    # union-sourced corpus — the whole tokenize pipeline re-ran
    # per branch, 1.3s -> 3.6s at sf0.1), and keeping the tiny
    # frame is the cost-stable contract.  The drop-list is the
    # scope's result, evaluated eagerly so the cache never outlives
    # the call (same structure as :func:`minhash_dedup`).
    with scope() as s:
        sigs = keep(_simhash_sigs(df, id_col, text_col, 4))
        fam_drops = None
        if collapse_identical:
            # The bucket census doubles as the cache-populate action
            # (an explicit sigs.count() first was one full extra
            # pass).  ONE window over __blocks, not groupBy-census +
            # join-back: the census/join shape scans `sigs` twice
            # from sibling leaf stages of one action — AQE may submit
            # them concurrently and re-race the cold tokenize+UDF
            # pipeline (r12 ADVICE; the 3.4x cold-race failure mode)
            # — while the window is a single scan + a single
            # exchange, LINEAR by construction, and drops the
            # join-back shuffle the census shape pays once the family
            # frame outgrows broadcast.
            fam_w = Window.partitionBy('__blocks')
            # KEEP, not an eager cut: the census action populates it
            # (one whole job cheaper), and the members window
            # exchange is that plan's only leaf stage — the banding
            # repartition exchange depends on it, so AQE materializes
            # them sequentially and the cold tokenize+UDF pipeline is
            # computed exactly once, into the sigs cache, with no
            # sibling-stage race.  Small by construction (rows with
            # an identical-signature twin).
            members = keep(
                sigs.select(
                    '__id',
                    F.min('__id').over(fam_w).alias('__rep'),
                    F.count(F.lit(1)).over(fam_w).alias('__fn'))
                .filter((F.col('__fn') > 1)
                        & (F.col('__id') != F.col('__rep')))
                .select('__id'))
            # members are Hamming 0 from a lower id: they always drop
            fam_drops = members
            reps = sigs.join(members, '__id', 'left_anti')
        else:
            # Populate the cache in one sequential job first: the
            # bucket census and the two self-join sides otherwise
            # start as parallel stages racing to compute the cold
            # tokenize+UDF pipeline (measured 3.4x wall at sf0.1).
            sigs.count()
            reps = sigs
        banded = reps.select(
            '__id', '__blocks',
            F.posexplode('__blocks').alias('block', 'key'),
        )
        dropped = (
            _bucket_pair_join(
                banded, ('block', 'key'), carry=('__blocks',),
                max_bucket_size=max_bucket_size)
            .filter(
                hamming_distance_blocks(F.col('__blocks_a'),
                                        F.col('__blocks_b'))
                <= max_hamming
            )
            .select(F.col('id_b').alias('__id'))
        )
        if fam_drops is not None:
            dropped = dropped.unionByName(fam_drops)
        # No id-level distinct: the anti-join is duplicate-
        # insensitive.  A dropped id repeats once per distinct
        # within-Hamming lower-id partner × block collided in (and
        # these pairs are not pair-distinct either) — partners are
        # bounded by the near-dup family size as capped by
        # ``max_bucket_size``, NOT a small constant, so the
        # checkpointed drop-list can inflate ~quadratically in
        # family size.  Trade accepted as in minhash_dedup above:
        # small families dominate real corpora and the saved full
        # shuffle wins (A/B-measured r10); clone-heavy corpora
        # should collapse identical docs upstream.
        to_drop = s.result(dropped.select(F.col('__id').alias(id_col)))
    return df.join(to_drop, on=id_col, how='left_anti')


def simhash_block_index(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n_blocks: int = 4,
) -> SparkDF:
    """``(<id_col>, block, key, blocks)`` SimHash index frame — the
    incremental counterpart of :func:`minhash_band_index` for the
    Hamming-distance dedup family.

    One row per (document, block); ``blocks`` carries the full
    signature so a probe can verify true Hamming distance without
    touching the corpus text.  Write it as a table partitioned by
    (block, key) once per corpus, then dedup each incoming batch via
    :func:`simhash_index_probe` — signatures are xxhash64-
    deterministic, so stored keys stay joinable against any future
    batch."""
    sigs = _simhash_sigs(df, id_col, text_col, n_blocks).select(
        F.col('__id').alias(id_col),
        F.col('__blocks').alias('blocks'),
    )
    return sigs.select(
        id_col, F.posexplode('blocks').alias('block', 'key'), 'blocks')


def simhash_index_probe(
    index: SparkDF,
    df_new: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n_blocks: int = 4,
    max_hamming: int = 3,
    new_id: str = 'new_id',
    index_id: str = 'index_id',
    max_bucket_size: Optional[int] = 2000,
    prebanded: Optional[SparkDF] = None,
) -> SparkDF:
    """Near-duplicate pairs between a NEW batch and a stored SimHash
    block index, verified by true Hamming distance — only the batch
    is tokenized and signed (parameters MUST match the index build;
    mismatched n_blocks silently yields garbage keys, so store them
    with the index table).  Pigeonhole guarantee as in
    :func:`simhash_dedup`: every pair within Hamming <
    ``n_blocks`` shares at least one exact block.

    Hot-bucket guard (:func:`_cap_index_buckets`): an index (block,
    key) bucket over ``max_bucket_size`` is capped to its min-id row
    before the join — for SimHash this is LOSSLESS for the capped
    bucket's exact families (identical signatures verify at Hamming
    0 against the representative) and the recall bound applies only
    to distinct-signature co-bucketed rows.  ``None`` disables.

    ``prebanded``: optionally the caller's own
    :func:`simhash_block_index` output for ``df_new`` (SAME
    ``n_blocks``), when it already signed the batch for another
    purpose (e.g. the incremental sink's store append +
    bucket-prune list) — skips re-signing the batch here."""
    idx_cols = set(index.columns)
    if not {'block', 'key', 'blocks'} <= idx_cols:
        raise ValueError(
            f"index must be a simhash_block_index frame with 'block',"
            f" 'key' and 'blocks' columns, got {sorted(idx_cols)}")
    id_candidates = [c for c in index.columns
                     if c not in ('block', 'key', 'blocks')]
    if len(id_candidates) != 1:
        raise ValueError(
            f'index frame must have exactly one id column besides'
            f' (block, key, blocks); got {id_candidates} — select'
            f' the id column explicitly before probing')
    iid = id_candidates[0]
    new_banded = (
        prebanded if prebanded is not None else simhash_block_index(
            df_new, id_col, text_col, n_blocks)
    ).withColumnRenamed(id_col, new_id) \
     .withColumnRenamed('blocks', '__new_blocks')
    idx = _cap_index_buckets(
        index.withColumnRenamed(iid, index_id), ('block', 'key'),
        index_id, new_banded, max_bucket_size)
    return (
        new_banded
        .join(idx, on=['block', 'key'])
        .filter(F.col(new_id) != F.col(index_id))
        .filter(
            hamming_distance_blocks(
                F.col('__new_blocks'), F.col('blocks'), n_blocks)
            <= max_hamming)
        .select(new_id, index_id)
        .distinct()
    )


#: Default hot-shingle document-frequency cap for the inverted-index
#: joins.  A shingle appearing in D documents contributes O(D^2)
#: candidate pairs to the self-join; boilerplate shingles (headers,
#: licence lines, navigation) reach corpus-scale D, turning the join
#: quadratic.  Capping at 10k bounds any one shingle's contribution
#: to ~10^8 pre-aggregation rows — heavy but finite — while real
#: similarity evidence (rare shingles) is untouched.  Pass ``None``
#: explicitly for exact small-corpus runs (the bench oracles do).
DEFAULT_MAX_SHINGLE_DF = 10_000

#: One-time-per-process flag for the default-cap notice below.
_default_cap_warned = False

#: Sentinel distinguishing "caller left the cap at its default"
#: from an explicit ``max_shingle_df=10_000`` (which is silent).
_CAP_UNSET = object()


def _warn_default_shingle_cap(fn_name: str) -> None:
    """One-time notice that the IMPLICIT hot-shingle cap is active.

    The default changed from ``None`` (exact) to 10k: callers who
    relied on the old exact default silently lose pairs whose only
    similarity evidence is shingles with document frequency above
    the cap.  The drop itself happens lazily executor-side, so call
    time is the one reliable one-shot channel — warn when the
    caller DIDN'T choose a cap (arg is the default object), once
    per process.  Explicit ``max_shingle_df=10_000`` or ``None``
    both silence it.
    """
    global _default_cap_warned
    if _default_cap_warned:
        return
    _default_cap_warned = True
    warnings.warn(
        f'{fn_name}: hot-shingle cap defaults to '
        f'max_shingle_df={DEFAULT_MAX_SHINGLE_DF} (changed from '
        'None/exact): pairs whose similarity rests only on '
        'shingles appearing in more documents than the cap are '
        'dropped. Pass max_shingle_df=None for exact results on '
        'small corpora, or an explicit cap to acknowledge. '
        'This notice appears once per process.',
        stacklevel=3)


def ngram_jaccard_join(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: Optional[int] = _CAP_UNSET,  # type: ignore[assignment]
) -> SparkDF:
    """Exact all-pairs Jaccard >= threshold via shingle inverted index.

    explode(shingles) → self-equi-join on shingle → count common per
    pair → Jaccard from set sizes. ``max_shingle_df`` drops shingles
    appearing in more than that many docs (hot-key/skew cap,
    ON BY DEFAULT at :data:`DEFAULT_MAX_SHINGLE_DF` — without it a
    boilerplate-heavy corpus makes the self-join quadratic); exact
    for pairs whose similarity rests on rarer shingles.  Pass
    ``None`` to disable for exact runs on corpora known to be small.
    Leaving the cap at its implicit default emits a once-per-process
    notice (the default changed from ``None``/exact).
    """
    if max_shingle_df is _CAP_UNSET:
        _warn_default_shingle_cap('ngram_jaccard_join')
        max_shingle_df = DEFAULT_MAX_SHINGLE_DF
    # Explode straight into the shingle-keyed exchange: the hash
    # transform feeds ONLY the generator, so it is evaluated once per
    # row with no barrier, and the inverted-index rows are a bare
    # (id, shingle) pair — set sizes are NOT carried through the
    # self-join (guide §2.3: shuffle keys, not payload metadata; the
    # old shape paid a full extra exchange of the shingle-hash
    # ARRAYS just to let size() and explode() share one evaluation,
    # then shipped both sides' sizes inside every exploded row).
    # 64-bit hashes as join keys (32-bit would risk cross-shingle
    # collisions at corpus scale).
    inv = (
        df.select(
            F.col(id_col).alias('__id'),
            F.explode(
                F.transform(
                    word_shingles(text_col, shingle_n),
                    lambda s: F.xxhash64(s),
                )).alias('shingle'),
        )
        .repartition(F.col('shingle'))
    )
    # Per-doc set size = exploded row count (word_shingles emits
    # DISTINCT shingles), taken BEFORE the hot-shingle cap so the
    # denominator is the true set size exactly as the pre-r15 shape
    # computed it: a tiny (id, n) side joined onto the aggregated
    # pair frame afterwards — pairs are orders of magnitude fewer
    # than exploded index rows.
    sizes = inv.groupBy('__id').agg(F.count(F.lit(1)).alias('__n'))
    if max_shingle_df is not None:
        hot = (
            inv.groupBy('shingle').count()
            .filter(F.col('count') > max_shingle_df)
            .select('shingle')
        )
        inv = inv.join(hot, 'shingle', 'left_anti')
    a, b = inv.alias('a'), inv.alias('b')
    common = (
        a.join(b, on=[
            F.col('a.shingle') == F.col('b.shingle'),
            F.col('a.__id') < F.col('b.__id'),
        ])
        .groupBy(
            F.col('a.__id').alias('id_a'),
            F.col('b.__id').alias('id_b'),
        )
        .agg(F.count('*').alias('n_common'))
    )
    return (
        common
        .join(sizes.select(F.col('__id').alias('id_a'),
                           F.col('__n').alias('n_a')), 'id_a')
        .join(sizes.select(F.col('__id').alias('id_b'),
                           F.col('__n').alias('n_b')), 'id_b')
        .withColumn(
            'jaccard',
            F.col('n_common').cast('double')
            / (F.col('n_a') + F.col('n_b') - F.col('n_common')),
        )
        .filter(F.col('jaccard') >= threshold)
        .select('id_a', 'id_b', 'jaccard')
    )


def containment_pairs(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: Optional[int] = _CAP_UNSET,  # type: ignore[assignment]
) -> SparkDF:
    """DIRECTED near-containment pairs: ``(id_a, id_b, containment)``
    where ``containment = |S(a) ∩ S(b)| / |S(a)| >= threshold``
    (S = distinct word n-gram shingles) — a is (nearly) QUOTED
    INSIDE b.

    Jaccard misses subset duplication by construction: a paragraph
    fully copied into a 100× longer page has Jaccard ≈ 0.01 but
    containment 1.0 — the asymmetric measure (Broder's original
    "containment", SEQUENCES'97) is the right tool for quote/
    excerpt/boilerplate-reuse detection and benchmark-answer
    leakage.  Same single-shuffle inverted-index shape as
    :func:`ngram_jaccard_join` (explode → self-equi-join on the
    64-bit shingle hash → one pair-keyed count); the pair direction
    ``a != b`` (not ``<``) is inherent to asymmetry — both
    directions are evaluated, only the contained-side threshold
    emits.  ``max_shingle_df`` caps hot shingles exactly as in the
    Jaccard join (on by default at :data:`DEFAULT_MAX_SHINGLE_DF`;
    pass ``None`` for exact small-corpus runs; the implicit default
    emits a once-per-process notice).
    """
    if max_shingle_df is _CAP_UNSET:
        _warn_default_shingle_cap('containment_pairs')
        max_shingle_df = DEFAULT_MAX_SHINGLE_DF
    # Same shape as :func:`ngram_jaccard_join` (see the comment
    # there): explode straight into the shingle-keyed exchange (no
    # array barrier shuffle), bare (id, shingle) self-join rows, the
    # contained side's set size joined onto the aggregated pair
    # frame afterwards.
    inv = (
        df.select(
            F.col(id_col).alias('__id'),
            F.explode(
                F.transform(
                    word_shingles(text_col, shingle_n),
                    lambda s: F.xxhash64(s),
                )).alias('shingle'),
        )
        .repartition(F.col('shingle'))
    )
    # True (pre-cap) set size, exactly as in :func:`ngram_jaccard_join`.
    sizes = inv.groupBy('__id').agg(F.count(F.lit(1)).alias('__n'))
    if max_shingle_df is not None:
        hot = (
            inv.groupBy('shingle').count()
            .filter(F.col('count') > max_shingle_df)
            .select('shingle')
        )
        inv = inv.join(hot, 'shingle', 'left_anti')
    a, b = inv.alias('a'), inv.alias('b')
    common = (
        a.join(b, on=[
            F.col('a.shingle') == F.col('b.shingle'),
            F.col('a.__id') != F.col('b.__id'),
        ])
        .groupBy(
            F.col('a.__id').alias('id_a'),
            F.col('b.__id').alias('id_b'),
        )
        .agg(F.count('*').alias('n_common'))
    )
    return (
        common
        .join(sizes.select(F.col('__id').alias('id_a'),
                           F.col('__n').alias('n_a')), 'id_a')
        .withColumn(
            'containment',
            F.col('n_common').cast('double') / F.col('n_a'))
        .filter(F.col('containment') >= threshold)
        .select('id_a', 'id_b', 'containment')
    )


def winnow_fingerprints(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    k: int = 4,
    w: int = 3,
    _distinct: bool = True,
) -> SparkDF:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    per document, the minimum k-gram hash of every window of ``w``
    consecutive k-grams, deduplicated — guaranteed to share a
    fingerprint with any document overlapping by >= k+w-1 tokens,
    while keeping only ~2/(w+1) of the gram hashes. The scale story
    versus all-shingle Jaccard: the self-join input shrinks by
    ~(w+1)/2 x BEFORE the shuffle, with a detection guarantee (unlike
    MinHash's probabilistic bands).

    Hashes are md5 hex strings (window min = lexicographic min), so a
    SQL engine computes bit-identical fingerprints — the DuckDB
    oracle for ``q_winnow_dups`` mirrors this exactly.

    All array work is shifted-slice ``zip_with`` composition: no
    ``transform(sequence(...), i -> slice(...))``, which re-evaluates
    the upstream array per element (known Catalyst inlining pitfall).

    Returns distinct ``(id, fp)`` rows.  ``_distinct=False``
    (internal) skips the dedup exchange for callers that fold it
    into their own fp-keyed aggregation
    (:func:`winnow_dup_pairs`'s ``collect_set``).
    """
    toks = F.split(F.lower(F.col(text_col)), ' ')
    n_grams = F.size(toks) - (k - 1)
    gram = F.slice(toks, 1, F.greatest(n_grams, F.lit(0)))
    for off in range(1, k):
        gram = F.zip_with(
            gram, F.slice(toks, off + 1, F.greatest(n_grams, F.lit(0))),
            lambda a, b: F.concat_ws(' ', a, b))
    hashes = F.transform(gram, lambda g: F.md5(g))

    # need >= w k-grams ⇔ >= k+w-1 tokens; filtering on the raw token
    # count keeps the md5 pipeline out of the filter predicate (the
    # Filter node also acts as the projection-collapse barrier that
    # stops the window-min slices below from inlining the hash
    # pipeline once per shift)
    with_h = (
        df.filter(F.size(F.split(F.lower(F.col(text_col)), ' '))
                  >= k + w - 1)
        .select(F.col(id_col).alias('id'), hashes.alias('h'))
    )
    n_wins = F.size(F.col('h')) - (w - 1)
    win_min = F.slice(F.col('h'), 1, n_wins)
    for off in range(1, w):
        win_min = F.zip_with(
            win_min, F.slice(F.col('h'), off + 1, n_wins),
            lambda a, b: F.least(a, b))
    out = with_h.select('id', F.explode(win_min).alias('fp'))
    return out.distinct() if _distinct else out


def winnow_dup_pairs(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    k: int = 4,
    w: int = 3,
    min_shared: int = 20,
    max_fp_df: Optional[int] = None,
) -> SparkDF:
    """Document pairs sharing >= ``min_shared`` winnowing
    fingerprints — an equi-join on the fingerprint (hash-partitioned,
    no cross product), then a pair-count HAVING. The repartition
    barrier lets the self-join reuse one exchange instead of
    recomputing the fingerprint pipeline per side.

    ``max_fp_df`` drops fingerprints appearing in more than that many
    documents before pair expansion — the hot-key cap for
    corpus-scale boilerplate (same role as ``max_shingle_df`` in
    :func:`ngram_jaccard_join`); detection stays exact for pairs
    whose overlap rests on rarer fingerprints.

    Shape (r15): ONE fp-keyed exchange builds the per-fingerprint
    posting set (``collect_set`` dedups the per-doc repeats in the
    same aggregation — the old per-(id, fp) ``distinct`` exchange is
    gone), and pairs expand from each posting row's id array with two
    generators instead of a self-join (the old
    ``repartition(fp)`` + join reused one exchange but still paid
    the join machinery; expansion fan-out is the same O(|postings|²)
    per fingerprint either way, and ``max_fp_df`` is the cap for
    boilerplate keys).  3 exchanges → 2."""
    fps = winnow_fingerprints(
        df, id_col=id_col, text_col=text_col, k=k, w=w,
        _distinct=False)
    posting = fps.groupBy('fp').agg(F.collect_set('id').alias('ids'))
    if max_fp_df is not None:
        posting = posting.filter(F.size('ids') <= max_fp_df)
    pairs = (
        posting
        .select(F.explode('ids').alias('id_a'), 'ids')
        .select('id_a', F.explode(
            F.filter('ids', lambda y: y > F.col('id_a'))).alias('id_b'))
    )
    return (
        pairs.groupBy('id_a', 'id_b')
        .agg(F.count(F.lit(1)).alias('n_shared'))
        .filter(F.col('n_shared') >= min_shared)
    )


def _collect_normalized(df: SparkDF, id_col: str, vec_col: str):
    """Collect ``(id, vec)`` rows to numpy and L2-normalize — the
    broadcast side of one GEMM pass. Caller bounds the row count."""
    rows = df.select(id_col, vec_col).collect()
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    mat = np.asarray([r[1] for r in rows], dtype=np.float64)
    if mat.ndim == 1:  # zero rows
        mat = mat.reshape(0, 0)
    norms = np.linalg.norm(mat, axis=1, keepdims=True) if len(ids) else mat
    if len(ids):
        norms[norms == 0] = 1.0
        mat = mat / norms
    return ids, mat


def _gemm_pairs(
    scan_df: SparkDF,
    b_ids,
    b_mat,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> SparkDF:
    """One GEMM pass: every ``scan_df`` row against the broadcast
    corpus block; emits each qualifying pair once (``id_a < id_b``
    with ``id_b`` on the broadcast side, so across disjoint blocks no
    pair repeats)."""
    def scan(batches):
        corpus_ids = b_ids.value
        corpus = b_mat.value
        for pdf in batches:
            if not len(corpus_ids):
                continue
            chunk_ids = pdf[id_col].to_numpy(dtype=np.int64)
            chunk = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            n = np.linalg.norm(chunk, axis=1, keepdims=True)
            n[n == 0] = 1.0
            sims = (chunk / n) @ corpus.T
            # keep id_a < id_b (each unordered pair reported once)
            rows_i, cols_j = np.where(sims >= threshold)
            mask = chunk_ids[rows_i] < corpus_ids[cols_j]
            yield pd.DataFrame({
                'id_a': chunk_ids[rows_i[mask]],
                'id_b': corpus_ids[cols_j[mask]],
                'cosine': sims[rows_i[mask], cols_j[mask]],
            })

    return scan_df.select(id_col, vec_col).mapInPandas(
        scan, 'id_a bigint, id_b bigint, cosine double'
    )


def _pair_cosine_udf():
    """Arrow-vectorized exact cosine for candidate-pair verification:
    row-wise normalized dot product, one BLAS pass per batch.  Zero-
    norm vectors normalize with norm→1 (cosine 0), matching
    :func:`_gemm_pairs` exactly so the LSH and GEMM paths agree."""
    @F.pandas_udf('double')
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series([], dtype='float64')
        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        na = np.linalg.norm(a, axis=1)
        nb = np.linalg.norm(b, axis=1)
        na[na == 0] = 1.0
        nb[nb == 0] = 1.0
        return pd.Series(
            np.einsum('ij,ij->i', a, b) / (na * nb))
    return _cos


def embedding_band_index(
    df: SparkDF,
    id_col: str = 'vec_id',
    vec_col: str = 'embedding',
    dim: Optional[int] = None,
    bands: int = 24,
    planes_per_band: int = 16,
    seed: int = 42,
) -> SparkDF:
    """Banded hyperplane-LSH index rows ``(id, band, bucket)`` — the
    stored half of INCREMENTAL embedding near-dup dedup, the exact
    analogue of :func:`minhash_band_index` for vectors.

    Write this frame as the index table when the corpus is first
    deduplicated; for each new batch, :func:`embedding_index_probe`
    bands ONLY the batch and equi-joins it against the stored rows —
    then append the batch's rows to complete the cycle.  Parameters
    (``bands``/``planes_per_band``/``seed``/``dim``) MUST match
    between build and probe: bucket keys are parameter-dependent and
    a mismatch yields silent near-empty joins — store them alongside
    the index table.

    One GEMM per Arrow batch (:func:`similarity.hyperplane_band_udf`);
    NULL/empty embeddings produce no rows.  ``dim`` is inferred from
    the first usable vector when not given.
    """
    spark = df.sparkSession
    src = df.select(id_col, vec_col)
    if dim is None:
        row = (
            src.filter(F.col(vec_col).isNotNull()
                       & (F.size(F.col(vec_col)) > 0))
            .select(F.size(F.col(vec_col)).alias('__d')).first())
        if row is None:  # no usable vectors → empty index
            from pyspark.sql import types as T
            return spark.createDataFrame([], T.StructType([
                src.schema[id_col],
                T.StructField('band', T.IntegerType()),
                T.StructField('bucket', T.LongType()),
            ]))
        dim = row['__d']
    from .similarity import hyperplane_band_udf
    sig = hyperplane_band_udf(dim, bands, planes_per_band, seed)
    # UDF behind its own aliased projection, generator in the next
    # select (Spark can't nest a generator inside an expression, and
    # pandas-UDF extraction is fragile around wrapped argument trees).
    keyed = src.select(F.col(id_col),
                       sig(F.col(vec_col)).alias('__keys'))
    return keyed.select(
        id_col, F.posexplode('__keys').alias('band', 'bucket'))


def embedding_index_probe(
    index: SparkDF,
    df_new: SparkDF,
    id_col: str = 'vec_id',
    vec_col: str = 'embedding',
    dim: Optional[int] = None,
    bands: int = 24,
    planes_per_band: int = 16,
    seed: int = 42,
    new_id: str = 'new_id',
    index_id: str = 'index_id',
    max_bucket_size: Optional[int] = 2000,
    prebanded: Optional[SparkDF] = None,
) -> SparkDF:
    """Candidate near-dup pairs between a NEW vector batch and a
    STORED :func:`embedding_band_index` — the incremental half of
    embedding dedup (same contract shape as
    :func:`minhash_index_probe`).

    ``prebanded``: optionally the caller's own
    ``embedding_band_index(df_new, ...)`` output (SAME id/band
    parameters), when it already banded the batch for another
    purpose (e.g. the incremental sink's store append + bucket-prune
    list) — skips the second GEMM over the batch.

    Only the new batch is banded (one GEMM over batch rows); the
    equi-join on (band, bucket) shuffles the batch's band rows and
    the semi-join-pruned sliver of the index it actually probes.
    Returns distinct ``(new_id, index_id)`` CANDIDATES — verify with
    :func:`score_pairs_cosine` against the corpus vectors, then
    append the batch's band rows to the index table.

    Hot-bucket guard: an index bucket larger than
    ``max_bucket_size`` (an embedding-clone mega-family present in
    both the stored corpus and the batch would otherwise join
    k_idx × k_new pairs from one unsplittable bucket key) is capped
    to its MIN-ID row via :func:`_cap_index_buckets` — greedy
    "drop the new row if it verifies against anything indexed"
    decisions are preserved for exact-clone families; the capped
    bucket's other members are the documented recall bound.

    Pair-completeness contract (test-pinned): with no bucket over
    the cap, probe(index(old), new) ∪ the within-batch LSH
    candidates equals every bucket-complete candidate pair of
    old ∪ new that touches a new vector — banding is deterministic
    per vector, so splitting the corpus into (indexed, new) loses
    nothing.
    """
    idx_cols = set(index.columns)
    if not {'band', 'bucket'} <= idx_cols:
        raise ValueError(
            f"index must be an embedding_band_index frame with"
            f" 'band' and 'bucket' columns, got {sorted(idx_cols)}")
    id_candidates = [c for c in index.columns
                     if c not in ('band', 'bucket')]
    if len(id_candidates) != 1:
        raise ValueError(
            f'index frame must have exactly one id column besides'
            f' (band, bucket); got {id_candidates} — select the id'
            f' column explicitly before probing')
    iid = id_candidates[0]
    new_banded = (
        prebanded if prebanded is not None else embedding_band_index(
            df_new, id_col, vec_col, dim, bands, planes_per_band,
            seed)
    ).withColumnRenamed(id_col, new_id)
    idx = index.withColumnRenamed(iid, index_id)
    idx = _cap_index_buckets(
        idx, ('band', 'bucket'), index_id, new_banded,
        max_bucket_size)
    return (
        new_banded
        .join(idx, on=['band', 'bucket'])
        .filter(F.col(new_id) != F.col(index_id))
        .select(new_id, index_id)
        .distinct()
    )


def score_pairs_cosine(
    pairs: SparkDF,
    vectors: SparkDF,
    id_col: str = 'vec_id',
    vec_col: str = 'embedding',
    id_a: str = 'id_a',
    id_b: str = 'id_b',
) -> SparkDF:
    """Exact cosine for each candidate pair: join the vector table
    onto both pair sides, then one Arrow-vectorized row-wise
    normalized dot per batch (BLAS, no per-element lambda).

    The verify stage shared by the LSH near-dup path and the
    incremental :func:`embedding_index_probe` cycle.  Zero-norm
    vectors score cosine 0 (norm→1), matching :func:`_gemm_pairs`;
    pairs whose id is absent from ``vectors`` drop out (inner
    joins).  Extra ``pairs`` columns pass through.
    """
    va = vectors.select(F.col(id_col).alias(id_a),
                        F.col(vec_col).alias('__va'))
    vb = vectors.select(F.col(id_col).alias(id_b),
                        F.col(vec_col).alias('__vb'))
    cos = _pair_cosine_udf()
    return (
        pairs.join(va, id_a).join(vb, id_b)
        .withColumn('cosine', cos(F.col('__va'), F.col('__vb')))
        .drop('__va', '__vb')
    )


def _lsh_near_duplicates(
    src: SparkDF,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: Optional[int],
    bands: int,
    planes_per_band: int,
    seed: int,
    max_bucket_size: Optional[int],
) -> SparkDF:
    """Sub-quadratic candidate path for
    :func:`embedding_near_duplicates`: banded hyperplane-LSH bucket
    keys (:func:`similarity.hyperplane_band_udf`, one GEMM per Arrow
    batch) → per-(band, bucket) self-join through
    :func:`_bucket_pair_join` (star-capped at ``max_bucket_size``,
    so an embedding-clone mega-family emits k−1 pairs, not k²/2) →
    exact-cosine verify of the deduplicated candidates.

    Shuffle volume is O(rows × bands) for candidates plus two
    candidate-sized joins for the verify — never O(n²).  Precision
    is exact (every emitted pair is cosine-verified); recall is the
    banding bound ``1 − (1 − p^r)^B`` with ``p = 1 − θ/π`` (≈0.99
    at cosine 0.95 with the 24×16 defaults, exactly 1 for identical
    vectors, which collide in every band).

    Sizing rule: on near-orthogonal corpora the false-candidate
    fraction is ≈ ``B · 2^−r`` of all n²/2 pairs (r = 16 → ~4·10⁻⁴
    with B = 24), so raise ``planes_per_band`` by ~log₂ of any
    corpus growth factor (and ``bands`` to hold recall) to keep the
    verify load linear — the standard LSH n^ρ trade.  Eager: the
    verified pairs are its :func:`lineage.scope`'s result.
    """
    with scope() as s:
        banded = embedding_band_index(
            src, id_col, vec_col, dim, bands, planes_per_band, seed,
        ).withColumnRenamed(id_col, '__id')
        # Eager lineage cut: the bucket census and both self-join
        # sides each reference this frame — left lazy the
        # signature-GEMM pipeline recomputes per branch (the r8
        # dedup-guard regression).
        banded = cut(banded)
        cand = _bucket_pair_join(
            banded, ('band', 'bucket'), max_bucket_size=max_bucket_size,
        ).dropDuplicates(['id_a', 'id_b'])
        return s.result(
            score_pairs_cosine(cand, src, id_col, vec_col)
            .filter(F.col('cosine') >= F.lit(float(threshold)))
            .select('id_a', 'id_b', 'cosine')
        )


def embedding_near_duplicates(
    df: SparkDF,
    id_col: str = 'vec_id',
    vec_col: str = 'embedding',
    threshold: float = 0.95,
    max_broadcast_rows: int = 500_000,
    block_rows: Optional[int] = None,
    method: str = 'auto',
    dim: Optional[int] = None,
    lsh_bands: int = 24,
    lsh_planes_per_band: int = 16,
    lsh_seed: int = 42,
    max_bucket_size: Optional[int] = 2000,
) -> SparkDF:
    """Near-dup pairs by embedding cosine similarity.

    ``method='auto'`` (default): up to ``max_broadcast_rows`` the
    EXACT broadcast-GEMM path runs; past it the SUB-QUADRATIC
    banded-hyperplane-LSH path takes over — candidate pairs from
    bucket equi-joins (shuffle O(rows × bands), never O(n²)),
    exact-cosine verified, so precision is exact and recall follows
    the banding bound (≈0.99 at cosine 0.95 with the defaults;
    exactly 1 for identical vectors — see
    :func:`similarity.hyperplane_band_udf`).  ``'exact'`` forces the
    GEMM path at any size (n² total compute, hash-disjoint broadcast
    blocks of ``block_rows`` ≤ ``max_broadcast_rows`` keep driver
    memory bounded); ``'lsh'`` forces the candidate path.

    Exact path design: the (normalized) corpus matrix is broadcast
    to every executor (numpy, ~0.5 MB per 2k×64-dim), and each
    partition streams its rows through one BLAS matrix multiply per
    Arrow batch — ~100× faster than per-pair expression evaluation,
    with no O(n²) join shuffle. When blocked, each unordered pair
    lands in exactly one block — the one holding its larger id — so
    the union needs no dedup; per-block results are eagerly
    lineage-cut and the broadcast released.

    LSH path: one GEMM pass computes ``lsh_bands`` bucket keys per
    vector; the banded frame self-joins per (band, key) through
    :func:`_bucket_pair_join` — with the same ``max_bucket_size``
    star-cap guarding against embedding-clone mega-families — and
    candidates verify with exact cosine. NULL/empty embeddings drop
    out at the banding stage (no bucket), matching the exact path
    (a zero row can never reach ``threshold``).
    """
    if method not in ('auto', 'exact', 'lsh'):
        raise ValueError(
            f"method must be 'auto', 'exact' or 'lsh', got {method!r}")
    spark = df.sparkSession
    src = df.select(id_col, vec_col)
    n = src.count()
    use_lsh = method == 'lsh' or (
        method == 'auto' and block_rows is None
        and n > max_broadcast_rows)
    if use_lsh:
        return _lsh_near_duplicates(
            src, id_col, vec_col, threshold, dim, lsh_bands,
            lsh_planes_per_band, lsh_seed, max_bucket_size)
    if block_rows is None:
        if n <= max_broadcast_rows:
            ids, mat = _collect_normalized(src, id_col, vec_col)
            b_ids = spark.sparkContext.broadcast(ids)
            b_mat = spark.sparkContext.broadcast(mat)
            return _gemm_pairs(src, b_ids, b_mat, threshold,
                               id_col, vec_col)
        block_rows = max_broadcast_rows
    num_blocks = max(1, -(-n // block_rows))
    block = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks))
    with scope() as s:
        src = keep(src.withColumn('__block', block))
        parts = []
        for b in range(num_blocks):
            ids, mat = _collect_normalized(
                src.filter(F.col('__block') == b), id_col, vec_col)
            b_ids = spark.sparkContext.broadcast(ids)
            b_mat = spark.sparkContext.broadcast(mat)
            pairs_b = cut(_gemm_pairs(  # materialize, then free
                src.drop('__block'), b_ids, b_mat, threshold,
                id_col, vec_col,
            ))
            b_ids.unpersist()
            b_mat.unpersist()
            parts.append(pairs_b)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return s.result(out)


def semantic_dedup_pairs(
    df: SparkDF,
    id_col: str = 'vec_id',
    vec_col: str = 'embedding',
    n_clusters: int = 16,
    threshold: float = 0.95,
    iters: int = 1,
    seed: int = 42,
    overlap: int = 1,
) -> SparkDF:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.
    2023): k-means-cluster the embeddings, then compare pairs ONLY
    within a cluster — the pruning that makes embedding dedup
    feasible at corpus scale (expected pair work Σ|cluster|² instead
    of n²; SemDeDup runs ~50k clusters on LAION-scale data).

    Shape: seeded k-means coarse quantizer
    (:func:`similarity.ivf_centroids` — deterministic, no RNG state),
    Arrow-batched GEMM cluster assignment, then one ``applyInPandas``
    over the cluster id scoring each cluster's pairs as chunked BLAS
    GEMMs (``id_a < id_b`` upper triangle only).  Near-duplicates
    that straddle a cluster boundary are missed by design (tune
    ``n_clusters``); :func:`embedding_near_duplicates` is the exact
    full-GEMM verifier.  Skew note: pair work is per-cluster — size
    ``n_clusters`` so the biggest cluster stays bounded (SemDeDup's
    own knob); chunking bounds score-matrix memory at
    4096 × |cluster|.

    ``overlap > 1`` assigns each vector to its ``overlap`` nearest
    centroids (row count × overlap; pair scan grows ~overlap²): a
    pair is found if the two share ANY probed cluster.  Measured by
    tools/semdedup_probe.py on the sf0.1 corpus (hard case: weak
    0.5-cosine pairs in a near-uniform cloud): recall 0.143 → 0.357
    at 16 clusters (scan fraction 0.06 → 0.25), 0.143 → 0.571 at 32
    clusters, 1.0 at 4 clusters.  Duplicate detections from shared
    clusters collapse via max(cosine).

    Returns ``(id_a, id_b, cosine)``.
    """
    from .similarity import ivf_assign, ivf_assign_multi, ivf_centroids

    if overlap < 1:
        raise ValueError(f'overlap must be >= 1, got {overlap}')
    cents = ivf_centroids(df, vec_col=vec_col, id_col=id_col,
                          n_clusters=n_clusters, iters=iters, seed=seed)
    if overlap > 1:
        tagged = ivf_assign_multi(
            df, cents, vec_col=vec_col, n=overlap).select(
            F.col(id_col), F.col(vec_col), '__ivf_c')
    else:
        tagged = ivf_assign(df, cents, vec_col=vec_col).select(
            F.col(id_col), F.col(vec_col), '__ivf_c')

    # Per-cluster pairwise scoring as ONE BLAS GEMM per group
    # (applyInPandas): an equi-join + per-pair interpreted cosine
    # expression costs |cluster|² × dim lambda evals (measured ~5s
    # for 3M pairs at 64 dims); the chunked normalized GEMM is
    # milliseconds for the same work and bounds memory at
    # chunk × cluster scores.
    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        mn = m / norms[:, None]
        out_a, out_b, out_c = [], [], []
        chunk = 4096
        for lo in range(0, len(ids), chunk):
            hi = min(lo + chunk, len(ids))
            s = mn[lo:hi] @ mn.T  # (hi-lo, n)
            rows, cols_ = np.nonzero(s >= threshold)
            keep = (rows + lo) < cols_  # strict upper triangle
            r, c = rows[keep], cols_[keep]
            a_ids, b_ids = ids[r + lo], ids[c]
            swap = a_ids > b_ids
            out_a.append(np.where(swap, b_ids, a_ids))
            out_b.append(np.where(swap, a_ids, b_ids))
            out_c.append(s[r, c])
        if not out_a:
            return pd.DataFrame(
                {'id_a': [], 'id_b': [], 'cosine': []}).astype(
                {'id_a': 'int64', 'id_b': 'int64', 'cosine': 'float64'})
        return pd.DataFrame({
            'id_a': np.concatenate(out_a),
            'id_b': np.concatenate(out_b),
            'cosine': np.concatenate(out_c),
        })

    pairs = tagged.groupBy('__ivf_c').applyInPandas(
        _pairs, 'id_a long, id_b long, cosine double')
    if overlap > 1:
        # the same pair surfaces once per shared probed cluster;
        # max() collapses them (BLAS blocking may differ across
        # cluster matrices, so the duplicate scores can differ in
        # the last ulp — max is deterministic either way)
        pairs = pairs.groupBy('id_a', 'id_b').agg(
            F.max('cosine').alias('cosine'))
    return pairs


def semantic_dedup(
    df: SparkDF,
    id_col: str = 'vec_id',
    vec_col: str = 'embedding',
    n_clusters: int = 16,
    threshold: float = 0.95,
    iters: int = 1,
    seed: int = 42,
    overlap: int = 1,
) -> SparkDF:
    """Keep one representative per semantic-duplicate neighborhood.

    Drops every row that appears as the HIGHER id of a
    :func:`semantic_dedup_pairs` pair — the lowest id in each
    duplicate neighborhood survives (deterministic, and transitive
    within a cluster: if a~b and b~c, b and c both pair with their
    cluster's minimum or with each other, so at most the minimum
    survives per connected group whose members share a cluster).
    One anti-join against the (small) dropped-id set.
    """
    pairs = semantic_dedup_pairs(
        df, id_col, vec_col, n_clusters, threshold, iters, seed,
        overlap=overlap)
    dropped = pairs.select(F.col('id_b').alias(id_col)).distinct()
    return df.join(dropped, on=id_col, how='left_anti')


def source_overlap(
    df: SparkDF,
    group_col: str = 'source',
    text_col: str = 'text',
    n: int = 3,
) -> SparkDF:
    """Pairwise shingle-set Jaccard between corpus groups — the
    shard/source-level duplication diagnostic (two crawls of the same
    site, a shard ingested twice, a mirrored dump) that doc-level
    dedup can't see cheaply.

    Shape (r15): ONE shingle-keyed exchange builds the per-shingle
    GROUP posting set (``collect_set`` dedups each group's repeats
    in the same aggregation — the old shape paid a distinct
    exchange on ``(group, shingle)`` and then a self-join on
    shingle), group pairs expand from each posting row's array with
    two generators, and per-group sizes re-read the posting frame.
    Per-shingle fan-out is bounded by the number of GROUPS (≤
    C(g,2) pairs even for a shingle present everywhere), not by
    document frequency — so unlike document-pair Jaccard no hot-key
    cap is needed as long as the grouping is a bounded shard key
    (source/snapshot/language), which is the intended use (and what
    bounds the posting arrays).

    Output: ``(g_a, g_b, n_a, n_b, n_common, jaccard)`` for every
    group pair sharing at least one shingle.
    """
    with scope() as s:
        posting = (
            df.select(
                F.col(group_col).alias('g'),
                F.explode(word_shingles(text_col, n)).alias('sh'))
            .groupBy('sh').agg(F.collect_set('g').alias('gs'))
            .transform(cut, eager=False)
        )
        sizes = (
            posting.select(F.explode('gs').alias('g'))
            .groupBy('g').agg(F.count(F.lit(1)).alias('n_sh'))
        )
        inter = (
            posting
            .select(F.explode('gs').alias('g_a'), 'gs')
            .select('g_a', F.explode(
                F.filter('gs', lambda y: y > F.col('g_a'))).alias('g_b'))
            .groupBy('g_a', 'g_b')
            .agg(F.count(F.lit(1)).alias('n_common'))
        )
        # group-count table is tiny (one row per shard) — broadcast both
        # lookups so the pair table never shuffles again.
        sz_a = F.broadcast(sizes.withColumnsRenamed(
            {'g': 'g_a', 'n_sh': 'n_a'}))
        sz_b = F.broadcast(sizes.withColumnsRenamed(
            {'g': 'g_b', 'n_sh': 'n_b'}))
        return s.result(
            inter.join(sz_a, 'g_a').join(sz_b, 'g_b')
            .withColumn(
                'jaccard',
                F.col('n_common')
                / (F.col('n_a') + F.col('n_b') - F.col('n_common')))
            .select('g_a', 'g_b', 'n_a', 'n_b', 'n_common', 'jaccard')
        )


def exact_substring_pairs(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    min_len: int = 40,
    min_run: Optional[int] = None,
    max_window_df: Optional[int] = None,
) -> SparkDF:
    """EXACT substring dedup (the ExactSubstr family of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    document pairs sharing a VERBATIM run of >= ``min_len`` normalized
    characters, with the exact length of their longest shared run —
    closing the one dedup family winnowing only samples.

    Lee et al. build a single-machine suffix array; suffix arrays
    don't distribute. The Spark-first equivalent: explode every
    length-``min_len`` character window (stride 1) keyed by its md5,
    equi-join across documents, then reduce aligned matches to
    DIAGONAL RUNS — matches of a pair at window positions (pa, pb)
    with equal ``pa - pb`` and consecutive ``pa`` are one shared run,
    and gaps-and-islands (row_number difference) recovers each run's
    window count m, hence its exact character length m + min_len - 1.
    Every step is a hash shuffle or a keyed window — no suffix
    structure, no driver state, no cross product.

    Scale: the honest cost is the window explode — ~33 bytes
    (md5 hex + position) shuffled PER CHARACTER of corpus, the price
    of exactness without a global suffix array. At 100 TB run it on
    a high-suspicion slice (e.g. winnowing or MinHash candidates) or
    set ``max_window_df`` to drop boilerplate windows occurring in
    more than that many documents (license headers, navigation
    chrome) — the join then stays bounded on hot keys and detection
    remains exact for pairs whose overlap includes rarer windows.
    ``min_run`` (>= ``min_len``, default equal) filters the output to
    pairs whose longest run reaches that many characters.

    Returns ``(id_a, id_b, longest_run, n_windows)``; ``n_windows``
    is the total count of matching aligned windows over all runs.
    """
    if min_run is None:
        min_run = min_len
    if min_run < min_len:
        raise ValueError(
            f'min_run ({min_run}) must be >= min_len ({min_len}):'
            ' runs shorter than the window length are undetectable')
    # Stage the normalized text once; `norm` is referenced several
    # times below, which keeps CollapseProject from inlining the
    # normalization regex into the per-window lambda (pitfall #1).
    staged = (
        df.select(
            F.col(id_col).alias('id'),
            normalize_text(text_col).alias('norm'))
        .filter(F.length('norm') >= min_len)
    )
    wins = staged.select(
        'id',
        F.explode(
            F.transform(
                F.sequence(F.lit(1),
                           F.length('norm') - (min_len - 1)),
                # unhex folds the 32-hex-char md5 to its 16 raw
                # bytes: equality is bijection-preserved, and the
                # window key — shuffled once per corpus CHARACTER —
                # moves half the bytes (guide §2.3 narrower keys)
                lambda i: F.struct(
                    i.alias('pos'),
                    F.unhex(F.md5(F.substring('norm', i, min_len)
                                  .cast('string'))).alias('w')),
            )
        ).alias('pw'),
    ).select('id', F.col('pw.pos').alias('pos'), F.col('pw.w').alias('w'))
    wins = wins.repartition(F.col('w'))
    if max_window_df is not None:
        hot = (
            wins.select('id', 'w').distinct()
            .groupBy('w').count()
            .filter(F.col('count') > max_window_df)
            .select('w')
        )
        wins = wins.join(hot, on='w', how='left_anti')
    a, b = wins.alias('a'), wins.alias('b')
    matches = a.join(b, on=[
        F.col('a.w') == F.col('b.w'),
        F.col('a.id') < F.col('b.id'),
    ]).select(
        F.col('a.id').alias('id_a'),
        F.col('b.id').alias('id_b'),
        F.col('a.pos').alias('pa'),
        (F.col('a.pos') - F.col('b.pos')).alias('diag'),
    )
    run_w = Window.partitionBy('id_a', 'id_b', 'diag').orderBy('pa')
    runs = (
        matches
        .withColumn('island', F.col('pa') - F.row_number().over(run_w))
        .groupBy('id_a', 'id_b', 'diag', 'island')
        .agg(F.count(F.lit(1)).alias('m'))
    )
    return (
        runs.groupBy('id_a', 'id_b')
        .agg(
            (F.max('m') + F.lit(min_len - 1)).alias('longest_run'),
            F.sum('m').alias('n_windows'),
        )
        .filter(F.col('longest_run') >= min_run)
    )


def keep_best_duplicate(
    df: SparkDF,
    pairs: SparkDF,
    id_col: str = 'doc_id',
    score_col: str = 'score',
    id_a: str = 'id_a',
    id_b: str = 'id_b',
    max_iterations: int = 20,
) -> SparkDF:
    """Resolve near-duplicate PAIRS to clusters and keep each
    cluster's BEST-scoring row (ties → lowest id) — the
    quality-preferring alternative to greedy keep-lowest-id: when a
    boilerplate family contains one clean copy and many mangled
    ones, this keeps the clean copy regardless of id order.

    ``pairs`` is any near-dup pair frame (winnowing, MinHash,
    SimHash, embedding cosine …) over numeric ids; rows of ``df``
    that appear in no pair pass through untouched.  NULL scores rank
    below every real score.

    Plan: pointer-doubling connected components over the pair graph
    (:func:`clustering.connected_components`, O(log diameter)
    rounds), then ONE ``max_by`` aggregation per component — partial
    aggregation makes a mega-cluster skew-safe (no per-component
    window sort), and the final keep is two id joins against
    corpus-row-sized frames.
    """
    from .clustering import connected_components

    comp = connected_components(
        pairs, id_a, id_b, max_iterations,
    ).withColumnRenamed('node', '__node')
    in_pairs = comp.select(F.col('__node').alias(id_col))
    # (score, -id) struct comparison: max score wins, ties take the
    # lowest id; NULL *and NaN* scores coalesce below any real value
    # (Spark orders NaN above +Infinity, so a raw max_by would keep
    # a NaN-scored row over genuinely scored ones)
    score = F.col(score_col).cast('double')
    rank_key = F.struct(
        F.coalesce(F.when(~F.isnan(score), score),
                   F.lit(float('-inf'))).alias('s'),
        (-F.col(id_col).cast('long')).alias('neg_id'),
    )
    winners = (
        df.join(comp, df[id_col] == comp['__node'])
        .groupBy('comp')
        .agg(F.max_by(id_col, rank_key).alias(id_col))
        .select(id_col)
    )
    loners = df.join(in_pairs, on=id_col, how='left_anti')
    return loners.unionByName(
        df.join(winners, on=id_col, how='left_semi'))


def line_dedup(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    delimiter: str = '\n',
    min_line_chars: int = 0,
) -> SparkDF:
    """C4-style corpus-level LINE dedup (Raffel et al.: drop every
    repeated occurrence of a line across the whole corpus, keeping
    only the first): boilerplate killer for navigation chrome, cookie
    banners, license blocks that repeat across millions of pages.

    "First occurrence" is the lowest ``(id, position)`` — a total
    order, so the result is deterministic and stable under
    repartitioning. Lines shorter than ``min_line_chars`` bypass
    dedup entirely (always kept): the C4 practicality rule that stops
    corpus-wide dedup from deleting every "yes." line.

    Plan: posexplode → ONE shuffle on the line hash (md5 — 16 bytes
    moves per line, not the line text ... the rank window shuffles
    (hash, id, pos)); kept lines reassemble per document with
    collect_list + array_sort (position-prefixed struct sort, pure
    JVM). Documents whose every line was dropped come back with empty
    text (row count is preserved — downstream joins keep working).

    Returns the input columns with ``text_col`` rewritten.
    """
    other_cols = [c for c in df.columns if c != text_col]
    # F.split takes a Java regex — \Q...\E quotes the delimiter so
    # '|', '.', etc. split literally (array_join below is literal).
    lines = df.select(
        *other_cols,
        F.posexplode(
            F.split(F.col(text_col), '\\Q' + delimiter + '\\E'))
        .alias('__pos', '__line'),
    )
    short = F.length('__line') < min_line_chars
    # exempt lines never enter the dedup shuffle at all — at corpus
    # scale the short tail is huge and shuffling it buys nothing.
    exempt = lines.filter(short) if min_line_chars > 0 else None
    long_lines = lines.filter(~short) if min_line_chars > 0 else lines
    w = Window.partitionBy(F.md5(F.col('__line'))).orderBy(
        F.col(id_col).asc(), F.col('__pos').asc())
    kept = (
        long_lines.withColumn('__rk', F.row_number().over(w))
        .filter(F.col('__rk') == 1)
        .drop('__rk')
    )
    if exempt is not None:
        kept = kept.unionByName(exempt)
    return _reassemble_lines(df, kept, text_col, delimiter)


def _reassemble_lines(df: SparkDF, kept: SparkDF, text_col: str,
                      delimiter: str) -> SparkDF:
    """Rebuild ``df``'s ``text_col`` from the ``(__pos, __line)``
    rows in ``kept`` (which carries every other column of ``df``):
    position-sorted ``collect_list`` + ``array_join``.  A row whose
    every line was dropped comes back with empty text.  The join back
    onto ``df`` is null-safe on every non-text column: a plain
    equi-join never matches a NULL, so a NULL anywhere in the row
    would blank its text."""
    other_cols = [c for c in df.columns if c != text_col]
    keys = [f'__k{i}' for i in range(len(other_cols))]
    rebuilt = (
        kept.groupBy(*other_cols)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col('__pos').alias('p'),
                                 F.col('__line').alias('l')))),
                    lambda s: s['l'],
                ),
                delimiter,
            ).alias(text_col)
        )
        .select(*[F.col(c).alias(k) for c, k in zip(other_cols, keys)],
                text_col)
    )
    base = df.select(*other_cols)
    return (
        base.join(rebuilt,
                  [base[c].eqNullSafe(rebuilt[k])
                   for c, k in zip(other_cols, keys)], 'left')
        .drop(*keys)
        .fillna({text_col: ''})
        .select(*df.columns)
    )


def duplicate_sentence_spans(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    span: int = 3,
    min_span_chars: int = 0,
    dups_only: bool = True,
) -> SparkDF:
    """C4's OTHER exact-dedup unit (Raffel et al. 2020 §2.2): find
    every ``span``-sentence window that occurs more than once across
    the corpus — the boilerplate paragraphs, license blocks, and
    syndicated ledes that line-level dedup misses because their line
    breaks differ between sites.

    Sentences are the non-empty trimmed pieces between terminal
    punctuation marks (``. ! ?``); each document contributes its
    ``n - span + 1`` sliding windows.  "First occurrence" is the
    lowest ``(id, span_idx)`` — a total order, so the keep flag is
    deterministic under repartitioning.

    Returns one row per duplicated span occurrence (every occurrence
    when ``dups_only=False``): ``(id_col, span_idx, span_key, n_occ,
    keep)`` with ``span_idx`` 1-based.  Compose with an anti-join on
    ``(id, span_idx)`` — or ``keep == False`` — to drop repeats the
    way C4 does.

    Plan & scale: the window projection is pure codegen (split →
    trim/filter → sliding ``transform`` over a sequence); ONE shuffle
    on the 16-byte md5 span key carries ``(key, id, idx)`` — never
    the span text — and both the count and the rank come from the
    same partitioning.  A boilerplate span repeated across millions
    of pages lands in one partition but costs O(occurrences), not
    O(occurrences²): this reports group membership, not pairs.
    Spans shorter than ``min_span_chars`` are exempt (never
    shuffled), the same practicality valve as ``line_dedup``.
    Engine-portable: md5 + list lambdas replay everywhere
    (``q_span_dedup``).
    """
    if span < 1:
        raise ValueError(f'span must be >= 1, got {span!r}')
    sents = F.filter(
        F.transform(F.split(F.col(text_col), '[.!?]'),
                    lambda s: F.trim(s)),
        lambda s: s != '')
    staged = df.select(F.col(id_col), sents.alias('__sents'))
    n = F.size(F.col('__sents'))
    windows = F.when(
        n >= span,
        F.transform(
            F.sequence(F.lit(1), n - span + 1),
            lambda i: F.array_join(
                F.slice(F.col('__sents'), i, span), ' '))
    ).otherwise(F.array().cast('array<string>'))
    spans = staged.select(
        id_col,
        F.posexplode(windows).alias('__pos', '__span'),
    ).select(
        id_col,
        (F.col('__pos') + 1).cast('int').alias('span_idx'),
        F.col('__span'),
    )
    if min_span_chars > 0:
        spans = spans.filter(F.length('__span') >= min_span_chars)
    key = F.md5(F.col('__span'))
    w = Window.partitionBy(key)
    w_rank = w.orderBy(F.col(id_col).asc(), F.col('span_idx').asc())
    out = spans.select(
        id_col, 'span_idx',
        key.alias('span_key'),
        F.count(F.lit(1)).over(w).alias('n_occ'),
        (F.row_number().over(w_rank) == 1).alias('keep'),
    )
    if dups_only:
        out = out.filter(F.col('n_occ') > 1)
    return out


def ngram_contamination(
    corpus: SparkDF,
    benchmark: SparkDF,
    corpus_id: str = 'doc_id',
    bench_id: str = 'bench_id',
    corpus_text: str = 'text',
    bench_text: str = 'text',
    n: int = 13,
) -> SparkDF:
    """EXACT benchmark decontamination with evidence (the GPT-3 /
    Brown et al. 2020 appendix-C recipe): report every
    ``(corpus doc, benchmark item)`` pair sharing at least one exact
    word ``n``-gram, with the hit count and the earliest corpus
    position — the audit table a release needs before claiming a
    training corpus is clean of an eval set.  The approximate
    membership twin is ``bloom.bloom_decontaminate`` (zero-shuffle,
    no evidence); this one names the overlapping items.

    Returns ``(corpus_id, bench_id, n_hits, first_pos,
    n_doc_ngrams)``: ``n_hits`` = how many of the document's
    positional n-grams appear in that benchmark item's distinct
    n-gram set, ``first_pos`` = 1-based position of the earliest
    hit, ``n_doc_ngrams`` = the document's total n-gram count
    (``n_hits / n_doc_ngrams`` is the contaminated fraction —
    integers are emitted so the division stays caller-side and
    engine-exact).

    Plan & scale: benchmark n-grams (eval sets are MB-scale — tiny
    next to a crawl) explode + distinct once and BROADCAST; the
    corpus side is one scan building positional n-grams with the
    O(tokens) ``zip_with`` shingle chain (never the quadratic
    slice-per-index shape), then a broadcast hash join and one
    map-side-combinable ``(doc, bench)`` aggregate.  Nothing
    shuffles the corpus text.  Documents shorter than ``n`` tokens
    contribute no n-grams (exempt by construction); benchmark items
    shorter than ``n`` tokens fall back to their whole text as one
    gram (the ``word_shingles`` rule).  Engine-portable
    (``q_exact_decontaminate``).
    """
    if n < 1:
        raise ValueError(f'n must be >= 1, got {n!r}')
    toks = tokenize(normalize_text(corpus_text))
    k = F.size(toks) - (n - 1)
    shingled = F.slice(toks, 1, F.greatest(k, F.lit(0)))
    for offset in range(1, n):
        shifted = F.slice(toks, offset + 1, F.greatest(k, F.lit(0)))
        shingled = F.zip_with(
            shingled, shifted, lambda a, b: F.concat_ws(' ', a, b))
    grams = (
        corpus.select(
            F.col(corpus_id),
            F.posexplode(shingled).alias('__pos0', '__gram'),
            F.greatest(k, F.lit(0)).alias('n_doc_ngrams'))
        .select(corpus_id, 'n_doc_ngrams',
                (F.col('__pos0') + 1).alias('__pos'), '__gram')
    )
    bench_grams = (
        benchmark.select(
            F.col(bench_id),
            F.explode(word_shingles(bench_text, n)).alias('__gram'))
        .distinct()
    )
    return (
        grams.join(F.broadcast(bench_grams), '__gram')
        .groupBy(corpus_id, bench_id)
        .agg(F.count(F.lit(1)).alias('n_hits'),
             F.min('__pos').cast('int').alias('first_pos'),
             F.first('n_doc_ngrams').alias('n_doc_ngrams'))
    )


def duplicate_ngram_fraction(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 5,
    max_fraction: float = 0.5,
) -> SparkDF:
    """Onion-style per-document duplicate n-gram fraction (Pomikálek
    2011, "Removing Boilerplate and Duplicate Content from Web
    Corpora"): the share of a document's positional word n-gram
    occurrences whose n-gram also occurs in at least one OTHER
    document.  Onion's resolution — keep a document while its
    duplicate fraction is small, drop it once most of its content is
    cross-document repeated — sits between exact dedup (whole-text
    hash) and MinHash (sampled similarity): it is EXACT on content
    overlap but never forms pairs, so there is no candidate blowup to
    cap.  (No reference counterpart — LLM-pipeline extension.)

    Returns ``(id_col, n_ngrams, n_dup, dup_fraction_u6, keep)``:
    ``n_ngrams`` counts the document's positional n-grams, ``n_dup``
    of which are cross-document duplicates; ``dup_fraction_u6`` is
    the integer-quantized ratio (×1e6) and ``keep`` is Onion's
    verdict at ``max_fraction``.  Documents with fewer than ``n``
    tokens have no n-grams and return ``n_ngrams = 0``, ``keep =
    true`` (nothing repeated).

    Plan & scale: grams build with the O(tokens) ``zip_with`` shingle
    chain and travel as md5 keys (fixed 32-byte shuffle keys, never
    the raw gram text).  The census is ONE gram-keyed aggregate
    counting DISTINCT documents per gram — ``count(distinct)`` over
    the (gram, doc) pre-aggregate, so hot boilerplate grams collapse
    map-side before the wire.  Membership resolves by joining each
    document's DISTINCT grams (bounded by doc length) against the
    census and re-weighting by the per-doc occurrence count — the
    join never carries per-occurrence rows for hot grams.  No pair
    join anywhere; state is O(distinct grams).
    """
    if n < 1:
        raise ValueError(f'n must be >= 1, got {n!r}')
    toks = tokenize(normalize_text(text_col))
    k = F.size(toks) - (n - 1)
    shingled = F.slice(toks, 1, F.greatest(k, F.lit(0)))
    for offset in range(1, n):
        shifted = F.slice(toks, offset + 1, F.greatest(k, F.lit(0)))
        shingled = F.zip_with(
            shingled, shifted, lambda a, b: F.concat_ws(' ', a, b))
    # explode_outer keeps gram-less documents (fewer than ``n``
    # tokens) as ONE NULL-gram row through the whole aggregation
    # chain, so the old shape's second corpus scan + distinct + id
    # re-join is gone (one less full pass at corpus scale — the same
    # move as ``ngram_lm_score``).
    grams = (
        df.select(F.col(id_col).alias('__id'),
                  F.explode_outer(shingled).alias('__gram'))
        .select('__id', F.md5('__gram').alias('__g'))
    )
    # per-(doc, gram) occurrence counts: the only corpus-sized shuffle
    per_doc = grams.groupBy('__id', '__g').agg(
        F.count(F.lit(1)).alias('__occ'))
    census = per_doc.filter(F.col('__g').isNotNull()).groupBy(
        '__g').agg(F.count(F.lit(1)).alias('__df'))
    # left join: the NULL-gram rows match no census row and must
    # survive to keep their document's output row
    marked = (
        per_doc.join(census, '__g', 'left')
        .groupBy('__id')
        .agg(F.sum(F.when(F.col('__g').isNotNull(), F.col('__occ'))
                   .otherwise(F.lit(0))).alias('n_ngrams'),
             F.sum(F.when(F.col('__df') >= 2, F.col('__occ'))
                   .otherwise(F.lit(0))).alias('n_dup'))
    )
    out = (
        marked
        .select(
            F.col('__id').alias(id_col),
            F.col('n_ngrams'),
            F.col('n_dup'))
        .withColumn(
            'dup_fraction_u6',
            F.when(F.col('n_ngrams') > 0,
                   F.round(F.col('n_dup').cast('double') * 1000000
                           / F.col('n_ngrams')).cast('bigint'))
            .otherwise(F.lit(0).cast('bigint')))
        .withColumn(
            'keep',
            F.col('dup_fraction_u6')
            <= F.lit(int(round(max_fraction * 1000000))))
    )
    return out


def edit_similarity_pairs(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    max_distance: int = 2,
    max_len: int = 64,
    normalize: bool = True,
) -> SparkDF:
    """Short-text near-duplicate pairs under EXACT Levenshtein
    distance, found via pigeonhole segment blocking: each (normalized,
    ``max_len``-truncated) string is cut into ``max_distance + 1``
    fixed-width segments, candidate pairs must agree EXACTLY on at
    least one ``(segment index, segment text)`` key, and every
    candidate is then verified with the native ``levenshtein``
    (JVM-side, early-exit ``threshold`` form).  The classic titles /
    URLs / product-names dedup: whole-text hashing misses one-typo
    variants, MinHash is overkill at these lengths.

    Blocking guarantee: two strings within ``max_distance``
    SUBSTITUTIONS share an untouched segment (pigeonhole over d+1
    segments), so substitution-only near-dups are found exactly;
    insertions/deletions shift segment frames and can escape the
    blocks (the trade every fixed-frame scheme makes — PassJoin's
    position-aware multi-match is the complete-recall alternative,
    at several× the candidate volume).  Precision is exact: the
    verify step keeps only true ``distance <= max_distance`` pairs.

    Returns ``(id_a, id_b, distance)`` with ``id_a < id_b``, one row
    per pair.  Scale shape: the self-join is keyed by (segment index,
    segment value) — bounded-width keys, d+1 rows per document;
    template-heavy corpora make hot blocks, which the exact verify
    tolerates but the join must survive, so block keys include the
    segment INDEX (splits each hot template across d+1 buckets) and
    candidates dedupe BEFORE the O(L·d) verify.  ``max_len``
    truncation bounds per-pair verify cost.
    """
    if max_distance < 0:
        raise ValueError(
            f'max_distance must be >= 0, got {max_distance!r}')
    src = normalize_text(text_col) if normalize else F.col(text_col)
    key = F.substring(src, 1, max_len)
    n_seg = max_distance + 1
    width = -(-max_len // n_seg)  # ceil
    segs = F.array(*[
        F.struct(F.lit(i).alias('si'),
                 F.substring(key, i * width + 1, width).alias('sv'))
        for i in range(n_seg)])
    blocks = (
        df.select(F.col(id_col).alias('__id'), key.alias('__k'),
                  F.explode(segs).alias('__s'))
        .select('__id', '__k', F.col('__s.si').alias('__si'),
                F.col('__s.sv').alias('__sv'))
        .filter(F.col('__sv') != '')
    )
    a = blocks.select(F.col('__id').alias('id_a'),
                      F.col('__k').alias('__ka'),
                      '__si', '__sv')
    b = blocks.select(F.col('__id').alias('id_b'),
                      F.col('__k').alias('__kb'),
                      '__si', '__sv')
    cand = (
        a.join(b, on=['__si', '__sv'])
        .filter(F.col('id_a') < F.col('id_b'))
        .select('id_a', 'id_b', '__ka', '__kb')
        .distinct()
    )
    dist = F.levenshtein('__ka', '__kb', max_distance)
    return (
        cand
        .filter(F.abs(F.length('__ka') - F.length('__kb'))
                <= max_distance)
        .select('id_a', 'id_b', dist.cast('int').alias('distance'))
        .filter((F.col('distance') >= 0)
                & (F.col('distance') <= max_distance))
    )
