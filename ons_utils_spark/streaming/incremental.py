"""Incremental (streaming) near-duplicate filtering.

Extension territory (SURVEY.md §2.2 lists streaming as absent from
the reference): a corpus that ARRIVES over time needs dedup against
everything already accepted, not just within one batch. This module
keeps a per-operator fingerprint store on disk — winnowing k-gram
fingerprints for text, hyperplane-LSH band keys for embeddings — and
filters each micro-batch against it via ``foreachBatch`` — the
standard Spark pattern for streaming state too large for operator
state (the store is corpus-sized; ``applyInPandasWithState`` state
must fit per-key in memory).

Scale notes:
- The store holds ``(fp, doc_id, _batch_id)`` rows — ~2/(w+1) of the
  corpus k-gram count (SCALE.md, winnowing).
- Store appends are hive-partitioned by ``_batch_id`` AND a
  ``_bucket`` hash of the probe key (``fp`` / exact key / embedding
  ``(band, bucket)`` — ``_STORE_BUCKETS`` buckets), so:
  (a) the per-microbatch commit-state probe (``_batch_state``) and
  the own-batch exclusion filter prune ``_batch_id`` DIRECTORIES
  instead of re-reading every store file's footer — on a long-lived
  stream the probe cost stays O(one batch), not O(batches); and
  (b) the per-batch overlap/probe join reads only the ``_bucket``
  directories whose hash appears in the batch
  (:func:`_prune_store_buckets` — a static ``isin`` partition
  filter, never the full store).  Stores written by earlier
  versions (flat, or ``_batch_id``-only) are detected and kept in
  their own layout (no mixed layouts); they simply keep paying the
  unpruned overlap scan.
- Per batch: one self-dedup over the (small) batch, one equi-join of
  batch fingerprints against the store, zero driver-side loops.
- Idempotence (effective exactly-once): each batch commits in FOUR
  separate atomic appends — a ``begin`` sentinel row FIRST, then
  fingerprint/band rows (tagged ``_batch_id``), accepted docs, and
  ONE ``commit`` marker row LAST.  Sentinels carry
  ``_marker IN ('begin', 'commit')``; data rows have a NULL
  ``_marker``.  A batch whose commit marker exists is fully
  committed and skipped on replay.  A batch with a begin sentinel
  (or data rows) but NO commit marker crashed mid-commit: the
  replay recomputes the identical survivor set (the pipeline is
  deterministic), skips the store-data append iff data rows already
  landed (re-appending a zero-row frame is harmless either way),
  reconciles the docs append against the ids already in ``out_dir``
  (an out_dir scan on this rare path only), and writes the commit
  marker — no duplicate accepted rows, no lost survivors.  The
  begin-first ordering is what covers ZERO-fingerprint batches: a
  crash between the docs append and the commit marker would
  otherwise leave no store evidence at all, and the replay would
  append the docs a second time.  The store read for overlap
  detection always excludes the current batch's own rows, so a
  crashed attempt's rows can never make a batch drop against
  itself.  The protocol lives in :func:`_exactly_once_sink`; each
  operator supplies only its filter step.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import lineage
from ..operators.dedup import (
    _reassemble_lines,
    embedding_band_index,
    embedding_index_probe,
    embedding_near_duplicates,
    score_pairs_cosine,
    winnow_dup_pairs,
    winnow_fingerprints,
)
from .sinks import foreach_batch_sink


def _store_exists(store_dir: str) -> bool:
    return os.path.isdir(store_dir) and any(
        name.endswith('.parquet') or name.startswith('_batch_id=')
        for name in os.listdir(store_dir))


def _store_is_flat(store_dir: str) -> bool:
    """True for a store whose data files sit at the directory root
    (written before the ``partitionBy('_batch_id')`` layout).  New
    stores are hive-partitioned by ``_batch_id`` so ``_batch_state``'s
    per-batch filter and the own-batch exclusion prune DIRECTORIES;
    a flat store keeps appending flat (mixing layouts in one
    directory would corrupt partition discovery), it just keeps
    paying the footer-stats scan."""
    return os.path.isdir(store_dir) and any(
        name.endswith('.parquet') for name in os.listdir(store_dir))


# Number of hash buckets in the second partition level of NEW stores
# (``_batch_id=N/_bucket=K/``).  The per-batch overlap/probe join
# reads only the <= _STORE_BUCKETS directories whose bucket appears
# in the batch — on a long-lived 100 TB stream the scan is
# O(store/_STORE_BUCKETS x batch-bucket-coverage), not O(store).
# Small batches touch few buckets; the cap also bounds the
# directory fan-out (batches x buckets) and the driver-side bucket
# list (never more than _STORE_BUCKETS values).
_STORE_BUCKETS = 16


def _bucket_of(*cols) -> 'F.Column':
    """Deterministic store bucket of the probe key columns.
    ``xxhash64`` skips NULL fields, so an all-NULL marker row lands
    in one constant bucket — harmless: probes filter NULL keys."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in cols]),
        F.lit(_STORE_BUCKETS)).cast('int')


def _store_layout(store_dir: str, store_columns) -> str:
    """Layout tier of an EXISTING store: ``'flat'`` (pre-partition),
    ``'batch'`` (``_batch_id`` only — the r12 layout), or
    ``'bucketed'`` (``_batch_id``/``_bucket``).  Appends must match
    the layout already on disk — mixing partition schemes in one
    directory corrupts partition discovery."""
    if _store_is_flat(store_dir):
        return 'flat'
    if '_bucket' not in store_columns:
        return 'batch'
    return 'bucketed'


def _append_store(df: SparkDF, store_dir: str, layout: str,
                  bucket_cols) -> None:
    if layout == 'bucketed':
        (df.withColumn('_bucket', _bucket_of(*bucket_cols))
         .write.mode('append')
         .partitionBy('_batch_id', '_bucket').parquet(store_dir))
    elif layout == 'batch':
        df.write.mode('append').partitionBy('_batch_id').parquet(
            store_dir)
    else:
        df.write.mode('append').parquet(store_dir)


def _prune_store_buckets(store: SparkDF, batch_keys: SparkDF,
                         bucket_cols) -> SparkDF:
    """Restrict a bucketed store read to the ``_bucket`` partition
    directories the batch can possibly match (equal keys hash to
    equal buckets, so dropping every other directory loses no
    matches).  The bucket list is a driver-side collect BOUNDED by
    ``_STORE_BUCKETS`` values (a map-side-partial distinct over the
    small batch), and the resulting ``isin`` literal is a STATIC
    partition filter — directory pruning the plan shows in
    ``PartitionFilters``, with no dependence on dynamic-partition-
    pruning heuristics (which don't fire for anti-joins).  Pre-bucket
    stores pass through unpruned."""
    if '_bucket' not in store.columns:
        return store
    buckets = sorted({
        r['__b'] for r in batch_keys.select(
            _bucket_of(*bucket_cols).alias('__b'))
        .distinct().collect()})
    if not buckets:  # zero batch keys -> nothing can match
        return store.filter(F.lit(False))
    return store.filter(F.col('_bucket').isin(buckets))


def _batch_state(store, batch_id: int):
    """(committed, partial, data_done) for ``batch_id``.

    ``committed`` = the batch's ``commit`` marker exists (written
    last — the whole batch landed).  ``partial`` = uncommitted but a
    ``begin`` sentinel or data rows exist (crash mid-commit): the
    replay must reconcile the docs append against ``out_dir``.
    ``data_done`` = data rows landed (appends are atomic, so this
    means ALL of them did) — the replay skips the store-data append;
    when false it re-appends, which for the only undetectable case
    (a zero-fingerprint batch) appends zero rows and is harmless.
    One filtered scan, evaluated once.

    Fails fast on a store written by the pre-``_marker``
    (three-append) protocol: its null-key commit rows are
    indistinguishable from data once old and new files mix (parquet
    schema union reads the old markers' ``_marker`` as NULL = data),
    so resuming it would misclassify committed batches as partial.
    """
    if '_marker' not in store.columns:
        raise ValueError(
            'incremental store was written by the pre-_marker '
            '(three-append) commit protocol and cannot be resumed '
            'by this version: its null-key marker rows would read '
            'as data rows once formats mix.  Start a fresh '
            'store_dir (re-banding the accepted out_dir docs '
            'rebuilds it), or migrate offline by adding a string '
            "_marker column = 'commit' on the null-key rows and "
            'NULL elsewhere.')
    rows = store.filter(F.col('_batch_id') == batch_id)
    agg = rows.agg(
        F.sum(F.when(F.col('_marker') == 'commit', 1).otherwise(0))
        .alias('commits'),
        F.sum(F.when(F.col('_marker') == 'begin', 1).otherwise(0))
        .alias('begins'),
        F.sum(F.when(F.col('_marker').isNull(), 1).otherwise(0))
        .alias('data'),
    ).collect()[0]
    committed = (agg['commits'] or 0) > 0
    data_done = (agg['data'] or 0) > 0
    partial = not committed and (data_done or (agg['begins'] or 0) > 0)
    return committed, partial, data_done


def _marker_row(spark, schema_fields, batch_id: int, kind: str):
    """One all-NULL-key sentinel row: ``kind`` is 'begin' (written
    FIRST, before any other append) or 'commit' (written LAST).
    NULL keys keep sentinels invisible to every overlap equi-join.
    The row is built on the JVM; no Python row crosses py4j.
    """
    return spark.range(1, numPartitions=1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in schema_fields
          if f.name not in ('_batch_id', '_marker')],
        F.lit(batch_id).alias('_batch_id'),
        F.lit(kind).alias('_marker'))


def _exactly_once_sink(stream: SparkDF, filter_step, out_dir: str,
                       store_dir: str, checkpoint: str, id_col: str,
                       bucket_cols, available_now: bool):
    """Start the ``foreachBatch`` sink that runs the module
    docstring's exactly-once protocol around one operator's
    ``filter_step(batch_df, store) -> (docs_out, store_rows)``.

    Per non-empty micro-batch: a committed batch is skipped; otherwise
    ``filter_step`` gets the store with the batch's own rows excluded
    (``None`` before the first commit) and returns lazy frames of the
    accepted docs and of the probe-key rows to store (bucketed on
    ``bucket_cols``); then the four appends run in protocol order.
    Each batch runs in its own :func:`lineage.scope`: every frame
    the step keeps (:func:`lineage.keep`) or an operator it calls
    cuts is released when the batch ends, also when ``filter_step``
    or an append raises.
    """
    spark = stream.sparkSession

    def process(batch_df: SparkDF, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store, layout = None, 'bucketed'
        partial, data_done = False, False
        if _store_exists(store_dir):
            store = spark.read.parquet(store_dir)
            committed, partial, data_done = _batch_state(
                store, batch_id)
            if committed:
                return  # replayed batch — already fully committed
            layout = _store_layout(store_dir, store.columns)
            # overlap detection must never see THIS batch's own rows
            # (a crashed attempt's rows would make the batch drop
            # against itself)
            store = store.filter(F.col('_batch_id') != batch_id)
        with lineage.scope():
            docs_out, store_rows = filter_step(batch_df, store)
            fields = store_rows.schema.fields
            # begin FIRST: it is the only crash evidence a batch with
            # zero store rows leaves
            if not partial:
                _append_store(
                    _marker_row(spark, fields, batch_id, 'begin'),
                    store_dir, layout, bucket_cols)
            if not data_done:
                _append_store(
                    store_rows.withColumn('_batch_id', F.lit(batch_id))
                    .withColumn('_marker', F.lit(None).cast('string')),
                    store_dir, layout, bucket_cols)
            if partial and _store_exists(out_dir):
                # rare replay path: drop ids the crashed attempt
                # already appended (the survivor set recomputes
                # identically)
                docs_out = docs_out.join(
                    spark.read.parquet(out_dir).select(id_col),
                    on=id_col, how='left_anti')
            docs_out.write.mode('append').parquet(out_dir)
            _append_store(
                _marker_row(spark, fields, batch_id, 'commit'),
                store_dir, layout, bucket_cols)

    return foreach_batch_sink(
        stream, process, checkpoint,
        output_mode='append', available_now=available_now)


def incremental_exact_dedup(
    docs_stream: SparkDF,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    id_col: str = 'doc_id',
    key_col: str = 'key',
    available_now: bool = True,
):
    """Filter a stream against all previously-accepted EXACT keys —
    the crawl front door (canonical-URL / content-fingerprint dedup
    at ingest), and the exact-key sibling of
    :func:`incremental_winnow_dedup`.

    Per micro-batch:
      1. in-batch dedup: keep the lowest ``id_col`` per ``key_col``
         (one map-side-combinable groupBy over the batch),
      2. drop batch rows whose key already exists in the store
         (earlier batches win — arrival order; the join touches the
         batch's keys only, and the store read prunes by
         ``_batch_id`` directories),
      3. commit ``(key, id)`` store rows and the accepted docs under
         the exactly-once protocol of the module docstring.

    Because the drop rule is exact-key-equality, the accepted set is
    globally "the minimum id per key" whenever batches arrive in id
    order — trivially oracle-replayable with one window, no
    union-of-cliques caveat.

    Returns the started streaming query.
    """
    def filter_step(batch_df: SparkDF, store):
        # 1. in-batch: lowest id per key
        clean = (
            batch_df.withColumn(
                '__rk', F.row_number().over(
                    Window.partitionBy(key_col)
                    .orderBy(F.col(id_col).asc())))
            .filter(F.col('__rk') == 1).drop('__rk')
        )
        # 2. drop keys already accepted (sentinel rows have NULL
        # keys and never match the equi-join).  The store read is
        # partition-pruned to the batch's key buckets (bucketed
        # layout), and there is no distinct() on the store keys:
        # anti-joins are duplicate-insensitive and store keys are
        # unique by construction (a key is stored only the first
        # time it is accepted) — a distinct here is a wasted full
        # shuffle of the store every micro-batch (r10 rule).
        if store is not None:
            clean = clean.join(
                _prune_store_buckets(store, clean.select(key_col),
                                     (key_col,))
                .select(key_col).filter(F.col(key_col).isNotNull()),
                on=key_col, how='left_anti')
        return clean, clean.select(key_col, F.col(id_col).alias('id'))

    return _exactly_once_sink(
        docs_stream, filter_step, out_dir, store_dir, checkpoint,
        id_col, (key_col,), available_now)


def incremental_winnow_dedup(
    docs_stream: SparkDF,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    k: int = 4,
    w: int = 3,
    min_shared: int = 20,
    available_now: bool = True,
):
    """Filter a document stream against all previously-accepted docs.

    Per micro-batch:
      1. in-batch winnow dedup (keep the lower id of each pair),
      2. drop batch docs sharing >= ``min_shared`` fingerprints with
         the store (earlier batches win — arrival order, the natural
         streaming tie-break),
      3. commit the survivors' fingerprints and the survivors under
         the exactly-once protocol of the module docstring.

    Returns the started streaming query.
    """
    def filter_step(batch_df: SparkDF, store):
        # 1. in-batch dedup
        losers = (
            winnow_dup_pairs(batch_df, id_col, text_col,
                             k=k, w=w, min_shared=min_shared)
            .select(F.col('id_b').alias(id_col)).distinct()
        )
        clean = batch_df.join(losers, on=id_col, how='left_anti')
        # Fingerprint ONCE, kept: the store-prune bucket list
        # (a <=_STORE_BUCKETS collect — the LINEAR cache-populate
        # action), the overlap join, and the store append all read
        # the same batch-sized frame.
        fps = lineage.keep(winnow_fingerprints(
            clean, id_col, text_col, k=k, w=w))
        # 2. drop docs overlapping the store (the store read is
        # partition-pruned to the batch's fp buckets — equal fps
        # hash to equal buckets, so the dropped directories cannot
        # hold a matching fingerprint)
        if store is not None:
            # pairwise overlap: >= min_shared fps with ONE stored doc
            # (pooling fps across the whole store would over-drop)
            dup_ids = (
                fps.join(
                    _prune_store_buckets(store, fps, ('fp',))
                    .select('fp', F.col('id').alias('__store_doc')),
                    on='fp')
                .groupBy('id', '__store_doc')
                .agg(F.count(F.lit(1)).alias('n_shared'))
                .filter(F.col('n_shared') >= min_shared)
                .select('id').distinct()
            )
            clean = clean.join(
                dup_ids.withColumnRenamed('id', id_col),
                on=id_col, how='left_anti')
            fps = fps.join(dup_ids, on='id', how='left_anti')
        return clean, fps

    return _exactly_once_sink(
        docs_stream, filter_step, out_dir, store_dir, checkpoint,
        id_col, ('fp',), available_now)


def incremental_minhash_dedup(
    docs_stream: SparkDF,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    shingles: str = 'word',
    jaccard_threshold: float = 0.8,
    max_bucket_size: int = 2000,
    available_now: bool = True,
):
    """Filter a document stream against all previously-ACCEPTED docs
    by MinHash LSH + exact Jaccard — the probabilistic text sibling
    of :func:`incremental_winnow_dedup`, completing the streaming
    dedup family (exact / winnow / minhash / embedding) over the
    same bucketed store + exactly-once commit machinery.

    Per micro-batch:
      1. in-batch near-dedup (:func:`~ons_utils_spark.operators.
         dedup.minhash_dedup` — LSH candidates, exact Jaccard
         verify, greedy keep-lowest-id),
      2. band the survivors ONCE (:func:`minhash_band_index`; the
         persisted frame serves the store-prune bucket list, the
         index probe, and the store append), probe the stored band
         index (:func:`minhash_index_probe` with ``prebanded`` —
         the store read partition-prunes to the batch's ``_bucket``
         directories), exact-Jaccard-verify every candidate against
         the ACCEPTED texts in ``out_dir`` (candidate-bounded: only
         accepted docs that actually collided are re-shingled), and
         drop batch docs verifying >= ``jaccard_threshold``
         (earlier batches win — arrival order),
      3. commit the survivors' band rows and the survivors under the
         exactly-once protocol of the module docstring.

    LSH parameters (``num_hashes``/``bands``/``shingle_n``/
    ``shingles``) are baked into the stored bucket keys: every run
    against the same ``store_dir`` MUST reuse them or probes
    silently miss.  The store holds band rows of ACCEPTED docs only,
    so the drop rule is "near-duplicate of anything accepted".

    Returns the started streaming query.
    """
    from ..operators.dedup import (
        _shingler,
        minhash_band_index,
        minhash_dedup,
        minhash_index_probe,
        shingle_hashes,
        verify_jaccard_hashed,
    )

    spark = docs_stream.sparkSession

    def _hashed(df: SparkDF) -> SparkDF:
        return df.select(
            F.col(id_col).alias('__id'),
            shingle_hashes(
                _shingler(shingles)(text_col, shingle_n))
            .alias('__hs'))

    def filter_step(batch_df: SparkDF, store):
        # 1. in-batch near-dedup (full LSH + verify + greedy)
        clean = minhash_dedup(
            batch_df, id_col, text_col, num_hashes, bands,
            shingle_n, jaccard_threshold, shingles,
            max_bucket_size=max_bucket_size)
        # band ONCE; three consumers (bucket list, probe, append)
        band_rows = new_banded = lineage.keep(minhash_band_index(
            clean, id_col, text_col, num_hashes, bands, shingle_n,
            shingles=shingles))
        # 2. drop batch docs near-duplicating anything accepted
        if store is not None:
            index = (
                _prune_store_buckets(store, new_banded,
                                     ('band', 'bucket'))
                .select(id_col, 'band', 'bucket')
                .filter(F.col('band').isNotNull())  # skip markers
            )
            cands = minhash_index_probe(
                index, clean, id_col, text_col, num_hashes,
                bands, shingle_n, shingles,
                max_bucket_size=max_bucket_size,
                prebanded=new_banded)
            if _store_exists(out_dir):
                # candidate-bounded verify: re-shingle only the
                # accepted docs that actually collided (left-semi —
                # duplicate-insensitive, no distinct)
                acc_hit = spark.read.parquet(out_dir).join(
                    cands.select(F.col('index_id').alias(id_col)),
                    on=id_col, how='left_semi')
                hashed = _hashed(clean).unionByName(_hashed(acc_hit))
                verified = verify_jaccard_hashed(
                    cands.select(
                        F.col('new_id').alias('id_a'),
                        F.col('index_id').alias('id_b')),
                    hashed, jaccard_threshold)
                # anti-joins are duplicate-insensitive: no distinct
                # on the drop list (r10 rule)
                dup_ids = verified.select(F.col('id_a').alias(id_col))
                clean = clean.join(dup_ids, on=id_col, how='left_anti')
                # banding is per-row deterministic: survivors' band
                # rows are the pre-drop banding minus the dropped ids
                band_rows = new_banded.join(
                    dup_ids, on=id_col, how='left_anti')
        return clean, band_rows

    return _exactly_once_sink(
        docs_stream, filter_step, out_dir, store_dir, checkpoint,
        id_col, ('band', 'bucket'), available_now)


def incremental_simhash_dedup(
    docs_stream: SparkDF,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n_blocks: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int = 2000,
    available_now: bool = True,
):
    """Filter a document stream against all previously-ACCEPTED docs
    by SimHash block-banding + true Hamming verification — the
    Hamming-distance sibling of :func:`incremental_minhash_dedup`
    (the streaming dedup family is now exact / winnow / minhash /
    simhash / embedding, all over the same bucketed store +
    exactly-once commit machinery).

    Per micro-batch:
      1. in-batch near-dedup (:func:`~ons_utils_spark.operators.
         dedup.simhash_dedup` — 4-block banding, exact Hamming
         verify, greedy keep-lowest-id),
      2. block-index the survivors ONCE (:func:`simhash_block_index`;
         the persisted frame serves the store-prune bucket list, the
         index probe, and the store append), probe the stored block
         index (:func:`simhash_index_probe` with ``prebanded`` — the
         store read partition-prunes to the batch's ``_bucket``
         directories), and drop batch docs within ``max_hamming`` of
         anything accepted.  The store carries each accepted doc's
         full signature, so verification needs NO text join — the
         probe is self-verifying, unlike the minhash sibling,
      3. commit the survivors' block rows and the survivors under
         the exactly-once protocol of the module docstring.

    ``n_blocks`` is baked into the stored keys: every run against
    the same ``store_dir`` MUST reuse it.  The store holds block
    rows of ACCEPTED docs only, so the drop rule is "within
    ``max_hamming`` of anything accepted" (earlier batches win —
    arrival order).

    Returns the started streaming query.
    """
    from ..operators.dedup import (
        simhash_block_index,
        simhash_dedup,
        simhash_index_probe,
    )

    def filter_step(batch_df: SparkDF, store):
        # 1. in-batch near-dedup (banding + Hamming verify + greedy)
        clean = simhash_dedup(
            batch_df, id_col, text_col, max_hamming=max_hamming,
            max_bucket_size=max_bucket_size)
        # sign ONCE; three consumers (bucket list, probe, append)
        band_rows = new_banded = lineage.keep(simhash_block_index(
            clean, id_col, text_col, n_blocks))
        # 2. drop batch docs within max_hamming of anything accepted
        # (self-verifying: the store carries full signatures)
        if store is not None:
            index = (
                _prune_store_buckets(store, new_banded,
                                     ('block', 'key'))
                .select(id_col, 'block', 'key', 'blocks')
                .filter(F.col('block').isNotNull())  # markers
            )
            cands = simhash_index_probe(
                index, clean, id_col, text_col, n_blocks,
                max_hamming, max_bucket_size=max_bucket_size,
                prebanded=new_banded)
            # anti-joins are duplicate-insensitive: no distinct
            dup_ids = cands.select(F.col('new_id').alias(id_col))
            clean = clean.join(dup_ids, on=id_col, how='left_anti')
            # signing is per-row deterministic: survivors' block rows
            # are the pre-drop signing minus the dropped ids
            band_rows = new_banded.join(
                dup_ids, on=id_col, how='left_anti')
        return clean, band_rows

    return _exactly_once_sink(
        docs_stream, filter_step, out_dir, store_dir, checkpoint,
        id_col, ('block', 'key'), available_now)


def incremental_embedding_dedup(
    vecs_stream: SparkDF,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    id_col: str = 'vec_id',
    vec_col: str = 'embedding',
    threshold: float = 0.95,
    dim: int = None,
    bands: int = 24,
    planes_per_band: int = 16,
    seed: int = 42,
    max_bucket_size: int = 2000,
    available_now: bool = True,
):
    """Filter an embedding stream against all previously-accepted
    vectors — the vector analogue of :func:`incremental_winnow_dedup`,
    built on the :func:`~ons_utils_spark.operators.dedup.
    embedding_band_index` / ``embedding_index_probe`` /
    ``score_pairs_cosine`` cycle.

    Per micro-batch:
      1. in-batch near-dup dedup (exact-cosine-verified; keep the
         lower id of each pair >= ``threshold``),
      2. probe survivors' hyperplane-LSH bands against the stored
         band index (only the BATCH is banded — one GEMM over batch
         rows; the equi-join touches the matching index sliver, not
         the corpus), exact-cosine verify each candidate against the
         accepted vectors in ``out_dir``, and drop batch vectors with
         cosine >= ``threshold`` to anything indexed (earlier batches
         win — arrival order, the natural streaming tie-break),
      3. commit the survivors' band rows and the survivors under the
         exactly-once protocol of the module docstring (a batch of
         all-NULL embeddings bands to zero rows; the begin sentinel
         is its crash evidence).

    LSH parameters (``bands``/``planes_per_band``/``seed``/``dim``)
    are baked into the stored bucket keys: every run against the same
    ``store_dir`` MUST use the same values or probes silently miss.

    Scale notes: the store holds ``bands`` rows per accepted vector,
    hive-partitioned by ``(_batch_id, _bucket)`` where ``_bucket``
    hashes ``(band, bucket)`` — the probe join partition-prunes to
    the batch's bucket directories instead of scanning the store.
    The batch is banded ONCE per micro-batch (bucket list, probe,
    and store append all reuse the persisted frame).  Verification
    joins are candidate-sized; the hot-bucket star cap bounds an
    embedding-clone mega-family to k−1 candidate pairs.

    Returns the started streaming query.
    """
    spark = vecs_stream.sparkSession

    def filter_step(batch_df: SparkDF, store):
        # 1. in-batch dedup (exact precision at any size: 'auto'
        # switches to LSH-then-verify past max_broadcast_rows)
        losers = (
            embedding_near_duplicates(
                batch_df, id_col, vec_col, threshold=threshold,
                dim=dim, lsh_bands=bands,
                lsh_planes_per_band=planes_per_band, lsh_seed=seed,
                max_bucket_size=max_bucket_size)
            .select(F.col('id_b').alias(id_col)).distinct()
        )
        clean = batch_df.join(losers, on=id_col, how='left_anti')
        # Band the surviving batch ONCE — the same rows serve the
        # store-prune bucket list, the index probe (via prebanded),
        # and the final store append (a drop-anti-join instead of a
        # second GEMM).  Kept: three consumers, and the first (the
        # <=_STORE_BUCKETS bucket-list collect) is a LINEAR action
        # that populates the cache race-free.
        band_rows = new_banded = lineage.keep(embedding_band_index(
            clean, id_col, vec_col, dim=dim, bands=bands,
            planes_per_band=planes_per_band, seed=seed))
        # 2. drop vectors near-duplicating anything accepted (the
        # store read is partition-pruned to the batch's (band,
        # bucket) buckets — equal band keys hash equal)
        if store is not None:
            index = (
                _prune_store_buckets(store, new_banded,
                                     ('band', 'bucket'))
                .select(id_col, 'band', 'bucket')
                .filter(F.col('band').isNotNull())  # skip markers
            )
            cands = embedding_index_probe(
                index, clean, id_col, vec_col, dim=dim,
                bands=bands, planes_per_band=planes_per_band,
                seed=seed, max_bucket_size=max_bucket_size,
                prebanded=new_banded)
            vectors = clean.select(id_col, vec_col)
            if _store_exists(out_dir):
                vectors = vectors.unionByName(
                    spark.read.parquet(out_dir)
                    .select(id_col, vec_col))
            dup_ids = (
                score_pairs_cosine(
                    cands, vectors, id_col, vec_col,
                    id_a='new_id', id_b='index_id')
                .filter(F.col('cosine') >= threshold)
                .select(F.col('new_id').alias(id_col)).distinct()
            )
            clean = clean.join(dup_ids, on=id_col, how='left_anti')
            # banding is per-row deterministic: survivors' band rows
            # are the pre-drop banding minus the dropped ids — no
            # second GEMM
            band_rows = new_banded.join(
                dup_ids, on=id_col, how='left_anti')
        return clean, band_rows

    return _exactly_once_sink(
        vecs_stream, filter_step, out_dir, store_dir, checkpoint,
        id_col, ('band', 'bucket'), available_now)


def compact_incremental_store(
    spark,
    store_dir: str,
    dst: str,
) -> dict:
    """OFFLINE maintenance rewrite of an incremental-dedup store:
    merge the data rows of every fully-committed batch EXCEPT the
    newest into one batch partition, so a long-lived stream's
    ``_batch_id=N[/_bucket=K]`` directory (one per micro-batch,
    small files inside) collapses to O(buckets) well-sized files —
    probe scans stop paying per-batch file-open overhead that grows
    linearly with stream age.

    Exactly-once semantics are PRESERVED, not approximated:

    * every ``begin``/``commit`` marker row keeps its original
      ``_batch_id`` — ``_batch_state`` answers for any batch are
      unchanged (a compacted batch still reads ``committed``);
    * only batches strictly older than the newest batch id are
      merged — Structured Streaming can only replay the LAST batch
      after a crash, and that batch's rows (and any partial batch's
      rows) are copied through untouched, so own-batch exclusion
      and mid-commit reconciliation still see exactly what they
      wrote;
    * merged data rows adopt the OLDEST compacted batch id — still
      strictly smaller than any replayable or future id, so the
      ``_batch_id != current`` probe filter never misclassifies
      them.

    Copy-then-swap like ``sources.compaction.compact_table``:
    ``dst`` must be a NEW directory; stop the stream, compact, swap
    directories, restart **with the same checkpoint** — the store
    protocol binds batch ids to one checkpoint lineage (true before
    compaction too: a fresh checkpoint restarts ids at 0 and
    collides with historical committed batches).  Returns a report
    dict ``(batches, committed, compacted_batches,
    target_batch_id)``.
    """
    if os.path.normpath(store_dir) == os.path.normpath(dst):
        raise ValueError('compact_incremental_store writes to a '
                         'NEW location; swap directories after the '
                         f'rewrite (store_dir == dst == {store_dir!r})')
    store = spark.read.parquet(store_dir)
    if '_marker' not in store.columns or '_batch_id' not in store.columns:
        raise ValueError(
            'not a marker-protocol incremental store (flat or '
            'pre-_marker layouts cannot be compacted safely): '
            f'{store_dir}')
    ids = store.groupBy('_batch_id').agg(
        F.max((F.col('_marker') == 'commit').cast('int'))
        .alias('__committed')).collect()
    all_ids = sorted(r['_batch_id'] for r in ids)
    committed = sorted(r['_batch_id'] for r in ids
                       if r['__committed'])
    compactable = [b for b in committed if b != all_ids[-1]]
    target = min(compactable) if compactable else None
    bucketed = '_bucket' in store.columns
    part_cols = ['_batch_id', '_bucket'] if bucketed \
        else ['_batch_id']

    is_merged_data = (
        F.col('_marker').isNull()
        & F.col('_batch_id').isin(compactable or [-1]))
    frozen = store.filter(~is_merged_data)
    bid_type = dict(store.dtypes)['_batch_id']
    merged = store.filter(is_merged_data).withColumn(
        '_batch_id', F.lit(target).cast(bid_type)) \
        if compactable else None
    out = frozen.unionByName(merged) if merged is not None else frozen
    # one task -> one file per surviving (batch, bucket) directory
    (out.repartition(*[F.col(c) for c in part_cols])
     .write.mode('error').partitionBy(*part_cols).parquet(dst))
    return {
        'batches': len(all_ids),
        'committed': len(committed),
        'compacted_batches': len(compactable),
        'target_batch_id': target,
    }


def incremental_line_dedup(
    docs_stream: SparkDF,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    delimiter: str = '\n',
    min_line_chars: int = 0,
    available_now: bool = True,
):
    """C4-style corpus-level LINE dedup at INGEST — the streaming
    sibling of :func:`ons_utils_spark.operators.dedup.line_dedup`:
    every document passes through with its text REWRITTEN to drop
    lines already seen anywhere earlier (previous batches via the
    durable store, earlier docs in the same batch via one window) —
    navigation chrome, cookie banners, and license blocks die at the
    crawl front door instead of in a later corpus-wide pass.

    Per micro-batch:
      1. split + ``posexplode`` the batch's lines; lines shorter
         than ``min_line_chars`` are EXEMPT (always kept, never
         stored — the valve that stops corpus-wide dedup deleting
         every "yes." line, and keeps the short tail out of the
         shuffle and the store),
      2. in-batch first-occurrence per line md5 (one window keyed
         on the 16-byte hash — line text never shuffles),
      3. drop lines whose hash the store already holds (the read
         partition-prunes to the batch's ``_bucket`` directories),
      4. rebuild each doc (position-sorted ``collect_list``; a doc
         whose every line was dropped comes back with empty text —
         row count is preserved),
      5. commit the new lines' ``(key, id)`` store rows and the
         rebuilt docs under the exactly-once protocol of the module
         docstring.

    Batch-parity contract: under id-ordered arrival the rewritten
    corpus is EXACTLY what batch ``line_dedup`` produces on the full
    input — "first occurrence" is the lowest ``(id, position)`` in
    both — so the fold is closed-form replayable
    (``q_incremental_line_dedup`` shares the ``q_line_dedup``
    oracle's rule).

    Returns the started streaming query.
    """
    def filter_step(batch_df: SparkDF, store):
        other_cols = [c for c in batch_df.columns if c != text_col]
        lines = batch_df.select(
            *other_cols,
            F.posexplode(
                F.split(F.col(text_col),
                        '\\Q' + delimiter + '\\E'))
            .alias('__pos', '__line'),
        )
        short = F.length('__line') < min_line_chars
        exempt = lines.filter(short) if min_line_chars > 0 else None
        cand = (lines.filter(~short) if min_line_chars > 0
                else lines)
        cand = cand.withColumn('key', F.md5(F.col('__line')))
        w = Window.partitionBy('key').orderBy(
            F.col(id_col).asc(), F.col('__pos').asc())
        cand = (
            cand.withColumn('__rk', F.row_number().over(w))
            .filter(F.col('__rk') == 1).drop('__rk')
        )
        if store is not None:
            cand = cand.join(
                _prune_store_buckets(store, cand.select('key'),
                                     ('key',))
                .select('key').filter(F.col('key').isNotNull()),
                on='key', how='left_anti')
        kept = cand.drop('key')
        if exempt is not None:
            kept = kept.unionByName(exempt)
        return (_reassemble_lines(batch_df, kept, text_col, delimiter),
                cand.select('key', F.col(id_col).alias('id')))

    return _exactly_once_sink(
        docs_stream, filter_step, out_dir, store_dir, checkpoint,
        id_col, ('key',), available_now)
