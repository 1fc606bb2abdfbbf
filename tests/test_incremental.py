"""Tests for streaming incremental dedup (winnow + embedding)."""
import pytest
from pyspark.sql import functions as F


def _stage(tmp_path, docs, n_chunks=3):
    """Write docs as n json chunks, ordered by doc_id so arrival
    order == id order (streaming first-wins then equals the batch
    lowest-id-wins). Chunk mtimes are staggered explicitly — the
    file source orders by modification time, and same-millisecond
    writes would make chunk order nondeterministic."""
    import os
    import time

    import pandas as pd

    src = tmp_path / 'docs_src'
    src.mkdir()
    rows = sorted(docs, key=lambda r: r[0])
    per = (len(rows) + n_chunks - 1) // n_chunks
    base = time.time() - 1000
    for i in range(n_chunks):
        chunk = rows[i * per:(i + 1) * per]
        if chunk:
            path = src / f'{i}.json'
            pd.DataFrame(chunk, columns=['doc_id', 'text']).to_json(
                path, orient='records', lines=True)
            os.utime(path, (base + 10 * i, base + 10 * i))
    return src


@pytest.mark.slow
class TestIncrementalMinhashDedup:
    def _run(self, spark, tmp_path, docs, n_chunks=3, threshold=0.9):
        from ons_utils_spark.streaming.incremental import (
            incremental_minhash_dedup)

        src = _stage(tmp_path, docs, n_chunks)
        stream = (
            spark.readStream
            .schema('doc_id long, text string')
            .option('maxFilesPerTrigger', 1)
            .json(str(src))
        )
        q = incremental_minhash_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt'),
            jaccard_threshold=threshold,
        )
        q.awaitTermination(300)
        return spark.read.parquet(str(tmp_path / 'accepted'))

    BASE = ('alpha beta gamma delta epsilon zeta eta theta iota '
            'kappa lam mu nu xi omicron pi rho sigma tau upsilon')
    OTHER = ('totally different words nothing shared here at all '
             'with the other documents in any chunk today ok fine')

    def test_cross_batch_and_in_batch_dups_dropped(
            self, spark_session, tmp_path):
        docs = [
            (1, self.BASE),        # chunk 1: original
            (2, self.BASE),        # chunk 1: exact in-batch dup of 1
            (3, self.OTHER),
            (10, self.BASE),       # later chunk: exact cross-batch dup
            (11, 'another unique document about completely other '
                 'topics that shares no running grams with anyone'),
        ]
        accepted = self._run(spark_session, tmp_path, docs,
                             n_chunks=2)
        ids = sorted(r['doc_id'] for r in accepted.collect())
        assert ids == [1, 3, 11], ids

    def test_store_holds_band_rows_of_accepted_only(
            self, spark_session, tmp_path):
        docs = [(1, self.BASE), (2, self.OTHER), (10, self.BASE)]
        self._run(spark_session, tmp_path, docs, n_chunks=2)
        store = spark_session.read.parquet(str(tmp_path / 'store'))
        ids = {r['doc_id'] for r in store.filter(
            F.col('band').isNotNull()).select('doc_id')
            .distinct().collect()}
        assert ids == {1, 2}, ids  # 10 dropped, never banded in
        # bucketed layout on disk
        import os
        inner = os.listdir(str(tmp_path / 'store' / '_batch_id=0'))
        assert any(d.startswith('_bucket=') for d in inner), inner

    def test_replay_is_idempotent(self, spark_session, tmp_path):
        """Re-delivering all batches with a FRESH checkpoint (the
        crash-before-checkpoint-commit shape) must not duplicate
        accepted rows or store rows."""
        from ons_utils_spark.streaming.incremental import (
            incremental_minhash_dedup)

        docs = [(1, self.BASE), (2, self.OTHER), (10, self.BASE)]
        accepted = self._run(spark_session, tmp_path, docs,
                             n_chunks=2)
        assert sorted(r['doc_id'] for r in accepted.collect()) \
            == [1, 2]
        stream = (
            spark_session.readStream
            .schema('doc_id long, text string')
            .option('maxFilesPerTrigger', 1)
            .json(str(tmp_path / 'docs_src'))
        )
        q = incremental_minhash_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt2'),
            jaccard_threshold=0.9,
        )
        q.awaitTermination(300)
        replayed = spark_session.read.parquet(
            str(tmp_path / 'accepted'))
        assert sorted(r['doc_id'] for r in replayed.collect()) \
            == [1, 2]
        store = spark_session.read.parquet(str(tmp_path / 'store'))
        # exactly one commit marker per batch, band rows not doubled
        assert store.filter(F.col('_marker') == 'commit').count() \
            == 2
        per_doc = store.filter(F.col('band').isNotNull()).groupBy(
            'doc_id', 'band').count().filter(F.col('count') > 1)
        assert per_doc.count() == 0


@pytest.mark.slow
class TestIncrementalSimhashDedup:
    def _run(self, spark, tmp_path, docs, n_chunks=2):
        from ons_utils_spark.streaming.incremental import (
            incremental_simhash_dedup)

        src = _stage(tmp_path, docs, n_chunks)
        stream = (
            spark.readStream
            .schema('doc_id long, text string')
            .option('maxFilesPerTrigger', 1)
            .json(str(src))
        )
        q = incremental_simhash_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt'),
        )
        q.awaitTermination(300)
        return spark.read.parquet(str(tmp_path / 'accepted'))

    BASE = ('alpha beta gamma delta epsilon zeta eta theta iota '
            'kappa lam mu nu xi omicron pi rho sigma tau upsilon')
    OTHER = ('totally different words nothing shared here at all '
             'with the other documents in any chunk today ok fine')

    def test_cross_batch_and_in_batch_dups_dropped(
            self, spark_session, tmp_path):
        docs = [
            (1, self.BASE),        # chunk 1: original
            (2, self.BASE),        # chunk 1: exact in-batch dup
            (3, self.OTHER),
            (10, self.BASE),       # later chunk: exact cross-batch
            (11, 'another unique document about completely other '
                 'topics that shares no running grams with anyone'),
        ]
        accepted = self._run(spark_session, tmp_path, docs)
        ids = sorted(r['doc_id'] for r in accepted.collect())
        assert ids == [1, 3, 11], ids

    def test_store_is_self_verifying_and_bucketed(
            self, spark_session, tmp_path):
        """The store carries full signatures (`blocks`), so the probe
        verifies Hamming without any text join, and new stores use
        the bucketed layout."""
        import os

        docs = [(1, self.BASE), (2, self.OTHER), (10, self.BASE)]
        self._run(spark_session, tmp_path, docs)
        store = spark_session.read.parquet(str(tmp_path / 'store'))
        assert 'blocks' in store.columns
        ids = {r['doc_id'] for r in store.filter(
            F.col('block').isNotNull()).select('doc_id')
            .distinct().collect()}
        assert ids == {1, 2}, ids  # 10 dropped, never indexed
        inner = os.listdir(str(tmp_path / 'store' / '_batch_id=0'))
        assert any(d.startswith('_bucket=') for d in inner), inner

    def test_replay_is_idempotent(self, spark_session, tmp_path):
        from ons_utils_spark.streaming.incremental import (
            incremental_simhash_dedup)

        docs = [(1, self.BASE), (2, self.OTHER), (10, self.BASE)]
        accepted = self._run(spark_session, tmp_path, docs)
        assert sorted(r['doc_id'] for r in accepted.collect()) \
            == [1, 2]
        stream = (
            spark_session.readStream
            .schema('doc_id long, text string')
            .option('maxFilesPerTrigger', 1)
            .json(str(tmp_path / 'docs_src'))
        )
        q = incremental_simhash_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt2'),
        )
        q.awaitTermination(300)
        replayed = spark_session.read.parquet(
            str(tmp_path / 'accepted'))
        assert sorted(r['doc_id'] for r in replayed.collect()) \
            == [1, 2]
        store = spark_session.read.parquet(str(tmp_path / 'store'))
        assert store.filter(F.col('_marker') == 'commit').count() \
            == 2
        per_doc = store.filter(F.col('block').isNotNull()).groupBy(
            'doc_id', 'block').count().filter(F.col('count') > 1)
        assert per_doc.count() == 0


@pytest.mark.slow
class TestIncrementalWinnowDedup:
    def _run(self, spark, tmp_path, docs, n_chunks=3):
        from ons_utils_spark.streaming.incremental import (
            incremental_winnow_dedup)

        src = _stage(tmp_path, docs, n_chunks)
        stream = (
            spark.readStream
            .schema('doc_id long, text string')
            .option('maxFilesPerTrigger', 1)
            .json(str(src))
        )
        q = incremental_winnow_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt'),
            min_shared=5,
        )
        q.awaitTermination(300)
        return spark.read.parquet(str(tmp_path / 'accepted'))

    def test_cross_batch_duplicates_dropped(
            self, spark_session, tmp_path):
        base = ('alpha beta gamma delta epsilon zeta eta theta iota '
                'kappa lam mu nu xi omicron pi rho sigma tau upsilon')
        docs = [
            (1, base),                        # chunk 1: original
            (2, 'totally different words nothing shared here at all '
                'with the other documents in any chunk today ok fine'),
            (10, base + ' extra tail'),       # later chunk: near-dup
            (11, 'another unique document about completely other '
                 'topics that shares no running grams with anyone'),
        ]
        accepted = self._run(spark_session, tmp_path, docs, n_chunks=2)
        ids = sorted(r['doc_id'] for r in accepted.collect())
        assert ids == [1, 2, 11], ids  # 10 dropped against the store

    def test_store_partitioned_by_batch_id(
            self, spark_session, tmp_path):
        """New stores are hive-partitioned by _batch_id, so the
        per-batch commit probe prunes directories instead of
        scanning every store file's footer; flat stores written by
        earlier versions keep appending flat (no mixed layouts)."""
        import os
        import re

        base = ('alpha beta gamma delta epsilon zeta eta theta iota '
                'kappa lam mu nu xi omicron pi rho sigma tau upsilon')
        docs = [(1, base), (2, base + ' more tail here')]
        self._run(spark_session, tmp_path, docs, n_chunks=2)
        store_dir = str(tmp_path / 'store')
        subdirs = sorted(d for d in os.listdir(store_dir)
                         if d.startswith('_batch_id='))
        assert subdirs == ['_batch_id=0', '_batch_id=1'], subdirs
        assert not any(f.endswith('.parquet')
                       for f in os.listdir(store_dir))
        # the per-batch probe's filter is a partition filter
        probed = spark_session.read.parquet(store_dir).filter(
            F.col('_batch_id') == 1)
        plan = probed._jdf.queryExecution().executedPlan().toString()
        m = re.search(r'PartitionFilters: \[([^\]]*)\]', plan)
        assert m and '_batch_id' in m.group(1), plan

    def test_flat_store_keeps_appending_flat(
            self, spark_session, tmp_path):
        """A store whose batch-0 state was written flat (old layout,
        manufactured directly) must accept batch-1 appends without
        partition directories appearing — mixing layouts corrupts
        partition discovery."""
        import os

        from ons_utils_spark.operators.dedup import (
            winnow_fingerprints)
        from ons_utils_spark.streaming.incremental import _marker_row

        base = ('alpha beta gamma delta epsilon zeta eta theta iota '
                'kappa lam mu nu xi omicron pi rho sigma tau upsilon')
        docs = [(1, base), (2, base + ' extra tail words')]
        store_dir = str(tmp_path / 'store')
        # committed batch 0, flat layout
        d0 = spark_session.createDataFrame(
            [docs[0]], 'doc_id long, text string')
        fps0 = winnow_fingerprints(d0, 'doc_id', 'text')
        schema = fps0.schema.fields
        (_marker_row(spark_session, schema, 0, 'begin')
            .write.mode('append').parquet(store_dir))
        (fps0.withColumn('_batch_id', F.lit(0))
            .withColumn('_marker', F.lit(None).cast('string'))
            .write.mode('append').parquet(store_dir))
        d0.write.mode('append').parquet(str(tmp_path / 'accepted'))
        (_marker_row(spark_session, schema, 0, 'commit')
            .write.mode('append').parquet(store_dir))

        accepted = self._run(spark_session, tmp_path, docs,
                             n_chunks=2)
        ids = sorted(r['doc_id'] for r in accepted.collect())
        assert ids == [1], ids  # 2 dropped against the flat store
        assert not any(d.startswith('_batch_id=')
                       for d in os.listdir(store_dir))

    def test_store_bucketed_layout_and_pruned_overlap(
            self, spark_session, tmp_path):
        """NEW stores carry a second partition level ``_bucket``
        (hash of the probe key), and the overlap read the operator
        builds is a STATIC partition filter over it — at 100 TB the
        per-batch overlap join reads matching bucket directories,
        never the full store (r12 verdict item)."""
        import os
        import re

        from ons_utils_spark.streaming.incremental import (
            _prune_store_buckets)

        base = ('alpha beta gamma delta epsilon zeta eta theta iota '
                'kappa lam mu nu xi omicron pi rho sigma tau upsilon')
        docs = [(1, base), (2, 'unrelated words in every position '
                               'of this second document text body')]
        self._run(spark_session, tmp_path, docs, n_chunks=2)
        store_dir = str(tmp_path / 'store')
        batch_dirs = sorted(d for d in os.listdir(store_dir)
                            if d.startswith('_batch_id='))
        assert batch_dirs == ['_batch_id=0', '_batch_id=1']
        # second level: _bucket=K directories
        inner = sorted(d for d in os.listdir(
            os.path.join(store_dir, '_batch_id=0'))
            if d.startswith('_bucket='))
        assert inner, 'expected _bucket= partition directories'
        # the overlap read is partition-pruned by the batch's buckets
        store = spark_session.read.parquet(store_dir)
        batch = spark_session.createDataFrame(
            [('00af',), ('1b2c',)], 'fp string')
        pruned = _prune_store_buckets(store, batch, ('fp',))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        m = re.search(r'PartitionFilters: \[([^\]]*)\]', plan)
        assert m and '_bucket' in m.group(1), plan
        assert re.search(r'_bucket.* IN ', m.group(1)), m.group(1)

    def test_batch_only_store_keeps_appending_batch_only(
            self, spark_session, tmp_path):
        """A store written by the r12 layout (``_batch_id`` only, no
        ``_bucket`` column) must keep appending in that layout —
        mixing partition schemes corrupts discovery — and the
        unpruned overlap join still drops cross-batch dups."""
        import os

        from ons_utils_spark.operators.dedup import (
            winnow_fingerprints)
        from ons_utils_spark.streaming.incremental import _marker_row

        base = ('alpha beta gamma delta epsilon zeta eta theta iota '
                'kappa lam mu nu xi omicron pi rho sigma tau upsilon')
        docs = [(1, base), (2, base + ' extra tail words')]
        store_dir = str(tmp_path / 'store')
        # committed batch 0 in the r12 layout (partitioned by
        # _batch_id, no _bucket)
        d0 = spark_session.createDataFrame(
            [docs[0]], 'doc_id long, text string')
        fps0 = winnow_fingerprints(d0, 'doc_id', 'text')
        schema = fps0.schema.fields
        (_marker_row(spark_session, schema, 0, 'begin')
            .write.mode('append').partitionBy('_batch_id')
            .parquet(store_dir))
        (fps0.withColumn('_batch_id', F.lit(0))
            .withColumn('_marker', F.lit(None).cast('string'))
            .write.mode('append').partitionBy('_batch_id')
            .parquet(store_dir))
        d0.write.mode('append').parquet(str(tmp_path / 'accepted'))
        (_marker_row(spark_session, schema, 0, 'commit')
            .write.mode('append').partitionBy('_batch_id')
            .parquet(store_dir))

        accepted = self._run(spark_session, tmp_path, docs,
                             n_chunks=2)
        ids = sorted(r['doc_id'] for r in accepted.collect())
        assert ids == [1], ids  # 2 dropped against the legacy store
        for d in os.listdir(store_dir):
            if d.startswith('_batch_id='):
                assert not any(
                    e.startswith('_bucket=') for e in os.listdir(
                        os.path.join(store_dir, d))), d

    def test_zero_fingerprint_batch_replay_idempotent(
            self, spark_session, tmp_path):
        """A committed batch whose docs are all shorter than k+w-1
        tokens produces NO fingerprints; commit detection must not
        depend on fingerprint rows (the unconditional null-fp marker
        carries the batch id), or a replay re-appends the docs."""
        docs = [
            (1, 'tiny doc'),          # 2 tokens < k+w-1 = 6
            (2, 'three short words'),
            (3, 'also very small'),
        ]
        accepted = self._run(spark_session, tmp_path, docs, n_chunks=2)
        ids = sorted(r['doc_id'] for r in accepted.collect())
        assert ids == [1, 2, 3], ids
        # replay: same source and sinks, FRESH checkpoint — the file
        # source re-delivers the same chunks as the same batch ids,
        # exactly what a crash-before-checkpoint-commit does
        from ons_utils_spark.streaming.incremental import (
            incremental_winnow_dedup)
        stream = (
            spark_session.readStream
            .schema('doc_id long, text string')
            .option('maxFilesPerTrigger', 1)
            .json(str(tmp_path / 'docs_src'))
        )
        q = incremental_winnow_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt2'),
            min_shared=5,
        )
        q.awaitTermination(300)
        replayed = spark_session.read.parquet(str(tmp_path / 'accepted'))
        ids2 = sorted(r['doc_id'] for r in replayed.collect())
        assert ids2 == [1, 2, 3], ids2  # no duplicates appended

    def test_mid_commit_crash_replay_exactly_once(
            self, spark_session, tmp_path):
        """Crash AFTER the batch-0 fingerprint append and docs
        append but BEFORE the marker: the replay must skip the store
        append, reconcile the docs append (no duplicate rows), and
        commit the marker — effective exactly-once."""
        from ons_utils_spark.operators.dedup import (
            winnow_fingerprints)

        base = ('alpha beta gamma delta epsilon zeta eta theta iota '
                'kappa lam mu nu xi omicron pi rho sigma tau upsilon')
        docs = [
            (1, base),
            (2, 'totally different words nothing shared here at all '
                'with the other documents in any chunk today ok fine'),
            (10, base + ' extra tail'),       # near-dup of 1
            (11, 'another unique document about completely other '
                 'topics that shares no running grams with anyone'),
        ]
        _stage(tmp_path, docs, n_chunks=2)
        # manufacture the crashed batch-0 state exactly as the
        # writer produces it: begin sentinel + fps + docs written,
        # NO commit marker
        from ons_utils_spark.streaming.incremental import _marker_row
        surv = spark_session.createDataFrame(
            docs[:2], 'doc_id long, text string')
        fps = winnow_fingerprints(surv, 'doc_id', 'text')
        (_marker_row(spark_session, fps.schema.fields, 0, 'begin')
            .write.mode('append').parquet(str(tmp_path / 'store')))
        (fps.withColumn('_batch_id', F.lit(0))
            .withColumn('_marker', F.lit(None).cast('string'))
            .write.mode('append')
            .parquet(str(tmp_path / 'store')))
        surv.write.mode('append').parquet(str(tmp_path / 'accepted'))

        from ons_utils_spark.streaming.incremental import (
            incremental_winnow_dedup)
        stream = (
            spark_session.readStream
            .schema('doc_id long, text string')
            .option('maxFilesPerTrigger', 1)
            .json(str(tmp_path / 'docs_src'))
        )
        q = incremental_winnow_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt'),
            min_shared=5,
        )
        q.awaitTermination(300)
        ids = sorted(r['doc_id'] for r in spark_session.read.parquet(
            str(tmp_path / 'accepted')).collect())
        assert ids == [1, 2, 11], ids  # no duplicate 1/2; 10 dropped
        # batch 0 is now commit-marked in the store, exactly once
        store = spark_session.read.parquet(str(tmp_path / 'store'))
        assert store.filter(
            (F.col('_batch_id') == 0)
            & (F.col('_marker') == 'commit')).count() == 1

    def test_legacy_store_without_marker_fails_fast(
            self, spark_session, tmp_path):
        """A store written by the pre-_marker (three-append) protocol
        must be rejected loudly: once old and new files mix, the old
        null-key commit rows read as data (_marker = NULL via parquet
        schema union) and committed batches would be misclassified
        as partial."""
        from ons_utils_spark.streaming.incremental import _batch_state

        legacy = spark_session.createDataFrame(
            [('fp1', 1, 0), (None, None, 0)],   # data row + old marker
            'fp string, id long, _batch_id long')
        legacy.write.parquet(str(tmp_path / 'store'))
        store = spark_session.read.parquet(str(tmp_path / 'store'))
        with pytest.raises(ValueError, match='pre-_marker'):
            _batch_state(store, 0)

    def test_zero_fp_crash_after_docs_before_marker(
            self, spark_session, tmp_path):
        """THE zero-row hole: batch 0's docs are all shorter than
        k+w-1 tokens (zero fingerprints), and the crash lands after
        the docs append but before the commit marker.  Without the
        begin sentinel the store holds no evidence of batch 0 at
        all, so a replay re-appends the docs — duplicating rows.
        The begin-first protocol must detect the partial batch and
        reconcile."""
        from ons_utils_spark.operators.dedup import (
            winnow_fingerprints)
        from ons_utils_spark.streaming.incremental import (
            _marker_row, incremental_winnow_dedup)

        docs = [
            (1, 'tiny doc'),          # chunk 0 (zero fps)
            (2, 'three short words'),
            (3, 'also very small'),   # chunk 1
        ]
        _stage(tmp_path, docs, n_chunks=2)
        # crashed batch-0 state: begin sentinel + docs, no data
        # rows (there are none to write), NO commit marker
        surv = spark_session.createDataFrame(
            docs[:2], 'doc_id long, text string')
        fps_schema = winnow_fingerprints(
            surv, 'doc_id', 'text').schema.fields
        (_marker_row(spark_session, fps_schema, 0, 'begin')
            .write.mode('append').parquet(str(tmp_path / 'store')))
        surv.write.mode('append').parquet(str(tmp_path / 'accepted'))

        stream = (
            spark_session.readStream
            .schema('doc_id long, text string')
            .option('maxFilesPerTrigger', 1)
            .json(str(tmp_path / 'docs_src'))
        )
        q = incremental_winnow_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt'),
            min_shared=5,
        )
        q.awaitTermination(300)
        got = [r['doc_id'] for r in spark_session.read.parquet(
            str(tmp_path / 'accepted')).collect()]
        assert sorted(got) == [1, 2, 3], got  # no duplicated docs

    def test_matches_eager_chunk_fold(self, spark_session, tmp_path):
        """The streaming run must equal the same per-chunk fold
        computed eagerly: in-chunk pair dedup, then pairwise overlap
        against the accepted-so-far fingerprint store (independent
        Python-set reimplementation of the store join)."""
        from ons_utils_spark.operators.dedup import (
            winnow_dup_pairs, winnow_fingerprints)
        from ons_utils_spark.sources.readers import load_tables

        docs_df = load_tables(
            spark_session, '/root/testdata/sf0.001',
            tables=['documents'])['documents'].select('doc_id', 'text')
        docs = [(r['doc_id'], r['text']) for r in docs_df.collect()]

        accepted = self._run(spark_session, tmp_path, docs, n_chunks=3)
        got = sorted(r['doc_id'] for r in accepted.collect())

        # eager reference fold over the same id-ordered chunks
        rows = sorted(docs, key=lambda r: r[0])
        per = (len(rows) + 2) // 3
        store = {}  # accepted doc_id -> set(fp)
        kept = []
        for i in range(3):
            chunk = rows[i * per:(i + 1) * per]
            if not chunk:
                continue
            chunk_df = spark_session.createDataFrame(
                chunk, 'doc_id long, text string')
            losers = {
                r['id_b'] for r in winnow_dup_pairs(
                    chunk_df, 'doc_id', 'text', min_shared=5).collect()}
            fps = {}
            for r in winnow_fingerprints(
                    chunk_df, 'doc_id', 'text').collect():
                fps.setdefault(r['id'], set()).add(r['fp'])
            for doc_id, _ in chunk:
                if doc_id in losers:
                    continue
                mine = fps.get(doc_id, set())
                if any(len(mine & theirs) >= 5
                       for theirs in store.values()):
                    continue
                store[doc_id] = mine
                kept.append(doc_id)
        assert got == sorted(kept), (len(got), len(kept))


def _stage_vecs(tmp_path, rows, n_chunks=2):
    """Write (vec_id, embedding) rows as n json chunks ordered by id
    with staggered mtimes (same arrival-order contract as _stage)."""
    import os
    import time

    import pandas as pd

    src = tmp_path / 'vecs_src'
    src.mkdir()
    rows = sorted(rows, key=lambda r: r[0])
    per = (len(rows) + n_chunks - 1) // n_chunks
    base = time.time() - 1000
    for i in range(n_chunks):
        chunk = rows[i * per:(i + 1) * per]
        if chunk:
            path = src / f'{i}.json'
            pd.DataFrame(
                chunk, columns=['vec_id', 'embedding']).to_json(
                path, orient='records', lines=True)
            os.utime(path, (base + 10 * i, base + 10 * i))
    return src


@pytest.mark.slow
class TestIncrementalEmbeddingDedup:
    def _run(self, spark, tmp_path, rows, n_chunks=2, threshold=0.9,
             checkpoint='ckpt'):
        from ons_utils_spark.streaming.incremental import (
            incremental_embedding_dedup)

        src = tmp_path / 'vecs_src'
        if not src.exists():
            _stage_vecs(tmp_path, rows, n_chunks)
        stream = (
            spark.readStream
            .schema('vec_id long, embedding array<double>')
            .option('maxFilesPerTrigger', 1)
            .json(str(src))
        )
        q = incremental_embedding_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / checkpoint),
            threshold=threshold,
        )
        q.awaitTermination(300)
        return spark.read.parquet(str(tmp_path / 'accepted'))

    def test_cross_batch_and_in_batch_clones_dropped(
            self, spark_session, tmp_path):
        e1 = [1.0, 0.0, 0.0, 0.0]
        e2 = [0.0, 1.0, 0.0, 0.0]
        e3 = [0.0, 0.0, 1.0, 0.0]
        rows = [
            (1, e1),   # chunk 1: original
            (2, e2),   # chunk 1: distinct
            (3, e1),   # chunk 1: in-batch clone of 1 -> dropped
            (10, e1),  # chunk 2: cross-batch clone of 1 -> dropped
            (11, e3),  # chunk 2: distinct -> kept
        ]
        accepted = self._run(spark_session, tmp_path, rows, n_chunks=2)
        ids = sorted(r['vec_id'] for r in accepted.collect())
        assert ids == [1, 2, 11], ids

    def test_zero_band_batch_replay_idempotent(
            self, spark_session, tmp_path):
        """A batch of empty embeddings bands to ZERO rows; commit
        detection must come from the null-band marker or a replay
        re-appends the batch's docs."""
        rows = [(1, []), (2, []), (3, [])]
        accepted = self._run(spark_session, tmp_path, rows, n_chunks=2)
        ids = sorted(r['vec_id'] for r in accepted.collect())
        assert ids == [1, 2, 3], ids
        # replay with a FRESH checkpoint: file source re-delivers the
        # same chunks as the same batch ids (= crash-before-commit)
        replayed = self._run(
            spark_session, tmp_path, rows, n_chunks=2,
            checkpoint='ckpt2')
        ids2 = sorted(r['vec_id'] for r in replayed.collect())
        assert ids2 == [1, 2, 3], ids2

    def test_mid_commit_crash_replay_exactly_once(
            self, spark_session, tmp_path):
        """Crash after the batch-0 band append but BEFORE the docs
        append (the other crash window): the replay must still write
        the docs (nothing to reconcile), skip the band re-append,
        and not candidate the batch against its own crashed rows."""
        from ons_utils_spark.operators.dedup import (
            embedding_band_index)

        e1 = [1.0, 0.0, 0.0, 0.0]
        e2 = [0.0, 1.0, 0.0, 0.0]
        e3 = [0.0, 0.0, 1.0, 0.0]
        rows = [(1, e1), (2, e2), (3, e1), (10, e1), (11, e3)]
        _stage_vecs(tmp_path, rows, 2)
        # crashed batch-0 state: begin sentinel + survivors {1, 2}
        # banded into the store (defaults match
        # incremental_embedding_dedup), no commit marker, no docs
        from ons_utils_spark.streaming.incremental import _marker_row
        surv = spark_session.createDataFrame(
            [(1, e1), (2, e2)], 'vec_id long, embedding array<double>')
        bands = embedding_band_index(surv, 'vec_id', 'embedding')
        (_marker_row(spark_session, bands.schema.fields, 0, 'begin')
            .write.mode('append').parquet(str(tmp_path / 'store')))
        (bands
            .withColumn('_batch_id', F.lit(0))
            .withColumn('_marker', F.lit(None).cast('string'))
            .write.mode('append')
            .parquet(str(tmp_path / 'store')))
        accepted = self._run(spark_session, tmp_path, rows, n_chunks=2)
        ids = sorted(r['vec_id'] for r in accepted.collect())
        assert ids == [1, 2, 11], ids
        store = spark_session.read.parquet(str(tmp_path / 'store'))
        # band rows were NOT duplicated by the replay
        per_id = (store.filter(F.col('band').isNotNull())
                  .groupBy('vec_id', 'band').count()
                  .filter(F.col('count') > 1).count())
        assert per_id == 0

    def test_zero_band_crash_after_docs_before_marker(
            self, spark_session, tmp_path):
        """Embedding twin of the zero-row hole: batch 0 is all-empty
        embeddings (zero band rows), crash after the docs append but
        before the commit marker — the begin sentinel is the only
        store evidence, and the replay must reconcile instead of
        re-appending the docs."""
        from ons_utils_spark.operators.dedup import (
            embedding_band_index)
        from ons_utils_spark.streaming.incremental import _marker_row

        rows = [(1, []), (2, []), (3, [])]
        _stage_vecs(tmp_path, rows, 2)
        surv = spark_session.createDataFrame(
            [(1, []), (2, [])], 'vec_id long, embedding array<double>')
        band_schema = embedding_band_index(
            surv, 'vec_id', 'embedding').schema.fields
        (_marker_row(spark_session, band_schema, 0, 'begin')
            .write.mode('append').parquet(str(tmp_path / 'store')))
        surv.write.mode('append').parquet(str(tmp_path / 'accepted'))
        accepted = self._run(spark_session, tmp_path, rows, n_chunks=2)
        got = [r['vec_id'] for r in accepted.collect()]
        assert sorted(got) == [1, 2, 3], got  # no duplicated docs

    def test_matches_eager_chunk_fold(self, spark_session, tmp_path):
        """Streaming result equals an independent numpy fold: per
        chunk, drop in-chunk near-dups (lower id wins), then drop
        anything with cosine >= threshold to the accepted-so-far set.
        Planted clones + seeded random 32-dim vectors, threshold 0.9
        — clones tie at cosine 1.0, organic pairs sit far below, so
        no float-boundary flakiness."""
        import numpy as np

        rng = np.random.default_rng(7)
        rows = [(i, rng.normal(size=32).tolist()) for i in range(30)]
        # plant clones: in-chunk (4 ~ 104 impossible; ids sorted ->
        # same-chunk ids adjacent), cross-chunk, triple
        vecs = dict(rows)
        rows += [
            (104, list(vecs[4])),    # cross-chunk clone of 4
            (105, list(vecs[5])),    # cross-chunk clone of 5
            (106, list(vecs[5])),    # second clone of 5 (same chunk
                                     # as 105 -> in-batch dropped)
        ]
        accepted = self._run(
            spark_session, tmp_path, rows, n_chunks=3, threshold=0.9)
        got = sorted(r['vec_id'] for r in accepted.collect())

        # eager numpy fold over the same id-ordered chunks
        ordered = sorted(rows, key=lambda r: r[0])
        per = (len(ordered) + 2) // 3
        def unit(v):
            a = np.asarray(v, dtype=np.float64)
            n = np.linalg.norm(a)
            return a / (n if n else 1.0)
        store = []  # list of (id, unit_vec) accepted so far
        kept = []
        for i in range(3):
            chunk = ordered[i * per:(i + 1) * per]
            survivors = []
            for vid, v in chunk:  # lower id first within the chunk
                u = unit(v)
                if any(float(u @ su) >= 0.9 for _, su in survivors):
                    continue  # in-batch near-dup of a lower id
                survivors.append((vid, u))
            for vid, u in survivors:
                if any(float(u @ su) >= 0.9 for _, su in store):
                    continue  # near-dup of an earlier batch
                store.append((vid, u))
                kept.append(vid)
        assert got == sorted(kept), (len(got), len(kept))


@pytest.mark.slow
class TestIncrementalExactDedup:
    """Exact-key (canonical-URL / fingerprint) dedup-at-ingest."""

    def _stage_keys(self, tmp_path, rows, n_chunks=2):
        """rows = (doc_id, key); staged as id-ordered json chunks."""
        import os
        import time

        import pandas as pd

        src = tmp_path / 'docs_src'
        src.mkdir()
        ordered = sorted(rows, key=lambda r: r[0])
        per = (len(ordered) + n_chunks - 1) // n_chunks
        base = time.time() - 1000
        for i in range(n_chunks):
            chunk = ordered[i * per:(i + 1) * per]
            if chunk:
                path = src / f'{i}.json'
                pd.DataFrame(chunk, columns=['doc_id', 'key']) \
                    .to_json(path, orient='records', lines=True)
                os.utime(path, (base + 10 * i, base + 10 * i))
        return src

    def _run(self, spark, tmp_path):
        from ons_utils_spark.streaming.incremental import (
            incremental_exact_dedup)

        stream = (
            spark.readStream
            .schema('doc_id long, key string')
            .option('maxFilesPerTrigger', 1)
            .json(str(tmp_path / 'docs_src'))
        )
        q = incremental_exact_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt'),
        )
        q.awaitTermination(300)
        return spark.read.parquet(str(tmp_path / 'accepted'))

    def test_in_batch_and_cross_batch_exact_dedup(
            self, spark_session, tmp_path):
        rows = [
            (1, 'https://a.com/p'),
            (2, 'https://a.com/p'),    # in-batch dup of 1
            (3, 'https://b.com/q'),
            (10, 'https://a.com/p'),   # cross-batch dup of 1
            (11, 'https://c.com/r'),
        ]
        self._stage_keys(tmp_path, rows, n_chunks=2)
        got = sorted(r['doc_id'] for r in self._run(
            spark_session, tmp_path).collect())
        assert got == [1, 3, 11], got

    def test_mid_commit_crash_replay_exactly_once(
            self, spark_session, tmp_path):
        """Crash after batch-0's key append + docs append but before
        the commit marker: the replay must not duplicate accepted
        rows and must commit the marker."""
        from ons_utils_spark.streaming.incremental import _marker_row

        rows = [
            (1, 'https://a.com/p'),
            (2, 'https://b.com/q'),
            (10, 'https://a.com/p'),   # later dup of 1
            (11, 'https://c.com/r'),
        ]
        self._stage_keys(tmp_path, rows, n_chunks=2)
        surv = spark_session.createDataFrame(
            [(1, 'https://a.com/p'), (2, 'https://b.com/q')],
            'doc_id long, key string')
        keys = surv.select('key', F.col('doc_id').alias('id'))
        (_marker_row(spark_session, keys.schema.fields, 0, 'begin')
            .write.mode('append').parquet(str(tmp_path / 'store')))
        (keys.withColumn('_batch_id', F.lit(0))
            .withColumn('_marker', F.lit(None).cast('string'))
            .write.mode('append').parquet(str(tmp_path / 'store')))
        surv.write.mode('append').parquet(str(tmp_path / 'accepted'))

        got = sorted(r['doc_id'] for r in self._run(
            spark_session, tmp_path).collect())
        assert got == [1, 2, 11], got  # no dup 1/2; 10 dropped
        store = spark_session.read.parquet(str(tmp_path / 'store'))
        marks = store.filter(F.col('_marker') == 'commit') \
            .groupBy('_batch_id').count().collect()
        assert {r['_batch_id']: r['count'] for r in marks} \
            == {0: 1, 1: 1}


@pytest.mark.slow
class TestCompactIncrementalStore:
    def _drive(self, spark, src_dir, out_dir, store_dir, ckpt):
        from ons_utils_spark.streaming.incremental import (
            incremental_exact_dedup)
        stream = (
            spark.readStream
            .schema('doc_id long, text string')
            .option('maxFilesPerTrigger', 1)
            .json(str(src_dir))
        )
        q = incremental_exact_dedup(
            stream, out_dir=str(out_dir), store_dir=str(store_dir),
            checkpoint=str(ckpt), id_col='doc_id', key_col='text')
        q.awaitTermination(300)

    def test_compacted_store_continues_identically(
            self, spark_session, tmp_path):
        import os
        import shutil

        from ons_utils_spark.streaming.incremental import (
            _batch_state, compact_incremental_store)

        docs = [(1, 'aaa'), (2, 'bbb'),      # chunk 0
                (3, 'aaa'), (4, 'ccc'),      # chunk 1 (3 is a dup)
                (5, 'ddd'), (6, 'bbb')]      # chunk 2 (6 is a dup)
        _stage(tmp_path, docs, n_chunks=3)
        self._drive(spark_session, tmp_path / 'docs_src',
                    tmp_path / 'acc', tmp_path / 'store',
                    tmp_path / 'ck1')
        acc = sorted(r['doc_id'] for r in spark_session.read
                     .parquet(str(tmp_path / 'acc')).collect())
        assert acc == [1, 2, 4, 5]

        report = compact_incremental_store(
            spark_session, str(tmp_path / 'store'),
            str(tmp_path / 'store2'))
        assert report['batches'] == 3
        assert report['compacted_batches'] == 2
        assert report['target_batch_id'] == 0

        store2 = spark_session.read.parquet(str(tmp_path / 'store2'))
        store1 = spark_session.read.parquet(str(tmp_path / 'store'))
        # same keys survive; merged data lives under batch 0; the
        # newest batch (2) is untouched; markers keep their ids
        keys = lambda df: sorted(  # noqa: E731
            r['text'] for r in df.filter(
                F.col('_marker').isNull()).select('text').collect())
        assert keys(store2) == keys(store1)
        data_bids = {r['_batch_id'] for r in store2.filter(
            F.col('_marker').isNull()).select('_batch_id')
            .distinct().collect()}
        assert data_bids == {0, 2}
        for b in (0, 1, 2):
            committed, partial, _ = _batch_state(store2, b)
            assert committed and not partial
        # fewer data files
        n_files = lambda d: sum(  # noqa: E731
            f.endswith('.parquet')
            for _, _, fs in os.walk(str(d)) for f in fs)
        assert n_files(tmp_path / 'store2') < n_files(
            tmp_path / 'store')

        # continuation equivalence under the REAL operating recipe
        # (stop stream → compact → swap store dir → restart with
        # the SAME checkpoint): a 4th chunk lands in the source and
        # the resumed stream must accept exactly the same rows
        # against the compacted store as against the original
        import time

        import pandas as pd

        more = [(7, 'aaa'), (8, 'eee')]   # 7 is a historical dup
        p4 = tmp_path / 'docs_src' / '3.json'
        pd.DataFrame(more, columns=['doc_id', 'text']).to_json(
            p4, orient='records', lines=True)
        os.utime(p4, (time.time() + 60,) * 2)
        ids = lambda d: sorted(  # noqa: E731
            r['doc_id'] for r in spark_session.read
            .parquet(str(d)).collect())
        for tag, store in (('a', 'store'), ('b', 'store2')):
            out = tmp_path / f'acc4{tag}'
            shutil.copytree(tmp_path / 'acc', out)
            ck = tmp_path / f'ck4{tag}'
            shutil.copytree(tmp_path / 'ck1', ck)
            self._drive(spark_session, tmp_path / 'docs_src', out,
                        tmp_path / store, ck)
            assert ids(out) == [1, 2, 4, 5, 8], tag

    def test_guards(self, spark_session, tmp_path):
        from ons_utils_spark.streaming.incremental import (
            compact_incremental_store)
        with pytest.raises(ValueError, match='NEW location'):
            compact_incremental_store(
                spark_session, str(tmp_path / 's'), str(tmp_path / 's'))
        # a plain parquet dir is not a marker-protocol store
        spark_session.range(3).write.parquet(str(tmp_path / 'p'))
        with pytest.raises(ValueError, match='marker-protocol'):
            compact_incremental_store(
                spark_session, str(tmp_path / 'p'),
                str(tmp_path / 'p2'))


class TestIncrementalLineDedup:
    """Line-level boilerplate removal at ingest: docs pass through
    with rewritten text; the fold equals batch line_dedup."""

    def _stage_docs(self, tmp_path, rows, n_chunks=2):
        import os
        import time

        import pandas as pd

        src = tmp_path / 'docs_src'
        src.mkdir()
        ordered = sorted(rows, key=lambda r: r[0])
        per = (len(ordered) + n_chunks - 1) // n_chunks
        base = time.time() - 1000
        for i in range(n_chunks):
            chunk = ordered[i * per:(i + 1) * per]
            if chunk:
                path = src / f'{i}.json'
                pd.DataFrame(chunk, columns=['doc_id', 'text']) \
                    .to_json(path, orient='records', lines=True)
                os.utime(path, (base + 10 * i, base + 10 * i))
        return src

    def _run(self, spark, tmp_path, **kw):
        from ons_utils_spark.streaming.incremental import (
            incremental_line_dedup)

        stream = (
            spark.readStream
            .schema('doc_id long, text string')
            .option('maxFilesPerTrigger', 1)
            .json(str(tmp_path / 'docs_src'))
        )
        q = incremental_line_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt'),
            **kw,
        )
        q.awaitTermination(300)
        return spark.read.parquet(str(tmp_path / 'accepted'))

    ROWS = [
        (1, 'unique first line one\ncookie banner text here'),
        (2, 'cookie banner text here\nown line of doc two'),
        (10, 'cookie banner text here\nfresh line in doc ten'),
        (11, 'unique first line one\nanother fresh line'),
    ]

    def test_matches_batch_line_dedup(self, spark_session, tmp_path):
        from ons_utils_spark.operators.dedup import line_dedup

        self._stage_docs(tmp_path, self.ROWS, n_chunks=2)
        got = {r['doc_id']: r['text'] for r in self._run(
            spark_session, tmp_path).collect()}
        want = {r['doc_id']: r['text'] for r in line_dedup(
            spark_session.createDataFrame(
                self.ROWS, 'doc_id long, text string'),
            'doc_id', 'text').collect()}
        assert got == want
        # the cross-batch boilerplate died in docs 2/10/11
        assert got[1] == self.ROWS[0][1]
        assert got[2] == 'own line of doc two'
        assert got[10] == 'fresh line in doc ten'
        assert got[11] == 'another fresh line'

    def test_row_count_preserved_and_emptied_doc(
            self, spark_session, tmp_path):
        rows = [(1, 'only line'), (10, 'only line')]
        self._stage_docs(tmp_path, rows, n_chunks=2)
        got = {r['doc_id']: r['text'] for r in self._run(
            spark_session, tmp_path).collect()}
        assert got == {1: 'only line', 10: ''}

    def test_min_line_chars_exempt_and_unstored(
            self, spark_session, tmp_path):
        rows = [(1, 'yes.\nlong shared boilerplate line'),
                (10, 'yes.\nlong shared boilerplate line')]
        self._stage_docs(tmp_path, rows, n_chunks=2)
        got = {r['doc_id']: r['text'] for r in self._run(
            spark_session, tmp_path, min_line_chars=10).collect()}
        assert got[1] == rows[0][1]
        assert got[10] == 'yes.'  # short line survives everywhere
        store = spark_session.read.parquet(str(tmp_path / 'store'))
        keys = store.filter(F.col('_marker').isNull())
        import hashlib
        short_md5 = hashlib.md5(b'yes.').hexdigest()
        assert keys.filter(F.col('key') == short_md5).count() == 0

    def test_null_in_other_column_keeps_text(
            self, spark_session, tmp_path):
        """The rebuilt text joins back on every non-text column; a
        NULL there must still match, or the doc loses every line."""
        from ons_utils_spark.streaming.incremental import (
            incremental_line_dedup)

        src = tmp_path / 'docs_src'
        src.mkdir()
        (src / '0.json').write_text(
            '{"doc_id": 1, "url": "https://a.example", '
            '"text": "shared line\\nown line one"}\n'
            '{"doc_id": 2, "url": null, '
            '"text": "shared line\\nown line two"}\n')
        stream = (
            spark_session.readStream
            .schema('doc_id long, url string, text string')
            .json(str(src))
        )
        incremental_line_dedup(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt'),
        ).awaitTermination(300)
        got = {r['doc_id']: (r['url'], r['text'])
               for r in spark_session.read.parquet(
                   str(tmp_path / 'accepted')).collect()}
        assert got == {
            1: ('https://a.example', 'shared line\nown line one'),
            2: (None, 'own line two')}

    def test_replay_is_idempotent(self, spark_session, tmp_path):
        from ons_utils_spark.streaming.incremental import _marker_row

        self._stage_docs(tmp_path, self.ROWS, n_chunks=2)
        # pre-commit batch 0 fully (simulated earlier run), then run
        import hashlib
        b0 = [r for r in self.ROWS if r[0] < 10]
        lines = []
        seen = set()
        for did, text in b0:
            for pos, ln in enumerate(text.split('\n')):
                h = hashlib.md5(ln.encode()).hexdigest()
                if h not in seen:
                    seen.add(h)
                    lines.append((h, did))
        keys = spark_session.createDataFrame(
            lines, 'key string, id long')
        (_marker_row(spark_session, keys.schema.fields, 0, 'begin')
            .write.mode('append').parquet(str(tmp_path / 'store')))
        (keys.withColumn('_batch_id', F.lit(0))
            .withColumn('_marker', F.lit(None).cast('string'))
            .write.mode('append').parquet(str(tmp_path / 'store')))
        from ons_utils_spark.operators.dedup import line_dedup
        docs0 = line_dedup(
            spark_session.createDataFrame(
                b0, 'doc_id long, text string'), 'doc_id', 'text')
        docs0.write.mode('append').parquet(str(tmp_path / 'accepted'))
        (_marker_row(spark_session, keys.schema.fields, 0, 'commit')
            .write.mode('append').parquet(str(tmp_path / 'store')))

        got = {r['doc_id']: r['text'] for r in self._run(
            spark_session, tmp_path).collect()}
        # batch 0 replay skipped (no duplicate rows), batch 1 folded
        assert sorted(got) == [1, 2, 10, 11]
        assert got[10] == 'fresh line in doc ten'
        assert got[11] == 'another fresh line'


def _kept_rdds(spark) -> set:
    """Ids of every persisted RDD, local checkpoints included.  Tests
    compare the ids a batch adds, so RDDs that earlier tests left to
    the garbage collector may be freed meanwhile without effect."""
    return set(spark.sparkContext._jsc.getPersistentRDDs()
               .keySet().toArray())


@pytest.mark.slow
class TestPerBatchRelease:
    """Every frame a filter step keeps, and every lineage cut of the
    operators it calls, is unpersisted when its batch ends, without
    waiting for garbage collection — also when the step raises."""

    DOCS = [
        (1, TestIncrementalMinhashDedup.BASE),
        (2, TestIncrementalMinhashDedup.OTHER),
        (10, TestIncrementalMinhashDedup.BASE + ' extra tail'),
        (11, TestIncrementalMinhashDedup.OTHER + ' more'),
    ]
    VECS = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
            (10, [1.0, 0.01, 0.0, 0.0]), (11, [0.0, 0.0, 1.0, 0.0])]

    @pytest.mark.parametrize('op, kw', [
        ('incremental_exact_dedup', {'key_col': 'text'}),
        ('incremental_winnow_dedup', {'min_shared': 5}),
        ('incremental_minhash_dedup', {}),
        ('incremental_simhash_dedup', {}),
        ('incremental_embedding_dedup', {}),
        ('incremental_line_dedup', {}),
    ])
    def test_operator_releases_kept_frames(
            self, spark_session, tmp_path, op, kw):
        from ons_utils_spark.streaming import incremental

        start = _kept_rdds(spark_session)
        if op == 'incremental_embedding_dedup':
            src = _stage_vecs(tmp_path, self.VECS)
            schema = 'vec_id long, embedding array<double>'
        else:
            src = _stage(tmp_path, self.DOCS, n_chunks=2)
            schema = 'doc_id long, text string'
        stream = (
            spark_session.readStream.schema(schema)
            .option('maxFilesPerTrigger', 1).json(str(src))
        )
        getattr(incremental, op)(
            stream,
            out_dir=str(tmp_path / 'accepted'),
            store_dir=str(tmp_path / 'store'),
            checkpoint=str(tmp_path / 'ckpt'),
            **kw,
        ).awaitTermination(300)
        assert spark_session.read.parquet(
            str(tmp_path / 'accepted')).count() >= 2
        assert not _kept_rdds(spark_session) - start

    def test_raising_filter_step_releases_kept_frames(
            self, spark_session, tmp_path):
        from pyspark.errors import StreamingQueryException

        from ons_utils_spark.operators.lineage import keep
        from ons_utils_spark.streaming.incremental import (
            _exactly_once_sink)

        def filter_step(batch_df, store):
            keep(batch_df.select('doc_id')).count()
            assert _kept_rdds(spark_session) - start
            raise RuntimeError('filter step failed')

        start = _kept_rdds(spark_session)
        src = _stage(tmp_path, self.DOCS, n_chunks=1)
        stream = spark_session.readStream.schema(
            'doc_id long, text string').json(str(src))
        q = _exactly_once_sink(
            stream, filter_step, str(tmp_path / 'accepted'),
            str(tmp_path / 'store'), str(tmp_path / 'ckpt'),
            'doc_id', ('doc_id',), True)
        with pytest.raises(StreamingQueryException,
                           match='filter step failed'):
            q.awaitTermination(300)
        assert not _kept_rdds(spark_session) - start
        assert not (tmp_path / 'store').exists()
