"""Tests for similarity search (brute-force + LSH)."""
import pytest
from pyspark.sql import functions as F

from ons_utils_spark.operators import similarity as sim


@pytest.fixture
def corpus(spark_session):
    emb = spark_session.read.parquet(
        '/root/testdata/sf0.001/embeddings.parquet'
    )
    return emb


class TestCosineTopK:
    def test_self_similarity_is_top(self, corpus):
        queries = corpus.filter(F.col('vec_id') == 0).select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )
        out = sim.cosine_topk(corpus, queries, k=5).collect()
        assert out[0]['vec_id'] == 0  # itself, cosine 1.0
        assert out[0]['cosine'] == pytest.approx(1.0, abs=1e-6)
        cos = [r['cosine'] for r in out]
        assert cos == sorted(cos, reverse=True)

    def test_k_rows_per_query(self, corpus):
        queries = corpus.filter(F.col('vec_id') < 4).select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )
        out = sim.cosine_topk(corpus, queries, k=3)
        counts = out.groupBy('query_id').count().collect()
        assert all(r['count'] == 3 for r in counts)
        assert len(counts) == 4


class TestLshTopK:
    def test_recall_vs_brute_force(self, corpus):
        """LSH with few planes must recover a decent share of the true
        top-10 (same bucket ⇒ similar vectors)."""
        queries = corpus.filter(F.col('vec_id') < 5).select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )
        exact = sim.cosine_topk(corpus, queries, k=10)
        approx = sim.lsh_topk(corpus, queries, k=10, dim=64, num_planes=2)
        exact_set = {(r['query_id'], r['vec_id'])
                     for r in exact.collect()}
        approx_set = {(r['query_id'], r['vec_id'])
                      for r in approx.collect()}
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.3, f'recall too low: {recall}'

    def test_multiprobe_raises_recall(self, corpus):
        """Probing the smallest-margin bit flips must recover at least
        as much of the exact top-10 as single-bucket LSH, and strictly
        more candidates."""
        queries = corpus.filter(F.col('vec_id') < 5).select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )
        exact = {(r['query_id'], r['vec_id'])
                 for r in sim.cosine_topk(corpus, queries, k=10).collect()}

        def recall(probes):
            got = {(r['query_id'], r['vec_id'])
                   for r in sim.lsh_topk(
                       corpus, queries, k=10, dim=64, num_planes=4,
                       probes=probes).collect()}
            return len(exact & got) / len(exact)

        # Deterministic (hyperplanes are seed-derived, data fixed):
        # measured 0.26 @ probes=0 vs 0.58 @ probes=4 on sf0.001.
        r0, r4 = recall(0), recall(4)
        assert r4 > r0
        assert r4 >= 0.5, f'multi-probe recall too low: {r4}'

    def test_multiprobe_no_duplicate_pairs(self, corpus):
        queries = corpus.filter(F.col('vec_id') < 3).select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )
        out = sim.lsh_topk(corpus, queries, k=1000, dim=64,
                           num_planes=4, probes=4).collect()
        pairs = [(r['query_id'], r['vec_id']) for r in out]
        assert len(pairs) == len(set(pairs))

    def test_probes_validation(self, corpus):
        queries = corpus.limit(1).select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )
        with pytest.raises(ValueError, match='probes'):
            sim.lsh_topk(corpus, queries, num_planes=4, probes=5)

    def test_bucket_prunes_corpus(self, corpus):
        bucketed = sim.random_hyperplane_lsh(
            corpus, dim=64, num_planes=6
        )
        n_buckets = bucketed.select('lsh_bucket').distinct().count()
        assert n_buckets > 4  # corpus actually splits

    def test_64_plane_signature_no_ansi_overflow(self, corpus):
        """Bit 63 is the long sign bit: shiftleft(1L, 63) must produce
        a (negative) bucket id, not an ANSI cast-overflow error — the
        F.pow(2.0, 63)-based formulation failed here."""
        bucketed = sim.random_hyperplane_lsh(
            corpus.limit(50), dim=64, num_planes=64
        )
        rows = bucketed.select('lsh_bucket').collect()
        assert len(rows) == 50
        # With 64 independent sign bits some signature must set bit 63
        # (probability of none ~2^-50 over 50 rows).
        assert any(r['lsh_bucket'] < 0 for r in rows)

    def test_num_planes_validation(self, corpus):
        with pytest.raises(ValueError, match='num_planes'):
            sim.random_hyperplane_lsh(corpus, dim=64, num_planes=65)


class TestIvfTopK:
    @pytest.fixture
    def qset(self, corpus):
        return corpus.filter(F.col('vec_id') < 5).select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )

    def test_full_probe_is_exact(self, corpus, qset):
        """nprobe == n_clusters scans every cluster list — the result
        must equal brute force exactly."""
        exact = {(r['query_id'], r['vec_id'], round(r['cosine'], 9))
                 for r in sim.cosine_topk(corpus, qset, k=10).collect()}
        ivf = {(r['query_id'], r['vec_id'], round(r['cosine'], 9))
               for r in sim.ivf_topk(corpus, qset, k=10, n_clusters=8,
                                     nprobe=8).collect()}
        assert ivf == exact

    def test_partial_probe_recall(self, corpus, qset):
        exact = {(r['query_id'], r['vec_id'])
                 for r in sim.cosine_topk(corpus, qset, k=10).collect()}

        def recall(nprobe):
            got = {(r['query_id'], r['vec_id'])
                   for r in sim.ivf_topk(corpus, qset, k=10,
                                         n_clusters=8,
                                         nprobe=nprobe).collect()}
            return len(exact & got) / len(exact)

        r1, r4 = recall(1), recall(4)
        assert r4 >= r1
        assert r4 >= 0.5, f'IVF nprobe=4/8 recall too low: {r4}'

    def test_centroids_deterministic(self, corpus):
        import numpy as np
        c1 = sim.ivf_centroids(corpus, n_clusters=4, iters=1)
        c2 = sim.ivf_centroids(corpus, n_clusters=4, iters=1)
        assert c1.shape == (4, 64)
        assert np.array_equal(c1, c2)

    def test_precomputed_centroids_skip_kmeans(self, corpus, qset):
        cents = sim.ivf_centroids(corpus, n_clusters=8, iters=1)
        out = sim.ivf_topk(corpus, qset, k=3, n_clusters=8, nprobe=8,
                           centroids=cents)
        counts = out.groupBy('query_id').count().collect()
        assert all(r['count'] == 3 for r in counts)

    def test_assign_covers_all_clusters_reasonably(self, corpus):
        cents = sim.ivf_centroids(corpus, n_clusters=8, iters=2)
        assigned = sim.ivf_assign(corpus, cents)
        n_used = assigned.select('__ivf_c').distinct().count()
        assert n_used >= 4  # corpus actually spreads over clusters

    def test_nprobe_validation(self, corpus, qset):
        with pytest.raises(ValueError, match='nprobe'):
            sim.ivf_topk(corpus, qset, n_clusters=4, nprobe=5)

    def test_assign_null_embedding_yields_null_not_crash(
            self, spark_session):
        import numpy as np
        cents = np.array([[1.0, 0.0], [0.0, 1.0]])
        df = spark_session.createDataFrame(
            [(1, [0.9, 0.1]), (2, None), (3, []), (4, [0.1, 0.9])],
            'vec_id bigint, embedding array<float>')
        got = {r['vec_id']: r['__ivf_c']
               for r in sim.ivf_assign(df, cents).collect()}
        assert got[1] == 0 and got[4] == 1
        assert got[2] is None and got[3] is None

    def test_assign_multi_drops_null_embeddings(self, spark_session):
        import numpy as np
        cents = np.array([[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]])
        df = spark_session.createDataFrame(
            [(1, [0.9, 0.1]), (2, None), (3, [0.1, 0.9])],
            'vec_id bigint, embedding array<float>')
        out = sim.ivf_assign_multi(df, cents, n=2).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r['vec_id'], []).append(r['__ivf_c'])
        assert sorted(by_id) == [1, 3]     # null row dropped, no crash
        assert by_id[1][0] == 0 and by_id[3][0] == 1
        assert all(len(v) == 2 for v in by_id.values())


class TestDegenerateVectors:
    def test_zero_norm_and_null_dont_crash_ansi(self, spark_session):
        """ANSI mode turns divide-by-zero into a job-killing error;
        cosine must yield NULL for zero/NULL vectors instead."""
        from ons_utils_spark import cosine_topk
        corpus = spark_session.createDataFrame(
            [(1, [1.0, 0.0]), (2, None), (3, [0.0, 0.0]),
             (4, [0.6, 0.8])],
            'vec_id bigint, embedding array<float>')
        queries = spark_session.createDataFrame(
            [(0, [1.0, 0.0])],
            'query_id bigint, query_vec array<float>')
        rows = {r['vec_id']: r['cosine']
                for r in cosine_topk(corpus, queries, k=4).collect()}
        assert rows[1] == 1.0
        assert abs(rows[4] - 0.6) < 1e-6
        assert rows.get(2) is None and rows.get(3) is None


class TestProductQuantization:
    @pytest.fixture
    def qset(self, corpus):
        return corpus.filter(F.col('vec_id') < 5).select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )

    def test_codes_are_m_bytes(self, corpus):
        books = sim.pq_train(corpus, m=8, k=16, sample_size=256)
        assert books.shape == (8, 16, 8)  # 64-dim / 8 subspaces
        codes = sim.pq_encode(corpus.limit(20), books)
        rows = codes.select('pq_code').collect()
        assert all(len(r['pq_code']) == 8 for r in rows)

    def test_train_deterministic(self, corpus):
        import numpy as np
        b1 = sim.pq_train(corpus, m=8, k=16, sample_size=256)
        b2 = sim.pq_train(corpus, m=8, k=16, sample_size=256)
        assert np.array_equal(b1, b2)

    def test_recall_vs_brute_force(self, corpus, qset):
        # Canonical byte-code config (k=256 centroids per subspace).
        # These synthetic embeddings are near-orthogonal — PQ's worst
        # case; deterministic measured recall 0.70 here.
        books = sim.pq_train(corpus, m=8, k=256, sample_size=4096)
        codes = sim.pq_encode(corpus, books)
        approx = {(r['query_id'], r['vec_id'])
                  for r in sim.pq_topk(codes, qset, books, k=10)
                  .collect()}
        exact = {(r['query_id'], r['vec_id'])
                 for r in sim.cosine_topk(corpus, qset, k=10)
                 .collect()}
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.5, f'PQ recall too low: {recall}'

    def test_self_match_top1(self, corpus, qset):
        """A query's own (encoded) vector should rank at/near the top
        — its ADC score is the max possible for its own codes."""
        books = sim.pq_train(corpus, m=8, k=16, sample_size=512)
        codes = sim.pq_encode(corpus, books)
        top = sim.pq_topk(codes, qset, books, k=3).collect()
        by_q = {}
        for r in top:
            by_q.setdefault(r['query_id'], []).append(r['vec_id'])
        hits = sum(1 for q, ids in by_q.items() if q in ids)
        assert hits >= 4  # 5 queries; codes collide rarely


class TestIvfPq:
    @pytest.fixture
    def qset(self, corpus):
        return corpus.filter(F.col('vec_id') < 5).select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )

    def test_full_probe_equals_pq(self, corpus, qset):
        """nprobe == n_clusters scans every list — IVF-PQ must return
        exactly what plain PQ returns (same codes, same tables)."""
        books = sim.pq_train(corpus, m=8, k=256, sample_size=4096)
        codes = sim.pq_encode(corpus, books)
        pq = {(r['query_id'], r['vec_id'], round(r['pq_score'], 9))
              for r in sim.pq_topk(codes, qset, books, k=10).collect()}
        ivfpq = {(r['query_id'], r['vec_id'], round(r['pq_score'], 9))
                 for r in sim.ivf_pq_topk(
                     corpus, qset, books, k=10, n_clusters=8,
                     nprobe=8).collect()}
        assert ivfpq == pq

    def test_partial_probe_recall_and_pruning(self, corpus, qset):
        books = sim.pq_train(corpus, m=8, k=256, sample_size=4096)
        full = {(r['query_id'], r['vec_id'])
                for r in sim.ivf_pq_topk(
                    corpus, qset, books, k=10, n_clusters=8,
                    nprobe=8).collect()}
        part = {(r['query_id'], r['vec_id'])
                for r in sim.ivf_pq_topk(
                    corpus, qset, books, k=10, n_clusters=8,
                    nprobe=4).collect()}
        recall = len(full & part) / len(full)
        assert recall >= 0.4, f'IVF-PQ nprobe=4/8 recall: {recall}'

    def test_nprobe_validation(self, corpus, qset):
        books = sim.pq_train(corpus, m=8, k=16, sample_size=256)
        with pytest.raises(ValueError, match='nprobe'):
            sim.ivf_pq_topk(corpus, qset, books, n_clusters=4,
                            nprobe=9)

    def test_recall_vs_brute_force(self, corpus, qset):
        """End-to-end IVF-PQ against exact cosine on the real
        embeddings table: both layers of approximation (coarse probe
        pruning + 8-byte codes) together must still recover half the
        true top-10."""
        books = sim.pq_train(corpus, m=8, k=256, sample_size=4096)
        exact = {(r['query_id'], r['vec_id'])
                 for r in sim.cosine_topk(corpus, qset, k=10)
                 .collect()}
        approx = {(r['query_id'], r['vec_id'])
                  for r in sim.ivf_pq_topk(
                      corpus, qset, books, k=10, n_clusters=8,
                      nprobe=6).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5, f'IVF-PQ vs brute recall: {recall}'


class TestQueryBatchGuards:
    """pq_topk / ivf_pq_topk collect the query set to the driver —
    oversized query tables must fail loudly, not OOM."""

    def test_pq_topk_raises_over_cap(self, corpus):
        books = sim.pq_train(corpus, m=8, k=16, sample_size=256)
        codes = sim.pq_encode(corpus, books)
        queries = corpus.select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )
        with pytest.raises(ValueError, match='max_query_rows'):
            sim.pq_topk(codes, queries, books, k=3, max_query_rows=10)

    def test_ivf_pq_topk_raises_over_cap(self, corpus):
        books = sim.pq_train(corpus, m=8, k=16, sample_size=256)
        queries = corpus.select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )
        with pytest.raises(ValueError, match='max_query_rows'):
            sim.ivf_pq_topk(corpus, queries, books, k=3,
                            n_clusters=4, nprobe=2,
                            max_query_rows=10)

    def test_cap_allows_exact_batch_size(self, corpus):
        """A batch exactly at the cap passes (limit n+1 probe)."""
        books = sim.pq_train(corpus, m=8, k=16, sample_size=256)
        codes = sim.pq_encode(corpus, books)
        queries = corpus.filter(F.col('vec_id') < 5).select(
            F.col('vec_id').alias('query_id'),
            F.col('embedding').alias('query_vec'),
        )
        out = sim.pq_topk(codes, queries, books, k=3,
                          max_query_rows=5)
        assert out.groupBy('query_id').count().count() == 5


class TestHardNegatives:
    """Mined negatives = exact top-k AFTER excluding positives."""

    @pytest.fixture
    def tiny_setup(self, spark_session):
        import random
        rng = random.Random(9)
        corpus = [(i, [rng.uniform(-1, 1) for _ in range(8)])
                  for i in range(30)]
        queries = [(0, corpus[4][1]), (1, corpus[9][1])]
        c = spark_session.createDataFrame(
            corpus, 'vec_id bigint, embedding array<double>')
        q = spark_session.createDataFrame(
            queries, 'query_id bigint, query_vec array<double>')
        return c, q

    def test_positives_are_excluded(self, tiny_setup, spark_session):
        from ons_utils_spark.operators.similarity import (
            cosine_topk, hard_negatives)
        c, q = tiny_setup
        # each query's positive is its own source vector (cosine 1)
        pos = spark_session.createDataFrame(
            [(0, 4), (1, 9)], 'query_id bigint, vec_id bigint')
        out = hard_negatives(c, q, pos, k=5).collect()
        got = {(r['query_id'], r['vec_id']) for r in out}
        assert (0, 4) not in got and (1, 9) not in got
        # ranks are 1..5 per query and match the exact ranking with
        # the positive removed
        exact = cosine_topk(c, q, k=6).collect()
        for qid, pid in ((0, 4), (1, 9)):
            want = [r['vec_id'] for r in sorted(
                (r for r in exact if r['query_id'] == qid),
                key=lambda r: (-r['cosine'], r['vec_id']))
                if r['vec_id'] != pid][:5]
            mined = [r['vec_id'] for r in sorted(
                (r for r in out if r['query_id'] == qid),
                key=lambda r: r['rank'])]
            assert mined == want

    def test_k_scan_validation(self, tiny_setup, spark_session):
        from ons_utils_spark.operators.similarity import hard_negatives
        c, q = tiny_setup
        pos = spark_session.createDataFrame(
            [(0, 4)], 'query_id bigint, vec_id bigint')
        with pytest.raises(ValueError, match='k_scan'):
            hard_negatives(c, q, pos, k=5, k_scan=5)


class TestHyperplaneSignatureUdf:
    """The Arrow GEMM signature must agree with the JVM expression
    form on real embeddings (sign flips require a plane dot within
    ~1 ulp of zero — not present in the test corpus), and identical
    vectors must always share a bucket within one implementation."""

    def test_matches_jvm_on_real_embeddings(self, spark_session):
        from ons_utils_spark.operators.similarity import (
            hyperplane_signature_udf, random_hyperplane_signature)
        from ons_utils_spark.sources.readers import read_parquet
        emb = read_parquet(
            spark_session, '/root/testdata/sf0.001/embeddings.parquet')
        both = emb.select(
            'vec_id',
            hyperplane_signature_udf(64, 16)(
                F.col('embedding')).alias('arrow'),
            random_hyperplane_signature(
                F.col('embedding'), 64, 16).alias('jvm'),
        ).collect()
        assert len(both) > 0
        mismatches = [r for r in both if r['arrow'] != r['jvm']]
        assert not mismatches, mismatches[:5]

    def test_dots_struct_consistent_with_plain(self, spark_session):
        from ons_utils_spark.operators.similarity import (
            hyperplane_signature_dots_udf, hyperplane_signature_udf)
        from ons_utils_spark.sources.readers import read_parquet
        emb = read_parquet(
            spark_session, '/root/testdata/sf0.001/embeddings.parquet'
        ).limit(50)
        rows = emb.select(
            hyperplane_signature_udf(64, 8)(
                F.col('embedding')).alias('plain'),
            hyperplane_signature_dots_udf(64, 8)(
                F.col('embedding')).alias('sd'),
        ).collect()
        for r in rows:
            assert r['plain'] == r['sd']['bucket']
            assert len(r['sd']['dots']) == 8


class TestLshNullEmbeddings:
    def test_null_embedding_rows_are_excluded_not_crashing(
            self, spark_session):
        """A NULL embedding must yield a NULL bucket (dropped by the
        bucket equi-join) exactly like the JVM expression form — not
        a np.stack crash inside the pandas UDF."""
        from ons_utils_spark.operators.similarity import (
            hyperplane_signature_udf, lsh_topk)
        rows = [(1, [float(i) for i in range(8)]),
                (2, None),
                (3, [float(8 - i) for i in range(8)])]
        df = spark_session.createDataFrame(
            rows, 'vec_id long, embedding array<double>')
        got = {r['vec_id']: r['b'] for r in df.select(
            'vec_id',
            hyperplane_signature_udf(8, 4)(
                F.col('embedding')).alias('b')).collect()}
        assert got[2] is None
        assert got[1] is not None and got[3] is not None
        queries = spark_session.createDataFrame(
            [(100, [float(i) for i in range(8)])],
            'query_id long, query_vec array<double>')
        out = lsh_topk(df, queries, k=5, dim=8, num_planes=4)
        ids = {r['vec_id'] for r in out.collect()}
        assert 2 not in ids and 1 in ids


class TestQuantizeEmbeddings:
    def test_roundtrip_error_bound(self, spark_session):
        from ons_utils_spark.operators.similarity import (
            dequantize_embeddings, quantize_embeddings)
        rows = [(1, [0.5, -1.0, 0.25, 0.0]),
                (2, [100.0, -3.0, 7.5, 0.1]),
                (3, [0.0, 0.0, 0.0, 0.0])]
        df = spark_session.createDataFrame(
            rows, 'vec_id long, embedding array<double>')
        back = dequantize_embeddings(
            quantize_embeddings(df), out_col='x').collect()
        by_id = {r['vec_id']: r for r in back}
        for vid, vec in rows:
            mx = max(abs(v) for v in vec)
            for orig, rec in zip(vec, by_id[vid]['x']):
                assert abs(orig - rec) <= mx / 254 + 1e-12
        # codes stay in [-127, 127]; zero vector -> zero codes
        assert all(-127 <= c <= 127
                   for r in back for c in by_id[r['vec_id']]['q'])
        assert by_id[3]['q'] == [0, 0, 0, 0]
        assert by_id[3]['max_abs'] == 0.0

    def test_extremes_hit_full_range(self, spark_session):
        from ons_utils_spark.operators.similarity import (
            quantize_embeddings)
        df = spark_session.createDataFrame(
            [(1, [1.0, -1.0, 0.5])],
            'vec_id long, embedding array<double>')
        q = quantize_embeddings(df).first()['q']
        assert q == [127, -127, 64]  # floor(63.5+0.5)

    def test_no_udf_no_shuffle(self, spark_session):
        from ons_utils_spark.operators.similarity import (
            quantize_embeddings)
        df = spark_session.createDataFrame(
            [(1, [1.0])], 'vec_id long, embedding array<double>')
        plan = quantize_embeddings(df)._jdf \
            .queryExecution().executedPlan().toString()
        assert 'Python' not in plan and 'Exchange' not in plan


class TestBitextMine:
    """Margin-based bitext mining (Artetxe & Schwenk ratio margin)."""

    def _frames(self, spark):
        # 3 source vectors with near-copies on the target side, plus
        # a hub direction many targets share (uniformly close to
        # everything) that raw cosine would over-select.
        import math
        src = [(0, [1.0, 0.0, 0.0, 0.0]),
               (1, [0.0, 1.0, 0.0, 0.0]),
               (2, [0.0, 0.0, 1.0, 0.0])]
        c = 1 / math.sqrt(2)
        tgt = [(100, [0.995, 0.0998, 0.0, 0.0]),   # ~src 0
               (101, [0.0998, 0.995, 0.0, 0.0]),   # ~src 1
               (102, [0.0, 0.0998, 0.995, 0.0]),   # ~src 2
               (103, [c, c, 0.0, 0.0]),            # hub: close to 0+1
               (104, [0.5, 0.5, 0.5, 0.5])]        # mild decoy
        s = spark.createDataFrame(src, 'src_id long, embedding array<double>')
        t = spark.createDataFrame(tgt, 'tgt_id long, embedding array<double>')
        return s, t

    def test_recovers_planted_pairs_mutually(self, spark_session):
        from ons_utils_spark.operators.similarity import bitext_mine
        s, t = self._frames(spark_session)
        out = bitext_mine(s, t, k=2, threshold=1.0)
        pairs = {(r['src_id'], r['tgt_id']) for r in out.collect()}
        # each source pairs with its planted near-copy; the hub and
        # decoy never win a MUTUAL margin contest
        assert pairs == {(0, 100), (1, 101), (2, 102)}

    def test_margin_demotes_hub(self, spark_session):
        from ons_utils_spark.operators.similarity import bitext_mine
        s, t = self._frames(spark_session)
        out = {(r['src_id'], r['tgt_id']): r for r in
               bitext_mine(s, t, k=2, threshold=0.0,
                           mutual=False).collect()}
        # hub 103's cosine with src 0 is high (~0.707) but its
        # margin is deflated by its own crowded neighborhood
        planted = out[(0, 100)]
        hub = out.get((0, 103))
        assert planted['margin'] > 1.0
        assert hub is None or hub['margin'] < planted['margin']

    def test_margin_definition(self, spark_session):
        from ons_utils_spark.operators.similarity import bitext_mine
        s, t = self._frames(spark_session)
        rows = bitext_mine(s, t, k=2, threshold=0.0,
                           mutual=False).collect()
        for r in rows:
            assert 0.0 < r['cosine'] <= 1.0001
            assert r['margin'] > 0.0

    def test_broadcast_side_orientations_agree(self, spark_session):
        from ons_utils_spark.operators.similarity import bitext_mine
        s, t = self._frames(spark_session)
        key = lambda rows: sorted(  # noqa: E731
            (r['src_id'], r['tgt_id'], round(r['cosine'], 12),
             round(r['margin'], 12)) for r in rows)
        base = key(bitext_mine(s, t, k=2, threshold=0.0,
                               mutual=False).collect())
        flipped = key(bitext_mine(s, t, k=2, threshold=0.0,
                                  mutual=False,
                                  broadcast_side='src').collect())
        auto = key(bitext_mine(s, t, k=2, threshold=0.0,
                               mutual=False,
                               broadcast_side='auto').collect())
        assert base == flipped == auto
        import pytest
        with pytest.raises(ValueError, match='broadcast_side'):
            bitext_mine(s, t, broadcast_side='both')

    def test_broadcast_src_adds_no_exchange(self, spark_session,
                                            monkeypatch):
        """The stream side's rank window runs first in both
        orientations, so broadcasting the source side costs no more
        shuffles than broadcasting the target side."""
        import re

        from ons_utils_spark.operators.similarity import bitext_mine

        s, t = self._frames(spark_session)
        cut = []
        checkpoint = type(s).localCheckpoint

        def spy(df, *args, **kwargs):
            cut.append(df)
            return checkpoint(df, *args, **kwargs)

        monkeypatch.setattr(type(s), 'localCheckpoint', spy)
        rows, exchanges = {}, {}
        for side in ('tgt', 'src'):
            del cut[:]
            rows[side] = sorted(
                (r['src_id'], r['tgt_id'], round(r['cosine'], 12),
                 round(r['margin'], 12))
                for r in bitext_mine(s, t, k=2, threshold=1.0,
                                     broadcast_side=side).collect())
            # the scoring pass and both rank windows sit before the
            # candidate-set lineage cut
            plan = cut[0]._jdf.queryExecution().executedPlan().toString()
            exchanges[side] = len(re.findall(r'(?<!Broadcast)Exchange',
                                             plan))
        assert rows['src'] == rows['tgt'] and rows['tgt']
        assert exchanges['tgt'] >= 1
        assert exchanges['src'] <= exchanges['tgt']

    def test_checkpoint_dir_roundtrip(self, spark_session, request):
        """A session checkpoint directory turns the candidate-set cut
        into a reliable checkpoint on that storage, same answer."""
        from ons_utils_spark.operators.similarity import bitext_mine
        s, t = self._frames(spark_session)

        def mine():
            return sorted(
                (r['src_id'], r['tgt_id'], round(r['margin'], 12))
                for r in bitext_mine(s, t, k=2, threshold=1.0).collect())

        default = mine()
        ck = request.getfixturevalue('session_checkpoint_dir')
        assert mine() == default and default
        assert list(ck.glob('*/rdd-*'))  # really wrote there

    def test_candidates_path_agrees_with_cross(self, spark_session):
        from ons_utils_spark.operators.similarity import bitext_mine
        s, t = self._frames(spark_session)
        # full cross as the candidate set → identical to the exact
        # broadcast-cross path (margin/mutual are candidate-source
        # agnostic)
        cands = s.select('src_id').crossJoin(t.select('tgt_id'))
        key = lambda rows: sorted(  # noqa: E731
            (r['src_id'], r['tgt_id'], round(r['cosine'], 12),
             round(r['margin'], 12)) for r in rows)
        exact = key(bitext_mine(s, t, k=2, threshold=1.0).collect())
        via_cands = key(bitext_mine(
            s, t, k=2, threshold=1.0, candidates=cands).collect())
        assert exact == via_cands and exact

    def test_candidates_restrict_scoring(self, spark_session):
        from ons_utils_spark.operators.similarity import bitext_mine
        s, t = self._frames(spark_session)
        # only one allowed pair → nothing else can be emitted, and
        # duplicate candidate rows must not double-score
        cands = spark_session.createDataFrame(
            [(0, 100), (0, 100)], 'src_id long, tgt_id long')
        out = bitext_mine(s, t, k=2, threshold=0.0,
                          candidates=cands).collect()
        assert [(r['src_id'], r['tgt_id']) for r in out] == [(0, 100)]


class TestMaxsimTopK:
    def test_maxsim_scores_and_ranks(self, spark_session):
        from ons_utils_spark.operators.similarity import maxsim_topk
        # doc 1 matches both query tokens exactly; doc 2 matches one;
        # doc 3 is orthogonal.  MaxSim = sum over query tokens of the
        # best doc-token dot.
        docs = spark_session.createDataFrame(
            [(1, [[1.0, 0.0], [0.0, 1.0]]),
             (2, [[1.0, 0.0], [1.0, 0.0]]),
             (3, [[0.0, 0.0], [0.0, 0.0]])],
            'doc_id long, token_vecs array<array<double>>')
        qs = spark_session.createDataFrame(
            [(10, [[1.0, 0.0], [0.0, 1.0]])],
            'query_id long, token_vecs array<array<double>>')
        out = {r['doc_id']: r['maxsim']
               for r in maxsim_topk(docs, qs, k=3).collect()}
        assert out == {1: 2.0, 2: 1.0, 3: 0.0}

    def test_maxsim_is_pure_codegen_and_topk(self, spark_session):
        from ons_utils_spark.operators.similarity import maxsim_topk
        docs = spark_session.createDataFrame(
            [(i, [[float(i), 1.0]]) for i in range(20)],
            'doc_id long, token_vecs array<array<double>>')
        qs = spark_session.createDataFrame(
            [(0, [[1.0, 0.0]])],
            'query_id long, token_vecs array<array<double>>')
        df = maxsim_topk(docs, qs, k=5)
        assert df.count() == 5
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert 'Python' not in plan

    def test_maxsim_candidates_agree_and_restrict(self, spark_session):
        from ons_utils_spark.operators.similarity import maxsim_topk
        docs = spark_session.createDataFrame(
            [(1, [[1.0, 0.0], [0.0, 1.0]]),
             (2, [[1.0, 0.0], [1.0, 0.0]]),
             (3, [[0.5, 0.5], [0.0, 0.0]])],
            'doc_id long, token_vecs array<array<double>>')
        qs = spark_session.createDataFrame(
            [(10, [[1.0, 0.0], [0.0, 1.0]]),
             (11, [[0.0, 1.0]])],
            'query_id long, token_vecs array<array<double>>')
        full = qs.select('query_id').crossJoin(docs.select('doc_id'))
        key = lambda rows: sorted(  # noqa: E731
            (r['query_id'], r['doc_id'], r['maxsim']) for r in rows)
        exact = key(maxsim_topk(docs, qs, k=2).collect())
        via = key(maxsim_topk(docs, qs, k=2,
                              candidates=full).collect())
        assert exact == via and exact
        # restricted (and duplicated) candidates: only listed pairs
        # are scored, ranked within the candidate set
        some = spark_session.createDataFrame(
            [(10, 2), (10, 2), (11, 3)], 'query_id long, doc_id long')
        got = key(maxsim_topk(docs, qs, k=2, candidates=some).collect())
        assert got == [(10, 2, 1.0), (11, 3, 0.5)]


class TestMatryoshkaTopk:
    """Truncate-then-rerank funnel: exact when rerank_k covers the
    true top-k; truncated prefix scoring actually drives stage 1."""

    def _frames(self, spark_session):
        import numpy as np
        rng = np.random.default_rng(7)
        corpus = [(int(i), [float(x) for x in rng.normal(size=8)])
                  for i in range(40)]
        queries = [(100, corpus[5][1]), (101, corpus[17][1])]
        c = spark_session.createDataFrame(
            corpus, 'vec_id long, embedding array<double>')
        q = spark_session.createDataFrame(
            queries, 'query_id long, query_vec array<double>')
        return c, q

    def test_full_width_funnel_matches_brute_force(
            self, spark_session):
        from ons_utils_spark.operators.similarity import (
            cosine_topk, matryoshka_topk)
        c, q = self._frames(spark_session)
        brute = cosine_topk(c, q, k=5)
        got = matryoshka_topk(c, q, dims=8, k=5, rerank_k=5)
        want = {(r['query_id'], r['vec_id']) for r in brute.collect()}
        have = {(r['query_id'], r['vec_id']) for r in got.collect()}
        # dims = full width and rerank_k = k -> identical ranking
        assert have == want

    def test_wide_shortlist_recovers_exact_topk(self, spark_session):
        from ons_utils_spark.operators.similarity import (
            cosine_topk, matryoshka_topk)
        c, q = self._frames(spark_session)
        from pyspark.sql import Window
        brute = {(r['query_id'], r['rank']): r['vec_id']
                 for r in cosine_topk(c, q, k=3)
                 .withColumn('rank', F.row_number().over(
                     Window.partitionBy('query_id').orderBy(
                         F.col('cosine').desc(),
                         F.col('vec_id').asc()))).collect()}
        got = {(r['query_id'], r['rank']): r['vec_id']
               for r in matryoshka_topk(
                   c, q, dims=4, k=3, rerank_k=40).collect()}
        # rerank_k = |corpus| makes the funnel exact at any dims
        assert got == brute
        # each query's own vector is its top hit, cosine ~ 1
        assert got[(100, 1)] == 5 and got[(101, 1)] == 17

    def test_narrow_dims_changes_stage1(self, spark_session):
        from ons_utils_spark.operators.similarity import (
            matryoshka_topk)
        c, q = self._frames(spark_session)
        # with a 1-dim coarse pass and no rerank headroom the
        # shortlist is driven by dimension 1 alone — results must
        # differ from the exact top-5 for at least one query
        # (probability of agreement under seed 7 is nil; pinned).
        got = matryoshka_topk(c, q, dims=1, k=5, rerank_k=5)
        from ons_utils_spark.operators.similarity import cosine_topk
        brute = cosine_topk(c, q, k=5)
        have = {(r['query_id'], r['vec_id']) for r in got.collect()}
        want = {(r['query_id'], r['vec_id']) for r in brute.collect()}
        assert have != want

    def test_validation(self, spark_session):
        from ons_utils_spark.operators.similarity import (
            matryoshka_topk)
        c, q = self._frames(spark_session)
        with pytest.raises(ValueError, match='dims'):
            matryoshka_topk(c, q, dims=0)
        with pytest.raises(ValueError, match='rerank_k'):
            matryoshka_topk(c, q, k=10, rerank_k=5)
