"""Tests for dedup operators: planted duplicates must be found."""
import pytest
from pyspark.sql import functions as F

from ons_utils_spark.operators import dedup as dd


@pytest.fixture
def docs_with_dups(spark_session):
    base = (
        'the quick brown fox jumps over the lazy dog while the cat'
        ' watches from the warm windowsill in the afternoon sun light'
    )
    near = base.replace('lazy', 'sleepy')  # one-word change
    far = (
        'completely different content about spark query engines and'
        ' distributed columnar execution with vectorized operators'
    )
    rows = [
        (1, base),
        (2, base.upper()),          # exact dup after normalization
        (3, '  ' + base + '  '),    # whitespace dup
        (4, near),                  # near dup
        (5, far),
        (6, 'tiny'),
    ]
    return spark_session.createDataFrame(rows, 'doc_id bigint, text string')


class TestExactDedup:
    def test_normalized_dups_removed(self, docs_with_dups):
        kept = dd.exact_dedup(docs_with_dups, 'text', 'doc_id')
        ids = sorted(r['doc_id'] for r in kept.collect())
        assert ids == [1, 4, 5, 6]  # 2 and 3 normalize to doc 1

    def test_no_normalize_keeps_case_variants(self, docs_with_dups):
        kept = dd.exact_dedup(
            docs_with_dups, 'text', 'doc_id', normalize=False
        )
        assert kept.count() == 6


class TestMinHash:
    def test_candidates_find_planted_pair(self, docs_with_dups):
        cands = dd.minhash_lsh_candidates(
            docs_with_dups, 'doc_id', 'text', num_hashes=64, bands=32
        )
        pairs = {(r['id_a'], r['id_b']) for r in cands.collect()}
        # exact dups (1,2),(1,3),(2,3) must collide in every band;
        # near-dup (x,4) should appear with 32 bands of 2 rows.
        assert (1, 2) in pairs and (1, 3) in pairs
        assert any(b == 4 for _, b in pairs)

    def test_dedup_drops_planted_dups(self, docs_with_dups):
        kept = dd.minhash_dedup(
            docs_with_dups, 'doc_id', 'text',
            num_hashes=64, bands=32, jaccard_threshold=0.5,
        )
        ids = sorted(r['doc_id'] for r in kept.collect())
        assert 1 in ids and 5 in ids and 6 in ids
        assert 2 not in ids and 3 not in ids

    def test_signature_agreement_tracks_jaccard(self, spark_session):
        """Regression for the round-5 minhash family bug: WITHOUT
        the modulus, h*A+B is monotone in h, every hash function
        picks the same argmin shingle, and two near-dup docs agree
        on 64/64 or 0/64 signature slots (observed 0/64 at Jaccard
        0.95 — LSH recall collapsed to exact-dups-only). With the
        proper (A·h+B) mod P family, per-slot agreement is a
        Bernoulli(jaccard) draw: for J≈0.8 over 64 slots the rate
        must be strictly interior and near J."""
        words = [f'w{i}' for i in range(40)]
        t1 = ' '.join(words)
        t2 = ' '.join(words[:20] + ['CHANGED'] + words[21:])
        df = spark_session.createDataFrame(
            [(1, t1), (2, t2)], 'doc_id bigint, text string')
        hashed = df.select(
            'doc_id',
            dd.shingle_hashes(dd.word_shingles('text', 3)).alias('hs'))
        sigs = {r['doc_id']: list(r['sig']) for r in hashed.select(
            'doc_id',
            dd.minhash_signature(F.col('hs'), 64).alias('sig'))
            .collect()}
        agree = sum(a == b for a, b in zip(sigs[1], sigs[2]))
        hs = {r['doc_id']: set(r['hs']) for r in hashed.collect()}
        j = len(hs[1] & hs[2]) / len(hs[1] | hs[2])
        assert 0 < agree < 64
        assert abs(agree / 64 - j) < 0.2

    def test_signature_udf_matches_jvm(self, spark_session):
        df = spark_session.createDataFrame(
            [(1, 'alpha beta gamma delta epsilon zeta eta theta')],
            'doc_id bigint, text string',
        )
        hashed = df.select(
            'doc_id',
            dd.shingle_hashes(dd.word_shingles('text', 3)).alias('hs'),
        )
        jvm = hashed.select(
            dd.minhash_signature(F.col('hs'), 16).alias('sig')
        ).collect()[0]['sig']
        udf = hashed.select(
            dd.minhash_signature_udf(16)(F.col('hs')).alias('sig')
        ).collect()[0]['sig']
        assert list(jvm) == list(udf)


class TestMinHashPortable:
    def test_candidates_find_planted_pair(self, docs_with_dups):
        cands = dd.minhash_lsh_candidates_portable(
            docs_with_dups, 'doc_id', 'text', num_hashes=16, bands=8
        )
        pairs = {(r['id_a'], r['id_b']) for r in cands.collect()}
        # exact dups share every band bucket regardless of family
        assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
        # disjoint-content docs must not pair with the dup cluster
        assert not any(5 in p for p in pairs)

    def test_pipeline_matches_signature_column(self, docs_with_dups):
        """The exploded/codegen pipeline must equal the column-form
        minhash_signature_portable bucket-for-bucket."""
        sh = docs_with_dups.select(
            'doc_id', dd.word_shingles('text', 3).alias('sh'))
        # column form (higher-order; the reference semantics)
        ref = {
            r['doc_id']: list(r['sig'])
            for r in sh.select(
                'doc_id',
                dd.minhash_signature_portable(
                    F.col('sh'), 8).alias('sig')).collect()
        }
        # exploded form (what the candidates pipeline computes)
        ex = sh.select('doc_id', F.explode('sh').alias('s'))
        agg = ex.groupBy('doc_id').agg(*[
            F.min(F.substring(
                F.md5(F.concat(F.lit(f'{i}:'), F.col('s'))), 1, 16)
            ).alias(f'h{i}')
            for i in range(8)
        ])
        got = {
            r['doc_id']: [r[f'h{i}'] for i in range(8)]
            for r in agg.collect()
        }
        assert got == ref

    def test_null_text_rows_ignored(self, spark_session):
        df = spark_session.createDataFrame(
            [(1, 'a b c d e f'), (2, 'a b c d e f'), (3, None)],
            'doc_id bigint, text string',
        )
        pairs = {(r['id_a'], r['id_b']) for r in
                 dd.minhash_lsh_candidates_portable(
                     df, num_hashes=8, bands=4).collect()}
        assert pairs == {(1, 2)}


class TestSimHashPortable:
    def test_exact_dups_share_all_blocks(self, docs_with_dups):
        pairs = {(r['id_a'], r['id_b']) for r in
                 dd.simhash_candidates_portable(
                     docs_with_dups, 'doc_id', 'text').collect()}
        # normalization-equal docs have identical token multisets →
        # identical votes → identical block keys in every block
        assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
        # one-word change flips few bits → still shares ≥1 block
        assert any(4 in p for p in pairs)

    def test_null_text_ignored(self, spark_session):
        df = spark_session.createDataFrame(
            [(1, 'x y z w v u t s'), (2, 'x y z w v u t s'), (3, None)],
            'doc_id bigint, text string')
        pairs = {(r['id_a'], r['id_b']) for r in
                 dd.simhash_candidates_portable(df).collect()}
        assert (1, 2) in pairs
        assert not any(3 in p for p in pairs)


class TestSimHash:
    def test_dedup_drops_exact_dups(self, docs_with_dups):
        kept = dd.simhash_dedup(
            docs_with_dups, 'doc_id', 'text', max_hamming=3
        )
        ids = sorted(r['doc_id'] for r in kept.collect())
        assert 2 not in ids and 3 not in ids  # hamming 0 to doc 1
        assert 5 in ids and 6 in ids

    def test_blocks_udf_matches_jvm_expression(self, spark_session):
        from ons_utils_spark.operators.text import (
            normalize_text, tokenize,
        )
        df = spark_session.createDataFrame(
            [(1, 'alpha beta gamma delta epsilon zeta')],
            'doc_id bigint, text string',
        )
        token_hashes = F.transform(
            tokenize(normalize_text('text')), lambda t: F.xxhash64(t)
        )
        udf_blocks = df.select(
            dd.simhash_blocks_udf(4)(token_hashes).alias('b')
        ).collect()[0]['b']
        jvm_blocks = df.select(
            dd.simhash_blocks(dd.simhash('text')).alias('b')
        ).collect()[0]['b']
        assert list(udf_blocks) == list(jvm_blocks)


class TestJaccardJoin:
    def test_planted_pair_found_with_score(self, docs_with_dups):
        pairs = dd.ngram_jaccard_join(
            docs_with_dups, 'doc_id', 'text', threshold=0.5
        )
        got = {(r['id_a'], r['id_b']): r['jaccard']
               for r in pairs.collect()}
        assert got[(1, 2)] == 1.0
        assert got[(1, 3)] == 1.0
        assert (1, 4) in got and 0.5 <= got[(1, 4)] < 1.0
        assert all(a != 5 and b != 5 for a, b in got)

    def test_hot_shingle_cap(self, docs_with_dups):
        pairs = dd.ngram_jaccard_join(
            docs_with_dups, 'doc_id', 'text', threshold=0.9,
            max_shingle_df=2,
        )
        # shingles in >2 docs dropped; exact dups still share all rest
        got = {(r['id_a'], r['id_b']) for r in pairs.collect()}
        assert (1, 4) not in got


class TestEmbeddingNearDup:
    def test_finds_identical_vectors(self, spark_session):
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),
            (3, [0.99, 0.12, 0.0]),
            (4, [0.0, 1.0, 0.0]),
        ]
        df = spark_session.createDataFrame(
            rows, 'vec_id bigint, embedding array<float>'
        )
        pairs = dd.embedding_near_duplicates(df, threshold=0.99)
        got = {(r['id_a'], r['id_b']) for r in pairs.collect()}
        assert (1, 2) in got
        assert (1, 4) not in got

    def test_blocked_matches_single_broadcast(self, spark_session):
        """The driver-bounded blocked path (outer loop of broadcast
        blocks) must produce exactly the single-broadcast pairs on
        the real embeddings table."""
        from ons_utils_spark.sources.readers import load_tables

        emb = load_tables(
            spark_session, '/root/testdata/sf0.001',
            tables=['embeddings'])['embeddings']
        single = dd.embedding_near_duplicates(emb, threshold=0.3)
        blocked = dd.embedding_near_duplicates(
            emb, threshold=0.3, block_rows=97)  # forces many blocks
        want = {(r['id_a'], r['id_b'], round(r['cosine'], 9))
                for r in single.collect()}
        got = {(r['id_a'], r['id_b'], round(r['cosine'], 9))
               for r in blocked.collect()}
        assert want, 'expected some near-dup pairs at threshold 0.3'
        assert got == want, (len(got), len(want))

    def test_oversize_corpus_switches_to_blocked(self, spark_session):
        """``method='exact'`` above max_broadcast_rows must not
        collect the full corpus in one piece — same answer, bounded
        blocks."""
        rows = [(i, [1.0, 0.0, float(i % 7)]) for i in range(60)]
        df = spark_session.createDataFrame(
            rows, 'vec_id bigint, embedding array<float>'
        )
        single = dd.embedding_near_duplicates(df, threshold=0.999)
        blocked = dd.embedding_near_duplicates(
            df, threshold=0.999, max_broadcast_rows=25,
            method='exact')
        want = {(r['id_a'], r['id_b']) for r in single.collect()}
        got = {(r['id_a'], r['id_b']) for r in blocked.collect()}
        assert got == want and want

    def test_auto_routes_to_lsh_above_bound(self, spark_session,
                                            monkeypatch):
        """``method='auto'`` past ``max_broadcast_rows`` (with no
        explicit ``block_rows``) takes the sub-quadratic LSH path —
        and the answer still matches the exact join on a dataset
        whose positives are identical vectors (LSH recall exactly
        1)."""
        rows = [(i, [1.0, 0.0, float(i % 7)]) for i in range(60)]
        df = spark_session.createDataFrame(
            rows, 'vec_id bigint, embedding array<float>'
        )
        called = {}
        real = dd._lsh_near_duplicates

        def spy(*a, **kw):
            called['lsh'] = True
            return real(*a, **kw)

        monkeypatch.setattr(dd, '_lsh_near_duplicates', spy)
        got_df = dd.embedding_near_duplicates(
            df, threshold=0.999, max_broadcast_rows=25)
        assert called.get('lsh'), 'auto did not route to LSH'
        want = {(r['id_a'], r['id_b']) for r in
                dd.embedding_near_duplicates(
                    df, threshold=0.999, method='exact').collect()}
        got = {(r['id_a'], r['id_b']) for r in got_df.collect()}
        assert got == want and want

    def test_lsh_matches_exact_on_planted_neardups(
            self, spark_session):
        """Planted clones (cosine exactly 1) and seeded 0.98-cosine
        perturbations: LSH recall 1.0 and exact precision vs the
        GEMM path at threshold 0.95, cosines bit-close."""
        import numpy as np
        from ons_utils_spark.sources.readers import load_tables

        emb = load_tables(
            spark_session, '/root/testdata/sf0.001',
            tables=['embeddings'])['embeddings']
        base = emb.limit(20).collect()
        rng = np.random.default_rng(7)
        rows = []
        nid = 10_000_000
        for i, r in enumerate(base):
            v = np.array(r.embedding, dtype=np.float64)
            rows.append((nid + 2 * i,
                         [float(x) for x in (v * 2.0)]))
            n = np.linalg.norm(v)
            u = rng.standard_normal(len(v))
            u -= (u @ v) / (n * n) * v
            u = u / np.linalg.norm(u)
            w = v / n * 0.98 + u * np.sqrt(1 - 0.98 ** 2)
            rows.append((nid + 2 * i + 1,
                         [float(x) for x in (w * n)]))
        extra = spark_session.createDataFrame(
            rows, 'vec_id bigint, embedding array<double>')
        df = emb.select('vec_id', 'embedding').unionByName(extra)
        exact = {(r['id_a'], r['id_b']): r['cosine'] for r in
                 dd.embedding_near_duplicates(
                     df, threshold=0.95, method='exact').collect()}
        lsh = {(r['id_a'], r['id_b']): r['cosine'] for r in
               dd.embedding_near_duplicates(
                   df, threshold=0.95, method='lsh').collect()}
        assert set(lsh) == set(exact) and exact
        for k, c in lsh.items():
            assert abs(c - exact[k]) < 1e-9

    def test_lsh_null_and_empty_embeddings_skipped(
            self, spark_session):
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [2.0, 0.0, 0.0]),
            (3, None),
            (4, []),
            (5, [0.0, 0.0, 0.0]),  # zero-norm: cosine 0, never passes
        ]
        df = spark_session.createDataFrame(
            rows, 'vec_id bigint, embedding array<double>')
        got = {(r['id_a'], r['id_b']) for r in
               dd.embedding_near_duplicates(
                   df, threshold=0.9, method='lsh').collect()}
        assert got == {(1, 2)}

    def test_lsh_all_null_returns_empty_with_schema(
            self, spark_session):
        df = spark_session.createDataFrame(
            [(1, None), (2, None)],
            'vec_id bigint, embedding array<double>')
        out = dd.embedding_near_duplicates(
            df, threshold=0.9, method='lsh')
        assert out.columns == ['id_a', 'id_b', 'cosine']
        assert out.count() == 0

    def test_lsh_mega_family_star_capped(self, spark_session):
        """k identical vectors with max_bucket_size < k emit the
        k−1 hub-spoke pairs (greedy keep-lowest-id unchanged), not
        k(k−1)/2."""
        rows = [(i, [1.0, 2.0, 3.0]) for i in range(30)]
        df = spark_session.createDataFrame(
            rows, 'vec_id bigint, embedding array<double>')
        got = {(r['id_a'], r['id_b']) for r in
               dd.embedding_near_duplicates(
                   df, threshold=0.99, method='lsh',
                   max_bucket_size=10).collect()}
        assert got == {(0, i) for i in range(1, 30)}

    def test_invalid_method_raises(self, spark_session):
        df = spark_session.createDataFrame(
            [(1, [1.0])], 'vec_id bigint, embedding array<double>')
        with pytest.raises(ValueError, match='method'):
            dd.embedding_near_duplicates(df, method='fuzzy')


class TestCharShingles:
    def _sh(self, spark_session, raw, n=3):
        from ons_utils_spark.operators.dedup import char_shingles
        df = spark_session.createDataFrame([(raw,)], 't string')
        return df.select(
            char_shingles('t', n).alias('s')).collect()[0]['s']

    def test_basic_trigrams(self, spark_session):
        assert self._sh(spark_session, 'abcde') \
            == ['abc', 'bcd', 'cde']

    def test_normalizes_case_and_space(self, spark_session):
        # 'A  bC' normalizes to 'a bc' -> trigrams 'a b', ' bc'
        assert self._sh(spark_session, 'A  bC') == ['a b', ' bc']

    def test_distinct(self, spark_session):
        assert self._sh(spark_session, 'aaaa') == ['aaa']

    def test_short_text_whole_string(self, spark_session):
        assert self._sh(spark_session, 'ab') == ['ab']

    def test_cjk_no_whitespace(self, spark_session):
        # word_shingles sees ONE token; char shingles still split
        got = self._sh(spark_session, '机器学习模型', n=2)
        assert got == ['机器', '器学', '学习', '习模', '模型']


def test_minhash_dedup_char_mode_collapses_cjk(spark_session):
    """Char-shingle mode dedups whitespace-free text that word mode
    cannot shingle meaningfully."""
    from ons_utils_spark.operators.dedup import minhash_dedup
    base = '机器学习模型在大规模数据集上的分布式训练方法研究综述' * 3
    rows = [(1, base), (2, base), (3, '完全不同的另一篇文档内容' * 5)]
    df = spark_session.createDataFrame(rows, 'doc_id bigint, text string')
    kept = minhash_dedup(df, 'doc_id', 'text', shingle_n=5,
                         jaccard_threshold=0.8, shingles='char')
    assert sorted(r['doc_id'] for r in kept.collect()) == [1, 3]


def test_bad_shingler_raises(spark_session):
    import pytest as pt
    from ons_utils_spark.operators.dedup import minhash_dedup
    df = spark_session.createDataFrame([(1, 'x')],
                                       'doc_id bigint, text string')
    with pt.raises(ValueError, match='shingles'):
        minhash_dedup(df, shingles='byte').count()


class TestLatestByKey:
    def test_keeps_latest_with_tiebreak(self, spark_session):
        from ons_utils_spark.operators.dedup import latest_by_key

        rows = [
            (1, '2024-01-01 10:00:00', 1, 'a'),
            (1, '2024-01-02 10:00:00', 2, 'b'),   # latest for key 1
            (2, '2024-01-01 10:00:00', 3, 'c'),
            (2, '2024-01-01 10:00:00', 4, 'd'),   # ts tie → higher id
        ]
        df = spark_session.createDataFrame(
            rows, 'k bigint, ts string, seq bigint, v string'
        ).selectExpr('k', "CAST(ts AS TIMESTAMP) ts", 'seq', 'v')
        out = latest_by_key(df, keys='k', order_by='ts', tiebreak='seq')
        got = {r['k']: r['v'] for r in out.collect()}
        assert got == {1: 'b', 2: 'd'}

    def test_deterministic_across_runs(self, spark_session):
        from ons_utils_spark.operators.dedup import latest_by_key
        from ons_utils_spark.sources.readers import load_tables

        ev = load_tables(spark_session, '/root/testdata/sf0.001',
                         tables=['events'])['events']
        a = sorted(map(tuple, latest_by_key(
            ev, 'user_id', 'ts', 'event_id').collect()))
        b = sorted(map(tuple, latest_by_key(
            ev, 'user_id', 'ts', 'event_id').collect()))
        assert a == b
        n_users = ev.select('user_id').distinct().count()
        assert len(a) == n_users


class TestWinnow:
    def test_guarantee_shared_run_shares_fingerprint(self, spark_session):
        """Winnowing guarantee: two documents sharing a run of at
        least k+w-1 tokens share at least one fingerprint."""
        from ons_utils_spark.operators.dedup import winnow_fingerprints

        shared = 'alpha beta gamma delta epsilon zeta'  # 6 = k+w-1
        df = spark_session.createDataFrame(
            [(1, 'one two three ' + shared + ' four five'),
             (2, 'six seven ' + shared + ' eight nine ten'),
             (3, 'unrelated words entirely different from others '
                 'nothing in common here at all today')],
            'doc_id long, text string')
        fps = winnow_fingerprints(df, 'doc_id', 'text', k=4, w=3)
        by_doc = {
            r['id']: set() for r in fps.select('id').distinct().collect()}
        for r in fps.collect():
            by_doc[r['id']].add(r['fp'])
        assert by_doc[1] & by_doc[2], 'shared run must share a fingerprint'
        assert not (by_doc[1] & by_doc[3])

    def test_short_docs_dropped(self, spark_session):
        from ons_utils_spark.operators.dedup import winnow_fingerprints

        df = spark_session.createDataFrame(
            [(1, 'too short'), (2, 'a b c d e f g h')],
            'doc_id long, text string')
        fps = winnow_fingerprints(df, 'doc_id', 'text', k=4, w=3)
        ids = {r['id'] for r in fps.collect()}
        assert ids == {2}

    def test_dup_pairs_on_planted_duplicates(self, spark_session):
        """The documents table's planted near-duplicates surface as
        high-overlap winnow pairs, and fingerprint counts shrink by
        ~2/(w+1) versus raw grams."""
        from ons_utils_spark.operators.dedup import winnow_dup_pairs
        from ons_utils_spark.sources.readers import load_tables

        docs = load_tables(
            spark_session, '/root/testdata/sf0.001',
            tables=['documents'])['documents']
        pairs = winnow_dup_pairs(
            docs, 'doc_id', 'text', k=4, w=3, min_shared=20)
        got = pairs.collect()
        assert len(got) > 0
        assert all(r['id_a'] < r['id_b'] for r in got)
        assert all(r['n_shared'] >= 20 for r in got)


class TestWinnowProperty:
    @staticmethod
    def _ref_winnow(text: str, k: int = 4, w: int = 3) -> set:
        """Pure-Python reference: md5 k-gram hashes, window-of-w
        minima, distinct."""
        import hashlib

        toks = text.lower().split(' ')
        if len(toks) < k + w - 1:
            return set()
        grams = [' '.join(toks[i:i + k])
                 for i in range(len(toks) - k + 1)]
        hashes = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        return {min(hashes[i:i + w])
                for i in range(len(hashes) - w + 1)}

    def test_matches_python_reference(self, spark_session):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ons_utils_spark.operators.dedup import winnow_fingerprints

        token = st.text(alphabet='abcdefg', min_size=1, max_size=3)
        doc = st.lists(token, min_size=0, max_size=25).map(' '.join)

        @settings(max_examples=15, deadline=None)
        @given(st.lists(doc, min_size=1, max_size=6))
        def check(texts):
            df = spark_session.createDataFrame(
                list(enumerate(texts)), 'doc_id long, text string')
            got = {}
            for r in winnow_fingerprints(
                    df, 'doc_id', 'text', k=4, w=3).collect():
                got.setdefault(r['id'], set()).add(r['fp'])
            want = {i: self._ref_winnow(t)
                    for i, t in enumerate(texts)
                    if self._ref_winnow(t)}
            assert got == want, (got, want)

        check()

    def test_max_fp_df_drops_hot_fingerprints(self, spark_session):
        """A boilerplate run shared by MANY docs is excluded by the
        document-frequency cap; pairs resting only on it disappear,
        pairs with rarer overlap survive."""
        from ons_utils_spark.operators.dedup import winnow_dup_pairs

        boiler = 'standard legal disclaimer text appended to all docs'
        rare = 'unique shared passage only in two documents here now'
        docs = [
            (i, f'doc number {i} body content ' + boiler)
            for i in range(10)
        ] + [
            (100, 'first twin ' + rare), (101, 'second twin ' + rare),
        ]
        df = spark_session.createDataFrame(
            docs, 'doc_id long, text string')
        capped = winnow_dup_pairs(
            df, 'doc_id', 'text', min_shared=1, max_fp_df=5)
        got = {(r['id_a'], r['id_b']) for r in capped.collect()}
        assert (100, 101) in got
        assert not any(a < 100 and b < 100 for a, b in got)


class TestSourceOverlap:
    def test_hand_computed_jaccard(self, spark_session):
        from ons_utils_spark.operators.dedup import source_overlap
        rows = [
            ('s1', 1, 'a b c d'),        # shingles: abc, bcd
            ('s2', 2, 'a b c e'),        # shingles: abc, bce
            ('s3', 3, 'x y z w'),        # disjoint: xyz, yzw
        ]
        df = spark_session.createDataFrame(
            rows, 'source string, doc_id bigint, text string')
        out = {(r['g_a'], r['g_b']): r
               for r in source_overlap(df, 'source', 'text', 3).collect()}
        r12 = out[('s1', 's2')]
        assert (r12['n_a'], r12['n_b'], r12['n_common']) == (2, 2, 1)
        assert r12['jaccard'] == pytest.approx(1 / 3)
        # disjoint sources produce NO pair row at all
        assert ('s1', 's3') not in out and ('s2', 's3') not in out

    def test_duplicate_docs_dont_inflate(self, spark_session):
        """Shingle sets are per-group DISTINCT: the same doc ingested
        twice in one source must not change any overlap number."""
        from ons_utils_spark.operators.dedup import source_overlap
        base = [('s1', 1, 'a b c d'), ('s2', 2, 'a b c e')]
        dup = base + [('s1', 9, 'a b c d')]
        df1 = spark_session.createDataFrame(
            base, 'source string, doc_id bigint, text string')
        df2 = spark_session.createDataFrame(
            dup, 'source string, doc_id bigint, text string')
        a = sorted(map(tuple, source_overlap(df1).collect()))
        b = sorted(map(tuple, source_overlap(df2).collect()))
        assert a == b

    def test_identical_sources_jaccard_one(self, spark_session):
        from ons_utils_spark.operators.dedup import source_overlap
        rows = [('s1', 1, 'p q r s t'), ('s2', 2, 'p q r s t')]
        df = spark_session.createDataFrame(
            rows, 'source string, doc_id bigint, text string')
        r = source_overlap(df).collect()[0]
        assert r['jaccard'] == pytest.approx(1.0)


class TestExactSubstringPairs:
    """Lee-et-al-style exact substring dedup via window explode +
    diagonal gaps-and-islands — longest_run is the EXACT length of
    the longest shared normalized-character run."""

    SHARED = ('the quick brown fox jumps over the lazy dog '
              'again and again today')

    @pytest.fixture
    def docs(self, spark_session):
        rows = [
            (1, f'prefix one {self.SHARED} suffix alpha'),
            (2, f'other document start {self.SHARED} and a tail'),
            (3, 'completely unrelated text with no overlap at all '
                'whatsoever in here'),
            (4, f'prefix one {self.SHARED} suffix alpha'),  # dup of 1
        ]
        return spark_session.createDataFrame(
            rows, 'doc_id bigint, text string')

    def test_exact_longest_run(self, docs):
        from ons_utils_spark.operators.dedup import exact_substring_pairs
        out = {(r['id_a'], r['id_b']): r['longest_run']
               for r in exact_substring_pairs(docs, min_len=20).collect()}
        full = len(f'prefix one {self.SHARED} suffix alpha')
        # (1,4): identical docs -> run == entire normalized text
        assert out[(1, 4)] == full
        # (1,2): doc1 continues 'suffix', doc2 'and' after the shared
        # text -> the exact common run is space + SHARED + space
        assert out[(1, 2)] == 1 + len(self.SHARED) + 1
        assert out[(2, 4)] == out[(1, 2)]
        assert not any(3 in k for k in out)

    def test_run_below_min_len_undetected(self, docs):
        from ons_utils_spark.operators.dedup import exact_substring_pairs
        # min_len larger than every shared run -> only the full dup
        n = len(self.SHARED) + 10
        out = exact_substring_pairs(docs, min_len=n).collect()
        assert {(r['id_a'], r['id_b']) for r in out} == {(1, 4)}

    def test_min_run_filters_output(self, docs):
        from ons_utils_spark.operators.dedup import exact_substring_pairs
        full = len(f'prefix one {self.SHARED} suffix alpha')
        out = exact_substring_pairs(
            docs, min_len=20, min_run=full).collect()
        assert {(r['id_a'], r['id_b']) for r in out} == {(1, 4)}

    def test_min_run_validation(self, docs):
        from ons_utils_spark.operators.dedup import exact_substring_pairs
        with pytest.raises(ValueError, match='min_run'):
            exact_substring_pairs(docs, min_len=30, min_run=20)

    def test_normalization_bridges_whitespace(self, spark_session):
        from ons_utils_spark.operators.dedup import exact_substring_pairs
        a = 'Some   Long  Shared sentence APPEARS in both documents'
        rows = [(1, a), (2, a.lower().replace('  ', ' '))]
        df = spark_session.createDataFrame(
            rows, 'doc_id bigint, text string')
        out = exact_substring_pairs(df, min_len=20).collect()
        norm_len = len(' '.join(a.lower().split()))
        assert [(r['id_a'], r['id_b'], r['longest_run'])
                for r in out] == [(1, 2, norm_len)]

    def test_hot_window_cap_drops_boilerplate(self, spark_session):
        from ons_utils_spark.operators.dedup import exact_substring_pairs
        boiler = 'standard license header appears everywhere verbatim'
        rows = [(i, f'{boiler} unique body {i} ' * 1) for i in range(5)]
        df = spark_session.createDataFrame(
            rows, 'doc_id bigint, text string')
        with_cap = exact_substring_pairs(
            df, min_len=20, max_window_df=3).collect()
        without = exact_substring_pairs(df, min_len=20).collect()
        assert len(without) == 10          # all C(5,2) boiler pairs
        assert len(with_cap) == 0          # cap kills the hot windows

    def test_periodic_text_multiple_diagonals(self, spark_session):
        from ons_utils_spark.operators.dedup import exact_substring_pairs
        p = 'ab' * 40                       # 80 chars, period 2
        rows = [(1, p), (2, p + 'xyz tail here')]
        df = spark_session.createDataFrame(
            rows, 'doc_id bigint, text string')
        out = exact_substring_pairs(df, min_len=10).collect()
        assert len(out) == 1
        assert out[0]['longest_run'] == len(p)


class TestLineDedup:
    """C4-style corpus-level line dedup: first (doc, pos) occurrence
    of each distinct line wins; documents reassemble in order."""

    @pytest.fixture
    def docs(self, spark_session):
        rows = [
            (1, 'unique first line\ncookie banner\nbody one', 'a'),
            (2, 'cookie banner\nbody two\nok', 'b'),
            (3, 'cookie banner\nbody one\nok', 'a'),
            (4, 'cookie banner', 'b'),
        ]
        return spark_session.createDataFrame(
            rows, 'doc_id bigint, text string, src string')

    def test_first_occurrence_wins(self, docs):
        from ons_utils_spark.operators.dedup import line_dedup
        out = {r['doc_id']: r['text']
               for r in line_dedup(docs).collect()}
        assert out[1] == 'unique first line\ncookie banner\nbody one'
        assert out[2] == 'body two\nok'
        assert out[3] == ''                      # every line repeated
        assert out[4] == ''

    def test_row_count_and_columns_preserved(self, docs):
        from ons_utils_spark.operators.dedup import line_dedup
        out = line_dedup(docs)
        assert out.count() == 4
        assert out.columns == docs.columns
        assert {r['src'] for r in out.collect()} == {'a', 'b'}

    def test_short_line_exemption(self, docs):
        from ons_utils_spark.operators.dedup import line_dedup
        out = {r['doc_id']: r['text']
               for r in line_dedup(docs, min_line_chars=5).collect()}
        assert out[3] == 'ok'                    # 2 chars: exempt
        assert out[2].endswith('ok')

    def test_within_doc_repeats_also_dropped(self, spark_session):
        from ons_utils_spark.operators.dedup import line_dedup
        df = spark_session.createDataFrame(
            [(1, 'same line here\nmiddle content\nsame line here')],
            'doc_id bigint, text string')
        out = line_dedup(df).collect()[0]['text']
        assert out == 'same line here\nmiddle content'

    def test_partitioning_invariant(self, docs):
        from ons_utils_spark.operators.dedup import line_dedup
        a = sorted(map(tuple, line_dedup(docs).collect()))
        b = sorted(map(tuple,
                       line_dedup(docs.repartition(7)).collect()))
        assert a == b

    def test_custom_delimiter(self, spark_session):
        from ons_utils_spark.operators.dedup import line_dedup
        df = spark_session.createDataFrame(
            [(1, 'alpha beta|gamma delta'),
             (2, 'gamma delta|epsilon')],
            'doc_id bigint, text string')
        out = {r['doc_id']: r['text']
               for r in line_dedup(df, delimiter='|').collect()}
        assert out == {1: 'alpha beta|gamma delta', 2: 'epsilon'}

    def test_null_in_other_column_keeps_text(self, spark_session):
        """The rebuilt text joins back on every non-text column; a
        NULL there must still match, or the doc loses every line."""
        from ons_utils_spark.operators.dedup import line_dedup
        df = spark_session.createDataFrame(
            [(1, 'https://a.example', 'shared line\nown line one'),
             (2, None, 'shared line\nown line two')],
            'doc_id bigint, url string, text string')
        out = {r['doc_id']: (r['url'], r['text'])
               for r in line_dedup(df).collect()}
        assert out == {
            1: ('https://a.example', 'shared line\nown line one'),
            2: (None, 'own line two')}


class TestBandBlockValidation:
    """Lossy banding/blocking requests must fail loudly (r5 advice).

    num_hashes % bands != 0 silently dropped trailing hash functions
    (changing the LSH S-curve); 64 % n_blocks != 0 left signature
    bits outside every block (weakening the pigeonhole guarantee).
    """

    def test_minhash_rejects_indivisible_bands(self, docs_with_dups):
        with pytest.raises(ValueError, match='divisible by bands'):
            dd.minhash_lsh_candidates(
                docs_with_dups, num_hashes=16, bands=5)

    def test_minhash_portable_rejects_indivisible_bands(
            self, docs_with_dups):
        with pytest.raises(ValueError, match='divisible by bands'):
            dd.minhash_lsh_candidates_portable(
                docs_with_dups, num_hashes=16, bands=5)

    def test_minhash_rejects_nonpositive(self, docs_with_dups):
        with pytest.raises(ValueError, match='positive'):
            dd.minhash_lsh_candidates(
                docs_with_dups, num_hashes=16, bands=0)

    def test_simhash_rejects_non_divisor_blocks(self, docs_with_dups):
        with pytest.raises(ValueError, match='divisor of 64'):
            dd.simhash_candidates_portable(docs_with_dups, n_blocks=5)

    def test_simhash_blocks_udf_rejects_non_divisor(self):
        with pytest.raises(ValueError, match='divisor of 64'):
            dd.simhash_blocks_udf(n_blocks=7)

    def test_simhash_blocks_rejects_non_divisor(self):
        with pytest.raises(ValueError, match='divisor of 64'):
            dd.simhash_blocks(F.col('sig'), n_blocks=3)

    def test_divisible_requests_still_work(self, docs_with_dups):
        out = dd.minhash_lsh_candidates(
            docs_with_dups, num_hashes=16, bands=4)
        assert {tuple(sorted((r['id_a'], r['id_b'])))
                for r in out.collect()}  # non-empty candidate set


class TestSimhashSigsParity:
    """The shared vectorized signature stage (_simhash_sigs, Arrow
    UDF) must be bit-identical to the independent interpreted
    reference path (simhash() bitstring + simhash_blocks split) —
    the signature IS the dedup verification object, so any bit flip
    changes decisions."""

    @pytest.mark.parametrize('n_blocks', [2, 4, 8])
    def test_bit_identical_to_reference_path(
            self, spark_session, n_blocks):
        rows = [
            (1, 'the quick brown fox jumps over the lazy dog'),
            (2, 'the quick brown fox jumps over the lazy dog'),
            (3, 'pack my box with five dozen liquor jugs'),
            (4, 'The  QUICK   brown fox... jumps; over the lazy dog'),
            (5, 'a'),
            (6, ''),            # empty text -> all-zero signature
            (7, '   '),         # whitespace-only
            (8, 'repeated repeated repeated repeated token token'),
            (9, 'unicode tökens naïve café 北京 résumé'),
        ]
        df = spark_session.createDataFrame(
            rows, 'doc_id bigint, text string')
        fast = {r['__id']: list(r['__blocks'])
                for r in dd._simhash_sigs(
                    df, 'doc_id', 'text', n_blocks).collect()}
        ref = {r['doc_id']: list(r['b']) for r in df.select(
            'doc_id',
            dd.simhash_blocks(dd.simhash('text'), n_blocks).alias('b'),
        ).collect()}
        assert fast == ref
        assert fast[6] == [0] * n_blocks  # empty doc -> zeros

    def test_bit_identical_on_real_corpus(self, spark_session):
        import os
        path = '/root/testdata/sf0.001/documents.parquet'
        if not os.path.exists(path):
            pytest.skip('testdata missing')
        from ons_utils_spark.sources.readers import read_parquet
        docs = read_parquet(spark_session, path).select(
            'doc_id', 'text')
        fast = {r['__id']: list(r['__blocks'])
                for r in dd._simhash_sigs(
                    docs, 'doc_id', 'text', 4).collect()}
        ref = {r['doc_id']: list(r['b']) for r in docs.select(
            'doc_id',
            dd.simhash_blocks(dd.simhash('text'), 4).alias('b'),
        ).collect()}
        assert fast == ref


class TestSemanticDedup:
    """SemDeDup: cluster-pruned embedding dedup finds planted clones
    and keeps exactly one representative."""

    @pytest.fixture
    def planted_vectors(self, spark_session):
        import random
        rng = random.Random(5)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(16)])
                for i in range(60)]
        # clone row 7 twice, row 21 once (exact duplicates)
        rows.append((100, rows[7][1]))
        rows.append((101, rows[7][1]))
        rows.append((200, rows[21][1]))
        return spark_session.createDataFrame(
            rows, 'vec_id bigint, embedding array<double>')

    def test_pairs_find_all_clone_pairs(self, planted_vectors):
        pairs = {(r['id_a'], r['id_b'])
                 for r in dd.semantic_dedup_pairs(
                     planted_vectors, n_clusters=4,
                     threshold=0.95).collect()}
        assert pairs == {(7, 100), (7, 101), (100, 101), (21, 200)}

    def test_dedup_keeps_lowest_id(self, planted_vectors):
        kept = {r['vec_id'] for r in dd.semantic_dedup(
            planted_vectors, n_clusters=4,
            threshold=0.95).collect()}
        assert 7 in kept and 21 in kept
        assert {100, 101, 200}.isdisjoint(kept)
        assert len(kept) == 63 - 3  # 60 base + 3 clones - 3 dropped

    def test_no_false_positives_on_random_vectors(self, planted_vectors):
        base = planted_vectors.filter(F.col('vec_id') < 100)
        pairs = dd.semantic_dedup_pairs(
            base, n_clusters=4, threshold=0.95).collect()
        assert pairs == []

    def test_single_cluster_equals_exact(self, planted_vectors):
        """n_clusters=1 disables pruning: the pair set must equal
        the exact full-GEMM verifier's."""
        exact = {(r['id_a'], r['id_b'])
                 for r in dd.embedding_near_duplicates(
                     planted_vectors, 'vec_id', 'embedding',
                     threshold=0.95).collect()}
        pruned = {(r['id_a'], r['id_b'])
                  for r in dd.semantic_dedup_pairs(
                      planted_vectors, n_clusters=1,
                      threshold=0.95).collect()}
        assert pruned == exact


class TestWithCharShingles:
    """The DataFrame-level fast shingler must produce identical
    shingle SETS to the Column-level char_shingles on every edge
    case (normal, short, empty, NULL, CJK-ish no-space text)."""

    def test_matches_column_form(self, spark_session):
        rows = [
            (1, 'the quick brown fox jumps over the lazy dog'),
            (2, 'ab'),                      # shorter than n
            (3, ''),                        # empty
            (4, None),                      # null
            (5, 'abcde'),                   # exactly n
            (6, '東京都渋谷区の天気は晴れです'),  # no-space script
            (8, '🎉🎊🎈 party 🎉🎊🎈 emoji'),   # astral-plane codepoints
            (9, 'a\u0301e\u0301 combining marks repeated a\u0301'),
            (7, '  spaced   out\ttabs\nnewlines  '),
        ]
        df = spark_session.createDataFrame(
            rows, 'doc_id long, text string')
        fast = {r['doc_id']: r['__sh'] for r in dd.with_char_shingles(
            df, 'text', 5, out_col='__sh').collect()}
        slow = {r['doc_id']: r['sh'] for r in df.select(
            'doc_id', dd.char_shingles('text', 5).alias('sh')
        ).collect()}
        for k in fast:
            assert sorted(fast[k]) == sorted(slow[k]), k

    def test_keeps_norm_col_when_asked(self, spark_session):
        df = spark_session.createDataFrame(
            [(1, '  A  B  ')], 'doc_id long, text string')
        out = dd.with_char_shingles(
            df, 'text', 3, out_col='s', norm_col='t').collect()[0]
        assert out['t'] == 'a b'
        assert 'a b' in out['s']


class TestSemanticDedupOverlap:
    """overlap>1 (top-n centroid assignment) must be a superset of
    the overlap=1 pair set, collapse duplicate detections, and at
    overlap == n_clusters degenerate to the exact full pair scan."""

    def _emb(self, spark_session, n=120, seed=3):
        import random
        rng = random.Random(seed)
        rows = []
        for i in range(n):
            v = [rng.gauss(0, 1) for _ in range(8)]
            rows.append((i, v))
            if i % 17 == 0:  # plant exact duplicates
                rows.append((1000 + i, list(v)))
        return spark_session.createDataFrame(
            rows, 'vec_id long, embedding array<double>')

    def test_overlap_superset_and_dedup(self, spark_session):
        emb = self._emb(spark_session)
        p1 = {(r['id_a'], r['id_b']) for r in dd.semantic_dedup_pairs(
            emb, n_clusters=6, threshold=0.9, overlap=1).collect()}
        rows2 = dd.semantic_dedup_pairs(
            emb, n_clusters=6, threshold=0.9, overlap=2).collect()
        p2 = {(r['id_a'], r['id_b']) for r in rows2}
        assert p1 <= p2
        assert len(rows2) == len(p2)  # no duplicate pair rows

    def test_full_overlap_equals_exact(self, spark_session):
        emb = self._emb(spark_session, n=80)
        exact = {(r['id_a'], r['id_b'])
                 for r in dd.embedding_near_duplicates(
                     emb, 'vec_id', 'embedding',
                     threshold=0.9).collect()}
        full = {(r['id_a'], r['id_b'])
                for r in dd.semantic_dedup_pairs(
                    emb, n_clusters=5, threshold=0.9,
                    overlap=5).collect()}
        assert full == exact

    def test_overlap_validation(self, spark_session):
        emb = self._emb(spark_session, n=20)
        with pytest.raises(ValueError, match='overlap'):
            dd.semantic_dedup_pairs(emb, overlap=0).collect()

    def test_semantic_dedup_passes_overlap(self, spark_session):
        emb = self._emb(spark_session, n=60)
        kept1 = dd.semantic_dedup(
            emb, n_clusters=4, threshold=0.99, overlap=1).count()
        kept2 = dd.semantic_dedup(
            emb, n_clusters=4, threshold=0.99, overlap=2).count()
        assert kept2 <= kept1  # more pairs found -> no fewer drops


class TestMinHashIndex:
    """Incremental LSH index: build once, probe new batches.  The
    load-bearing invariant is pair-completeness — splitting a corpus
    into (indexed, new) loses no candidate pair that touches a new
    document, because banding is deterministic per document."""

    def _batches(self, spark_session):
        base = ('the quick brown fox jumps over the lazy dog while '
                'the cat watches from the warm windowsill every day')
        other = ('completely different text about spark catalyst '
                 'optimizer rules and adaptive query execution plans')
        old = spark_session.createDataFrame(
            [(1, base), (2, other),
             (3, 'some unrelated third document about gardening '
                 'tips for growing tomatoes in cold climates')],
            'doc_id long, text string')
        new = spark_session.createDataFrame(
            [(10, base.upper()),          # exact dup of 1
             (11, 'fresh content that matches nothing else at all '
                  'in the existing index or this batch today'),
             (12, base + '  '),           # another dup of 1 (and 10)
             ],
            'doc_id long, text string')
        return old, new

    def test_probe_finds_cross_batch_duplicates(self, spark_session):
        old, new = self._batches(spark_session)
        index = dd.minhash_band_index(old, num_hashes=16, bands=8)
        pairs = {(r['new_id'], r['index_id'])
                 for r in dd.minhash_index_probe(
                     index, new, num_hashes=16, bands=8).collect()}
        assert (10, 1) in pairs and (12, 1) in pairs
        assert not any(n == 11 for n, _ in pairs)

    def test_pair_completeness_vs_full_rebuild(self, spark_session):
        # bucket-complete (collapse off) form: the invariant is about
        # banding determinism, orthogonal to the hot-family guard
        old, new = self._batches(spark_session)
        full = {(r['id_a'], r['id_b'])
                for r in dd.minhash_lsh_candidates(
                    old.unionByName(new), num_hashes=16, bands=8,
                    collapse_identical=False).collect()}
        new_ids = {10, 11, 12}
        touching_new = {p for p in full
                        if p[0] in new_ids or p[1] in new_ids}
        index = dd.minhash_band_index(old, num_hashes=16, bands=8)
        probe = {tuple(sorted((r['new_id'], r['index_id'])))
                 for r in dd.minhash_index_probe(
                     index, new, num_hashes=16, bands=8).collect()}
        within_new = {(r['id_a'], r['id_b'])
                      for r in dd.minhash_lsh_candidates(
                          new, num_hashes=16, bands=8,
                          collapse_identical=False).collect()}
        assert probe | within_new == touching_new

    def test_candidates_unchanged_by_refactor(self, spark_session):
        # the shared band-index path must reproduce the historical
        # bucket-complete candidate set exactly with the guard off
        old, new = self._batches(spark_session)
        allc = dd.minhash_lsh_candidates(
            old.unionByName(new), num_hashes=16, bands=8,
            collapse_identical=False)
        pairs = {(r['id_a'], r['id_b']) for r in allc.collect()}
        assert (1, 10) in pairs and (1, 12) in pairs \
            and (10, 12) in pairs

    def test_collapse_emits_family_star_pairs(self, spark_session):
        # default (collapse on): identical-shingle-set family {1,10,12}
        # is star-paired on its min id — (10,12) is replaced by the
        # chain through 1, and dedup decisions are unchanged
        old, new = self._batches(spark_session)
        allc = dd.minhash_lsh_candidates(
            old.unionByName(new), num_hashes=16, bands=8)
        pairs = {(r['id_a'], r['id_b']) for r in allc.collect()}
        assert (1, 10) in pairs and (1, 12) in pairs
        assert (10, 12) not in pairs

    def test_probe_validates_index_shape(self, spark_session):
        old, new = self._batches(spark_session)
        with pytest.raises(ValueError, match='band'):
            dd.minhash_index_probe(old, new)

    def test_probe_caps_oversized_index_buckets(self, spark_session):
        # a clone mega-family stored in the index joins a new clone
        # k_idx x k_new without the guard; with max_bucket_size below
        # the family size the new doc pairs with the bucket MIN only
        fam = ('boilerplate footer text repeated on every single '
               'page of the crawled website corpus forever')
        old = spark_session.createDataFrame(
            [(i, fam) for i in range(1, 7)]
            + [(7, 'completely unrelated gardening advice about '
                   'growing tomatoes in cold northern climates')],
            'doc_id long, text string')
        new = spark_session.createDataFrame(
            [(100, fam)], 'doc_id long, text string')
        index = dd.minhash_band_index(old, num_hashes=16, bands=8)
        capped = {(r['new_id'], r['index_id'])
                  for r in dd.minhash_index_probe(
                      index, new, num_hashes=16, bands=8,
                      max_bucket_size=3).collect()}
        assert capped == {(100, 1)}  # representative only
        full = {(r['new_id'], r['index_id'])
                for r in dd.minhash_index_probe(
                    index, new, num_hashes=16, bands=8,
                    max_bucket_size=None).collect()}
        assert full == {(100, i) for i in range(1, 7)}
        # within-cap buckets are untouched by the guard
        assert {(r['new_id'], r['index_id'])
                for r in dd.minhash_index_probe(
                    index, new, num_hashes=16, bands=8,
                    max_bucket_size=100).collect()} == full


def test_index_probe_rejects_ambiguous_id_columns(spark_session):
    from pyspark.sql import functions as F
    docs = spark_session.createDataFrame(
        [(1, 'alpha beta gamma delta epsilon')],
        'doc_id long, text string')
    index = dd.minhash_band_index(docs, num_hashes=16, bands=8) \
        .withColumn('ingest_date', F.lit('2026-08-14'))
    with pytest.raises(ValueError, match='exactly one id column'):
        dd.minhash_index_probe(index, docs, num_hashes=16, bands=8)


def test_index_probe_empty_batch_returns_empty(spark_session):
    docs = spark_session.createDataFrame(
        [(1, 'alpha beta gamma delta epsilon zeta')],
        'doc_id long, text string')
    empty = spark_session.createDataFrame([], 'doc_id long, text string')
    index = dd.minhash_band_index(docs, num_hashes=16, bands=8)
    out = dd.minhash_index_probe(index, empty, num_hashes=16, bands=8)
    assert out.count() == 0
    assert out.columns == ['new_id', 'index_id']


class TestSimhashIndex:
    """Incremental SimHash index: stored (id, block, key, blocks)
    frame probed by new batches, with the same completeness
    guarantee as the batch path (pigeonhole over exact blocks,
    verified by true Hamming distance)."""

    def _batches(self, spark_session):
        base = ('the quick brown fox jumps over the lazy dog while '
                'the cat watches from the warm windowsill every day')
        old = spark_session.createDataFrame(
            [(1, base),
             (2, 'existing corpus document about catalyst optimizer '
                 'rules and adaptive execution strategies in spark')],
            'doc_id long, text string')
        new = spark_session.createDataFrame(
            [(10, base.upper()),       # exact dup of 1 (Hamming 0)
             (11, 'entirely different new content about gardening '
                  'and growing tomatoes in cold northern climates')],
            'doc_id long, text string')
        return old, new

    def test_probe_finds_cross_batch_duplicates(self, spark_session):
        old, new = self._batches(spark_session)
        index = dd.simhash_block_index(old)
        pairs = {(r['new_id'], r['index_id'])
                 for r in dd.simhash_index_probe(index, new).collect()}
        assert (10, 1) in pairs
        assert not any(n == 11 for n, _ in pairs)

    def test_probe_matches_batch_dedup_decision(self, spark_session):
        # a doc the incremental probe pairs with the corpus is
        # exactly a doc the batch dedup over old+new would drop
        old, new = self._batches(spark_session)
        index = dd.simhash_block_index(old)
        probed_dups = {r['new_id'] for r in dd.simhash_index_probe(
            index, new).collect()}
        kept = {r['doc_id'] for r in dd.simhash_dedup(
            old.unionByName(new)).collect()}
        dropped_new = {10, 11} - kept
        assert probed_dups == dropped_new

    def test_probe_validates_index_shape(self, spark_session):
        old, new = self._batches(spark_session)
        with pytest.raises(ValueError, match='block'):
            dd.simhash_index_probe(old, new)
        index = dd.simhash_block_index(old).withColumn(
            'extra', F.lit(1))
        with pytest.raises(ValueError, match='exactly one id'):
            dd.simhash_index_probe(index, new)

    def test_probe_caps_oversized_index_buckets(self, spark_session):
        fam = ('boilerplate footer text repeated on every single '
               'page of the crawled website corpus forever')
        old = spark_session.createDataFrame(
            [(i, fam) for i in range(1, 7)],
            'doc_id long, text string')
        new = spark_session.createDataFrame(
            [(100, fam)], 'doc_id long, text string')
        index = dd.simhash_block_index(old)
        capped = {(r['new_id'], r['index_id'])
                  for r in dd.simhash_index_probe(
                      index, new, max_bucket_size=3).collect()}
        # identical signatures: the min-id representative stands in
        # losslessly for the whole family
        assert capped == {(100, 1)}
        full = {(r['new_id'], r['index_id'])
                for r in dd.simhash_index_probe(
                    index, new, max_bucket_size=None).collect()}
        assert full == {(100, i) for i in range(1, 7)}


class TestHotBucketGuard:
    """The 100 TB scale-killer guard: duplicate mega-families must not
    explode the LSH candidate self-join quadratically.

    (a) identical-signature collapse: a k-clone family emits k-1
        star pairs (minhash) / 0 pairs + k-1 direct drops (simhash),
        never k(k-1)/2;
    (b) max_bucket_size: buckets still oversized after the collapse
        are star-paired on the bucket min.
    Greedy keep-lowest-id decisions are preserved exactly by (a) —
    members are at Jaccard 1 / Hamming 0 from their representative.
    """

    def _mega_family(self, spark_session, k=2000):
        text = ('boilerplate cookie banner accept all reject all '
                'privacy policy terms of service contact about us')
        uniq = [(100_000 + i,
                 f'unique document number {i} about topic {i * 7} '
                 f'with distinct content tokens alpha{i} beta{i}')
                for i in range(5)]
        rows = [(i, text) for i in range(k)] + uniq
        return spark_session.createDataFrame(
            rows, 'doc_id bigint, text string')

    def test_minhash_family_pairs_linear_not_quadratic(
            self, spark_session):
        k = 2000
        df = self._mega_family(spark_session, k)
        n_pairs = dd.minhash_lsh_candidates(
            df, num_hashes=16, bands=4).count()
        # star pairs only: k-1 family pairs (+0 cross pairs — the
        # unique docs share no shingles with the boilerplate)
        assert n_pairs == k - 1
        # and the unguarded form really is quadratic (sanity of the
        # test itself, on a smaller k to stay fast)
        small = self._mega_family(spark_session, 60)
        raw = dd.minhash_lsh_candidates(
            small, num_hashes=16, bands=4,
            collapse_identical=False, max_bucket_size=None).count()
        assert raw >= 60 * 59 // 2

    def test_minhash_dedup_decisions_unchanged_by_guard(
            self, spark_session, docs_with_dups):
        guarded = {r['doc_id'] for r in dd.minhash_dedup(
            docs_with_dups, num_hashes=64, bands=32,
            jaccard_threshold=0.5).collect()}
        unguarded = {r['doc_id'] for r in dd.minhash_dedup(
            docs_with_dups, num_hashes=64, bands=32,
            jaccard_threshold=0.5, collapse_identical=False,
            max_bucket_size=None).collect()}
        assert guarded == unguarded

    def test_minhash_dedup_mega_family_keeps_one(self, spark_session):
        df = self._mega_family(spark_session, 500)
        kept = {r['doc_id'] for r in dd.minhash_dedup(
            df, num_hashes=16, bands=4,
            jaccard_threshold=0.8).collect()}
        assert 0 in kept  # family min survives
        assert not (kept & set(range(1, 500)))  # clones all drop
        assert {100_000 + i for i in range(5)} <= kept

    def test_simhash_dedup_decisions_unchanged_by_guard(
            self, spark_session, docs_with_dups):
        guarded = {r['doc_id'] for r in dd.simhash_dedup(
            docs_with_dups).collect()}
        unguarded = {r['doc_id'] for r in dd.simhash_dedup(
            docs_with_dups, collapse_identical=False,
            max_bucket_size=None).collect()}
        assert guarded == unguarded

    def test_simhash_dedup_mega_family_keeps_one(self, spark_session):
        df = self._mega_family(spark_session, 500)
        kept = {r['doc_id'] for r in dd.simhash_dedup(df).collect()}
        assert 0 in kept
        assert not (kept & set(range(1, 500)))

    def test_max_bucket_size_star_pairs_oversized_buckets(
            self, spark_session):
        # distinct documents forced into one bucket family: near-dup
        # variants of one base text (distinct shingle sets, so the
        # collapse does NOT merge them) with a tiny bucket cap
        base = ('shared boilerplate prefix that dominates every '
                'shingle window across all variant documents here')
        rows = [(i, base + f' tail{i}') for i in range(30)]
        df = spark_session.createDataFrame(
            rows, 'doc_id bigint, text string')
        capped = dd.minhash_lsh_candidates(
            df, num_hashes=16, bands=4, max_bucket_size=5)
        pairs = {(r['id_a'], r['id_b']) for r in capped.collect()}
        # every pair in an oversized bucket goes through the bucket
        # min: no pair between two non-min ids from a capped bucket
        # unless some smaller bucket also held them
        full = dd.minhash_lsh_candidates(
            df, num_hashes=16, bands=4, max_bucket_size=None)
        assert len(pairs) <= full.count()
        # star shape: id 0 (global min, in every oversized bucket)
        # still pairs with the variants it shares buckets with
        assert any(a == 0 for a, _ in pairs)

    def test_capped_bucket_warns_loudly(self, spark_session):
        """Star-capping an oversized bucket loses spoke-spoke pairs;
        that recall trade must be observable, never silent.  The
        warning fires on the dedup drivers' eager-census path (the
        lazy candidates path cannot know driver-side whether any
        bucket actually capped)."""
        base = ('shared boilerplate prefix that dominates every '
                'shingle window across all variant documents here')
        rows = [(i, base + f' tail{i}') for i in range(30)]
        df = spark_session.createDataFrame(
            rows, 'doc_id bigint, text string')
        with pytest.warns(RuntimeWarning, match='star-capped'):
            dd.minhash_dedup(
                df, num_hashes=16, bands=4, max_bucket_size=5,
                jaccard_threshold=0.5).collect()

    def test_uncapped_run_does_not_warn(self, spark_session,
                                        docs_with_dups):
        import warnings as _w
        with _w.catch_warnings():
            _w.simplefilter('error', RuntimeWarning)
            dd.minhash_dedup(
                docs_with_dups, num_hashes=16, bands=4,
                jaccard_threshold=0.5).collect()

    def test_embedding_lsh_checkpoint_dir(self, spark_session,
                                          session_checkpoint_dir):
        """A session checkpoint directory reaches the LSH path's
        lineage cut (r9 ADVICE: the auto/lsh path at scale otherwise
        keeps the executor-loss recompute hazard)."""
        import random
        rng = random.Random(3)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
                for i in range(40)]
        rows += [(100, list(rows[7][1]))]  # planted clone of 7
        df = spark_session.createDataFrame(
            rows, 'vec_id bigint, embedding array<double>')
        got = {(r['id_a'], r['id_b'])
               for r in dd.embedding_near_duplicates(
                   df, method='lsh', threshold=0.95).collect()}
        assert (7, 100) in got
        # really wrote there
        assert list(session_checkpoint_dir.glob('*/rdd-*'))

    def test_minhash_checkpoint_dir_roundtrip(
            self, spark_session, docs_with_dups, request):
        default = {r['doc_id'] for r in dd.minhash_dedup(
            docs_with_dups, num_hashes=64, bands=32,
            jaccard_threshold=0.5).collect()}
        ck = request.getfixturevalue('session_checkpoint_dir')
        kept = {r['doc_id'] for r in dd.minhash_dedup(
            docs_with_dups, num_hashes=64, bands=32,
            jaccard_threshold=0.5).collect()}
        assert kept == default
        assert list(ck.glob('*/rdd-*'))  # really wrote there


class TestEmbeddingIndex:
    """Incremental embedding near-dup index (embedding_band_index +
    embedding_index_probe + score_pairs_cosine)."""

    def _corpus(self, spark_session, n=40, clone_every=8):
        import numpy as np
        rng = np.random.default_rng(11)
        rows = []
        for i in range(n):
            v = rng.standard_normal(16)
            rows.append((i, [float(x) for x in v]))
            if i % clone_every == 0:  # planted clone, cosine exactly 1
                rows.append((i + 100_000,
                             [float(x) for x in (v * 3.0)]))
        return spark_session.createDataFrame(
            rows, 'vec_id bigint, embedding array<double>')

    def test_probe_pair_completeness_vs_full_rebuild(
            self, spark_session):
        """probe(index(old), new) ∪ within-new candidates must equal
        every bucket-complete candidate pair touching a new vector
        from the full old∪new banding — split loses nothing."""
        df = self._corpus(spark_session)
        old = df.filter('vec_id % 3 != 0')
        new = df.filter('vec_id % 3 = 0')
        idx = dd.embedding_band_index(old, dim=16)
        probed = {(min(r['new_id'], r['index_id']),
                   max(r['new_id'], r['index_id']))
                  for r in dd.embedding_index_probe(
                      idx, new, dim=16).collect()}
        within = dd._bucket_pair_join(
            dd.embedding_band_index(new, dim=16)
            .withColumnRenamed('vec_id', '__id'),
            ('band', 'bucket')).dropDuplicates(['id_a', 'id_b'])
        within_pairs = {(r['id_a'], r['id_b'])
                        for r in within.collect()}
        full = dd._bucket_pair_join(
            dd.embedding_band_index(df, dim=16)
            .withColumnRenamed('vec_id', '__id'),
            ('band', 'bucket')).dropDuplicates(['id_a', 'id_b'])
        new_ids = {r['vec_id'] for r in new.collect()}
        want = {(r['id_a'], r['id_b']) for r in full.collect()
                if r['id_a'] in new_ids or r['id_b'] in new_ids}
        assert probed | within_pairs == want
        assert probed  # clones straddle the split -> non-vacuous

    def test_probe_verify_cycle_finds_planted_clones(
            self, spark_session):
        df = self._corpus(spark_session)
        old = df.filter('vec_id < 100000')
        new = df.filter('vec_id >= 100000')  # the clones arrive late
        idx = dd.embedding_band_index(old, dim=16)
        cands = dd.embedding_index_probe(
            idx, new, dim=16, new_id='id_a', index_id='id_b')
        verified = dd.score_pairs_cosine(cands, df) \
            .filter('cosine >= 0.999')
        got = {(r['id_a'], r['id_b']) for r in verified.collect()}
        want = {(i + 100_000, i) for i in range(0, 40, 8)}
        assert got == want

    def test_param_mismatch_is_silent_near_empty_not_wrong(
            self, spark_session):
        """Different seed -> different planes -> organic probe pairs
        vanish (documented hazard, must not crash)."""
        df = self._corpus(spark_session)
        idx = dd.embedding_band_index(df, dim=16, seed=1)
        out = dd.embedding_index_probe(idx, df.limit(5), dim=16,
                                       seed=2)
        assert out.columns == ['new_id', 'index_id']
        out.count()  # runs clean

    def test_probe_rejects_bad_index_frames(self, spark_session):
        df = self._corpus(spark_session, n=5)
        with pytest.raises(ValueError, match='band'):
            dd.embedding_index_probe(
                df.selectExpr('vec_id', 'vec_id AS x'), df)
        idx = dd.embedding_band_index(df, dim=16) \
            .withColumn('extra', F.lit(1))
        with pytest.raises(ValueError, match='exactly one id'):
            dd.embedding_index_probe(idx, df)

    def test_empty_index_and_empty_batch(self, spark_session):
        df = self._corpus(spark_session, n=5)
        empty = df.filter('vec_id < 0')
        idx_empty = dd.embedding_band_index(empty, dim=16)
        assert idx_empty.columns == ['vec_id', 'band', 'bucket']
        assert dd.embedding_index_probe(
            idx_empty, df, dim=16).count() == 0
        idx = dd.embedding_band_index(df, dim=16)
        assert dd.embedding_index_probe(
            idx, empty, dim=16).count() == 0

    def test_probe_hot_bucket_guard_star_caps(self, spark_session):
        """A clone mega-family in the stored index joins each new
        clone against the bucket MIN only, not every member."""
        fam = [(i, [1.0, 2.0, 3.0]) for i in range(50)]
        old = spark_session.createDataFrame(
            fam, 'vec_id bigint, embedding array<double>')
        new = spark_session.createDataFrame(
            [(999, [2.0, 4.0, 6.0])],
            'vec_id bigint, embedding array<double>')
        idx = dd.embedding_band_index(old, dim=3)
        got = {(r['new_id'], r['index_id'])
               for r in dd.embedding_index_probe(
                   idx, new, dim=3, max_bucket_size=10).collect()}
        assert got == {(999, 0)}  # min-id representative only
        uncapped = dd.embedding_index_probe(
            idx, new, dim=3, max_bucket_size=None).count()
        assert uncapped == 50


class TestKeepBestDuplicate:
    def _kept(self, spark, rows, pairs):
        df = spark.createDataFrame(
            rows, 'doc_id bigint, score double')
        pdf = spark.createDataFrame(pairs, 'id_a bigint, id_b bigint')
        return {r['doc_id'] for r in dd.keep_best_duplicate(
            df, pdf, 'doc_id', 'score').collect()}

    def test_best_score_wins_per_cluster(self, spark_session):
        rows = [(1, 0.2), (2, 0.9), (3, 0.5),   # cluster {1,2,3}
                (4, 0.1), (5, 0.1),             # cluster {4,5} tie
                (6, 0.7)]                       # loner
        pairs = [(1, 2), (2, 3), (4, 5)]
        kept = self._kept(spark_session, rows, pairs)
        assert kept == {2, 4, 6}  # best, tie->lowest id, loner

    def test_null_scores_rank_last(self, spark_session):
        rows = [(1, None), (2, 0.1), (3, None)]
        kept = self._kept(spark_session, rows, [(1, 2), (2, 3)])
        assert kept == {2}

    def test_all_null_tie_keeps_lowest_id(self, spark_session):
        rows = [(7, None), (9, None)]
        kept = self._kept(spark_session, rows, [(7, 9)])
        assert kept == {7}

    def test_nan_scores_rank_last(self, spark_session):
        """Spark orders NaN ABOVE +Infinity, so a raw max_by would
        keep the NaN row; keep_best must fold NaN into the same
        below-everything bucket as NULL."""
        rows = [(1, float('nan')), (2, 0.1), (3, float('nan'))]
        kept = self._kept(spark_session, rows, [(1, 2), (2, 3)])
        assert kept == {2}

    def test_all_nan_and_null_tie_keeps_lowest_id(self, spark_session):
        rows = [(7, float('nan')), (9, None), (11, float('nan'))]
        kept = self._kept(
            spark_session, rows, [(7, 9), (9, 11)])
        assert kept == {7}

    def test_chain_resolves_one_component(self, spark_session):
        # a path (not a clique): 1-2-3-4-5; CC must merge it all
        rows = [(i, float(i)) for i in range(1, 6)]
        kept = self._kept(
            spark_session, rows, [(1, 2), (2, 3), (3, 4), (4, 5)])
        assert kept == {5}  # highest score in the single component

    def test_matches_lowest_id_when_score_is_neg_id(
            self, spark_session):
        """score = -id makes keep-best equal greedy keep-lowest-id —
        cross-checked against the established dedup rule."""
        rows = [(i, float(-i)) for i in range(20)]
        pairs = [(i, i + 10) for i in range(10)]
        kept = self._kept(spark_session, rows, pairs)
        assert kept == set(range(10))


class TestContainmentPairs:
    def test_excerpt_is_contained_not_jaccard_similar(
            self, spark_session):
        from ons_utils_spark.operators.dedup import (
            containment_pairs, ngram_jaccard_join)
        body = ' '.join(f'w{i}' for i in range(60))
        quote = ' '.join(f'w{i}' for i in range(10))
        df = spark_session.createDataFrame(
            [(1, body), (2, quote),
             (3, 'totally different words entirely here now')],
            'doc_id long, text string')
        pairs = {(r['id_a'], r['id_b']): r['containment'] for r in
                 containment_pairs(df, threshold=0.9).collect()}
        assert pairs == {(2, 1): 1.0}  # directed: quote inside body
        # Jaccard at the same bar sees nothing: |A∩B|/|A∪B| = 8/58
        jac = ngram_jaccard_join(df, threshold=0.9).collect()
        assert jac == []

    def test_threshold_and_direction(self, spark_session):
        from ons_utils_spark.operators.dedup import containment_pairs
        # doc 2 shares 4 of its 8 trigrams with doc 1
        df = spark_session.createDataFrame(
            [(1, ' '.join(f'w{i}' for i in range(20))),
             (2, ' '.join(f'w{i}' for i in range(4, 10))
                 + ' x y z a b c')],
            'doc_id long, text string')
        out = containment_pairs(df, threshold=0.3).collect()
        by_pair = {(r['id_a'], r['id_b']): r['containment']
                   for r in out}
        assert (2, 1) in by_pair
        assert all(0.3 <= v <= 1.0 for v in by_pair.values())


class TestHotShingleCapDefault:
    """The hot-shingle DF cap is ON by default (anti-quadratic
    guard); ``None`` restores the exact uncapped join."""

    def test_default_is_documented_constant(self):
        import inspect

        from ons_utils_spark.operators import dedup as dd
        # The signature default is a sentinel (so an IMPLICIT cap can
        # be distinguished from an explicit 10k and warned once);
        # it resolves to the documented constant.
        for fn in (dd.ngram_jaccard_join, dd.containment_pairs):
            sig = inspect.signature(fn)
            assert (sig.parameters['max_shingle_df'].default
                    is dd._CAP_UNSET)
        assert dd.DEFAULT_MAX_SHINGLE_DF == 10_000

    def test_implicit_default_cap_warns_once(self, spark_session):
        import warnings

        from ons_utils_spark.operators import dedup as dd
        df = spark_session.createDataFrame(
            [(1, 'alpha beta gamma delta')], 'doc_id long, text string')
        old = dd._default_cap_warned
        try:
            dd._default_cap_warned = False
            with warnings.catch_warnings(record=True) as rec:
                warnings.simplefilter('always')
                dd.ngram_jaccard_join(df)          # implicit → warns
                dd.containment_pairs(df)           # already warned
                dd.ngram_jaccard_join(df, max_shingle_df=None)
            hits = [w for w in rec
                    if 'max_shingle_df' in str(w.message)]
            assert len(hits) == 1
            # explicit cap (even the same value) stays silent
            dd._default_cap_warned = False
            with warnings.catch_warnings(record=True) as rec:
                warnings.simplefilter('always')
                dd.ngram_jaccard_join(
                    df, max_shingle_df=dd.DEFAULT_MAX_SHINGLE_DF)
                dd.containment_pairs(df, max_shingle_df=None)
            assert not [w for w in rec
                        if 'max_shingle_df' in str(w.message)]
        finally:
            dd._default_cap_warned = old

    def test_cap_drops_boilerplate_evidence(self, spark_session):
        from ons_utils_spark.operators.dedup import (
            containment_pairs, ngram_jaccard_join)
        # Every doc shares one boilerplate trigram; docs 1/2 also
        # share real content.  With the cap at 2 the boilerplate
        # shingle (df=4 > 2) is dropped, so only the real pair
        # (whose shared shingles sit at df=2) survives; uncapped
        # (None) the boilerplate joins every pair of docs.
        boiler = 'site nav footer'
        df = spark_session.createDataFrame(
            [(1, boiler + ' alpha beta gamma delta'),
             (2, boiler + ' alpha beta gamma delta'),
             (3, boiler + ' unrelated words entirely here'),
             (4, boiler + ' other unmatched content block')],
            'doc_id long, text string')
        capped = ngram_jaccard_join(
            df, threshold=0.01, max_shingle_df=2)
        got = {(r['id_a'], r['id_b']) for r in capped.collect()}
        assert got == {(1, 2)}
        uncapped = ngram_jaccard_join(
            df, threshold=0.01, max_shingle_df=None)
        assert {(r['id_a'], r['id_b']) for r in uncapped.collect()} \
            == {(a, b) for a in range(1, 5) for b in range(1, 5)
                if a < b}
        cont = containment_pairs(
            df, threshold=0.1, max_shingle_df=2)
        assert {(r['id_a'], r['id_b']) for r in cont.collect()} \
            == {(1, 2), (2, 1)}


def test_dedup_report_histogram(spark_session):
    from ons_utils_spark.operators.dedup import dedup_report
    rows = ([(i, 'unique %d' % i) for i in range(5)]
            + [(10, 'twin'), (11, 'twin')]
            + [(20, 'TRIPLET'), (21, 'triplet  '), (22, ' Triplet')])
    df = spark_session.createDataFrame(rows, 'doc_id long, text string')
    norm = {r['family_size']: (r['n_families'], r['n_docs'])
            for r in dedup_report(df).collect()}
    assert norm == {1: (5, 5), 2: (1, 2), 3: (1, 3)}
    raw = {r['family_size']: r['n_families']
           for r in dedup_report(df, normalize=False).collect()}
    # without normalization the case/whitespace triplet splits
    assert raw == {1: (8), 2: 1}


class TestDuplicateSentenceSpans:
    """C4 three-sentence-span dedup: planted shared paragraphs are
    found, keep marks the lowest (id, idx), unique spans stay out."""

    def _df(self, spark_session):
        shared = ('cookie notice here. accept all cookies now. '
                  'privacy policy link below. terms apply today.')
        rows = [
            (1, 'first unique lede sentence one. second thought two. '
                + shared),
            (2, 'a different opening sentence. ' + shared),
            (3, 'totally unrelated doc. nothing repeats here at all. '
                'three distinct sentences live. four now even.'),
        ]
        return spark_session.createDataFrame(
            rows, 'doc_id long, text string')

    def test_planted_spans_found_and_keep_is_first(
            self, spark_session):
        from ons_utils_spark.operators.dedup import (
            duplicate_sentence_spans)
        out = duplicate_sentence_spans(self._df(spark_session))
        rows = out.collect()
        # the 4 shared sentences yield 2 all-shared windows per doc
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r['doc_id'], []).append(r)
        assert set(by_doc) == {1, 2}
        assert all(len(v) == 2 for v in by_doc.values())
        assert all(r['n_occ'] == 2 for r in rows)
        # doc 1 has the lower id -> keeps both spans
        assert all(r['keep'] for r in by_doc[1])
        assert not any(r['keep'] for r in by_doc[2])
        # span_idx is 1-based within each doc's window list
        assert sorted(r['span_idx'] for r in by_doc[1]) == [3, 4]
        assert sorted(r['span_idx'] for r in by_doc[2]) == [2, 3]

    def test_dups_only_false_reports_everything(self, spark_session):
        from ons_utils_spark.operators.dedup import (
            duplicate_sentence_spans)
        out = duplicate_sentence_spans(
            self._df(spark_session), dups_only=False)
        # doc 3: 4 sentences -> 2 windows, all unique, all kept
        d3 = [r for r in out.collect() if r['doc_id'] == 3]
        assert len(d3) == 2
        assert all(r['n_occ'] == 1 and r['keep'] for r in d3)

    def test_short_doc_contributes_nothing(self, spark_session):
        from ons_utils_spark.operators.dedup import (
            duplicate_sentence_spans)
        df = spark_session.createDataFrame(
            [(1, 'only two sentences. here they are.')],
            'doc_id long, text string')
        assert duplicate_sentence_spans(df, dups_only=False) \
            .count() == 0

    def test_min_span_chars_exempts(self, spark_session):
        from ons_utils_spark.operators.dedup import (
            duplicate_sentence_spans)
        df = spark_session.createDataFrame(
            [(1, 'a. b. c.'), (2, 'a. b. c.')],
            'doc_id long, text string')
        assert duplicate_sentence_spans(df).count() == 2
        assert duplicate_sentence_spans(
            df, min_span_chars=20).count() == 0

    def test_bad_span_raises(self, spark_session):
        from ons_utils_spark.operators.dedup import (
            duplicate_sentence_spans)
        with pytest.raises(ValueError):
            duplicate_sentence_spans(
                self._df(spark_session), span=0)


class TestNgramContamination:
    def _frames(self, spark_session):
        corpus = spark_session.createDataFrame(
            [(1, 'alpha beta gamma delta epsilon zeta eta theta'),
             (2, 'one two three four five six seven eight nine'),
             (3, 'alpha beta gamma delta different tail here now'),
             (4, 'too short')],
            'doc_id long, text string')
        bench = spark_session.createDataFrame(
            [(100, 'ALPHA beta gamma delta'),
             (101, 'five six seven eight'),
             (102, 'nothing matches this benchmark entry')],
            'bench_id long, text string')
        return corpus, bench

    def test_hits_positions_and_totals(self, spark_session):
        from ons_utils_spark.operators.dedup import ngram_contamination
        corpus, bench = self._frames(spark_session)
        out = ngram_contamination(corpus, bench, n=4)
        got = {(r['doc_id'], r['bench_id']):
               (r['n_hits'], r['first_pos'], r['n_doc_ngrams'])
               for r in out.collect()}
        # bench 100's single 4-gram opens docs 1 and 3 (case-folded)
        assert got[(1, 100)] == (1, 1, 5)
        assert got[(3, 100)] == (1, 1, 5)
        # bench 101's 4-gram sits at position 5 of doc 2
        assert got[(2, 101)] == (1, 5, 6)
        assert len(got) == 3  # bench 102 and doc 4 never appear

    def test_multi_hit_counts(self, spark_session):
        from ons_utils_spark.operators.dedup import ngram_contamination
        corpus = spark_session.createDataFrame(
            [(1, 'a b c d e f')], 'doc_id long, text string')
        bench = spark_session.createDataFrame(
            [(9, 'a b c d e')], 'bench_id long, text string')
        out = ngram_contamination(corpus, bench, n=2).collect()
        # bench grams {a b, b c, c d, d e}; doc positions 1-4 hit
        assert out[0]['n_hits'] == 4 and out[0]['first_pos'] == 1
        assert out[0]['n_doc_ngrams'] == 5

    def test_short_benchmark_whole_text_gram(self, spark_session):
        from ons_utils_spark.operators.dedup import ngram_contamination
        corpus = spark_session.createDataFrame(
            [(1, 'x y z w v u')], 'doc_id long, text string')
        bench = spark_session.createDataFrame(
            [(9, 'y z w')], 'bench_id long, text string')
        # bench shorter than n falls back to its whole text as one
        # gram of length 3 — which matches doc 1's trigram at pos 2
        out = ngram_contamination(corpus, bench, n=3).collect()
        assert out[0]['first_pos'] == 2

    def test_bad_n_raises(self, spark_session):
        from ons_utils_spark.operators.dedup import ngram_contamination
        corpus, bench = self._frames(spark_session)
        with pytest.raises(ValueError):
            ngram_contamination(corpus, bench, n=0)
