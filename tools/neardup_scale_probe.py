"""Embedding near-dup scale probe: blocked broadcast-GEMM vs single.

Replicates the sf embeddings table R times (unique ids, orthogonal-
noise-free — identical vectors, so planted near-dups abound) and runs
``embedding_near_duplicates`` in blocked mode with a block size far
below the corpus size. Reports peak driver RSS for the blocked run —
the whole point of blocking is that the driver never materializes
more than one block — plus pair-count parity against the
single-broadcast path at the base scale. Prints one JSON line.

    python tools/neardup_scale_probe.py [sf_dir] [replicas] [block_rows]
"""
from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ons_utils_spark import get_spark  # noqa: E402
from ons_utils_spark.operators.dedup import (  # noqa: E402
    embedding_near_duplicates)
from ons_utils_spark.sources.readers import load_tables  # noqa: E402


def _rss_mb() -> float:
    return round(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    block_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 2000

    spark = get_spark('neardup-probe', master='local[32]',
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel('ERROR')
    emb = load_tables(spark, sf_dir, tables=['embeddings'])['embeddings']

    # parity at base scale: blocked == single-broadcast, exactly
    single = {(r['id_a'], r['id_b'])
              for r in embedding_near_duplicates(
                  emb, threshold=0.3).collect()}
    blocked_base = {(r['id_a'], r['id_b'])
                    for r in embedding_near_duplicates(
                        emb, threshold=0.3,
                        block_rows=max(50, block_rows // 10)).collect()}
    parity = single == blocked_base

    corpus = emb.crossJoin(
        spark.range(replicas).withColumnRenamed('id', '__rep')
    ).select(
        (F.col('vec_id') * replicas + F.col('__rep')).alias('vec_id'),
        'embedding',
    )
    n = corpus.count()
    rss_before = _rss_mb()
    t0 = time.time()
    # high threshold: replicas of the same base vector are cosine 1.0,
    # so the pair output stays sparse while every block does real work
    n_pairs = embedding_near_duplicates(
        corpus, threshold=0.9999, block_rows=block_rows).count()
    wall = round(time.time() - t0, 2)

    # LSH sub-n² evidence: candidate work (pre-verify bucket pairs)
    # as a fraction of all n²/2 pairs, on the ORGANIC corpus (near-
    # orthogonal — the hard case for false candidates) and on the
    # replicated corpus (clone mega-families — the star-cap case).
    from ons_utils_spark.operators.dedup import (  # noqa: E402
        _bucket_pair_join)
    from ons_utils_spark.operators.lineage import cut, scope  # noqa: E402
    from ons_utils_spark.operators.similarity import (  # noqa: E402
        hyperplane_band_udf)

    def _lsh_candidates(df, cap):
        # the scope makes the bucket census eager and frees the cut
        dim = len(df.select('embedding').first()['embedding'])
        sig = hyperplane_band_udf(dim)
        with scope():
            banded = cut(
                df.select(F.col('vec_id').alias('__id'),
                          sig(F.col('embedding')).alias('__keys'))
                .select('__id',
                        F.posexplode('__keys').alias('band', 'bucket')))
            return _bucket_pair_join(
                banded, ('band', 'bucket'), max_bucket_size=cap,
            ).dropDuplicates(['id_a', 'id_b']).count()

    base_n = emb.count()
    t1 = time.time()
    cand_organic = _lsh_candidates(
        emb.select('vec_id', 'embedding'), 2000)
    organic_sec = round(time.time() - t1, 2)
    t2 = time.time()
    lsh_pairs = embedding_near_duplicates(
        corpus, threshold=0.9999, method='lsh').count()
    lsh_sec = round(time.time() - t2, 2)

    print(json.dumps({
        'n_corpus': n, 'block_rows': block_rows,
        'num_blocks': -(-n // block_rows),
        'base_parity': parity,
        'n_pairs': n_pairs, 'blocked_sec': wall,
        'lsh_pairs': lsh_pairs, 'lsh_sec': lsh_sec,
        'lsh_pairs_match_blocked': lsh_pairs == n_pairs,
        'organic_candidates': cand_organic,
        'organic_candidate_fraction': round(
            cand_organic / (base_n * (base_n - 1) / 2), 8),
        'organic_candidates_sec': organic_sec,
        'driver_peak_rss_mb': _rss_mb(),
        'driver_rss_before_mb': rss_before,
    }))
    spark.stop()


if __name__ == '__main__':
    main()
