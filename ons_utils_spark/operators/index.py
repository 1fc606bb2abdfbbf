"""Inverted index construction and conjunctive term search.

The retrieval-side companion to ``operators.tfidf``: build
token → posting-list tables from a document corpus (the data
structure behind keyword search, contamination screens, and
"which shards contain term X" routing at corpus scale), and answer
conjunctive (all-terms) queries against them.  The reference engine
(``/root/reference/ons_utils``) has no indexing tooling; this is
part of the LLM-pipeline extension surface.

Scale design (100 TB corpus):

* The (doc, token) explode is deduplicated then ranked in ONE
  token-keyed shuffle (both window functions share the partition
  key).  Posting lists for hot tokens (stopwords) are unbounded in
  a naive ``collect_list`` — ``max_postings`` caps each list at the
  lowest-id documents BEFORE collection, so no aggregation buffer
  exceeds ``max_postings`` longs while ``doc_freq`` still reports
  the true frequency.
* Searches broadcast the (tiny) term set; only matching posting
  rows are exploded, so a query touches O(Σ posting lengths) rows,
  never the corpus.
"""
from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Window
from pyspark.sql import functions as F

from .lineage import cut, scope
from .text import normalize_text, tokenize

__all__ = ['build_inverted_index', 'search_all_terms', 'bm25_rank',
           'bm25_multi_rank', 'mine_hard_negatives']


def build_inverted_index(
    df: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    min_df: int = 1,
    max_postings: Optional[int] = None,
) -> SparkDF:
    """Token → sorted posting list: ``(token, doc_freq, postings)``.

    ``doc_freq`` is the TRUE number of documents containing the
    token; ``postings`` holds the (ascending) ids of at most
    ``max_postings`` of them (lowest ids — deterministic).  Capping
    keeps hot-token aggregation buffers bounded at scale; pass
    ``None`` for exact/complete lists when the corpus is known to be
    small or stopwords are pre-filtered with ``min_df``/stoplists.
    """
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias('__doc'),
                F.explode(
                    tokenize(normalize_text(text_col))).alias('token'))
        .distinct()
    )
    wt = Window.partitionBy('token')
    ranked = toks.select(
        'token', '__doc',
        F.row_number().over(wt.orderBy('__doc')).alias('__rn'),
        F.count(F.lit(1)).over(wt).alias('doc_freq'),
    )
    if max_postings is not None:
        ranked = ranked.filter(F.col('__rn') <= max_postings)
    out = (
        ranked.groupBy('token')
        .agg(F.first('doc_freq').alias('doc_freq'),
             F.array_sort(F.collect_list('__doc')).alias('postings'))
    )
    if min_df > 1:
        out = out.filter(F.col('doc_freq') >= min_df)
    return out


def bm25_rank(
    df: SparkDF,
    terms: Sequence[str],
    id_col: str = 'doc_id',
    text_col: str = 'text',
    k1: float = 1.2,
    b: float = 0.75,
    top_k: Optional[int] = 10,
) -> SparkDF:
    """Okapi BM25 ranking of documents against a bag of query terms.

    Returns ``(doc_id, score)``, highest first (ties broken by id),
    limited to ``top_k`` when given.  All statistics come from the
    corpus itself in one pass each: document lengths (+ the avgdl
    one-row broadcast), per-term document frequencies, and term
    frequencies filtered to the query terms BEFORE any shuffle — so
    the heavy explode aggregates only matching tokens and the
    per-doc score join touches O(matching docs), never the corpus.
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` (the
    always-positive Robertson–Sparck Jones variant).

    Plan shape (r15): the query terms are LITERALS, so per-term
    frequencies ride the doc-length aggregation as conditional
    counts — ONE corpus tokenize + ONE doc-keyed exchange computes
    ``__dl`` and every ``__tf``; corpus stats (N, avgdl, per-term
    df) are one more tiny aggregate over that per-doc frame, and
    scoring is a broadcast-stats projection.  The old shape
    tokenized the corpus twice (doc-length pass + matched-term
    pass) and shuffle-joined doc lengths back onto the tf rows.
    Scores are bit-identical: per-doc term contributions add in
    sorted-term order (verified byte-equal on the sf0.1 corpus;
    addition of the ≤2-term query sums is order-insensitive by
    float commutativity).

    No SQL oracle is declared for this operator: the score is a sum
    of ``ln``-weighted floats whose low bits depend on summation
    order, so cross-engine hash replay is unreliable by construction
    — the formula is pinned by hand-computed unit tests instead
    (``tests/test_index.py``).
    """
    terms = sorted({t.lower() for t in terms})
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias('__doc'),
                F.explode(
                    tokenize(normalize_text(text_col))).alias('token'))
    )
    aggs = [F.count(F.lit(1)).alias('__dl')]
    for i, t in enumerate(terms):
        aggs.append(
            F.count(F.when(F.col('token') == t, 1)).alias(f'__tf{i}'))
    per_doc = toks.groupBy('__doc').agg(*aggs)
    stat_aggs = [F.avg('__dl').alias('__avgdl'),
                 F.count(F.lit(1)).alias('__n')]
    for i in range(len(terms)):
        stat_aggs.append(
            F.count(F.when(F.col(f'__tf{i}') > 0, 1))
            .alias(f'__df{i}'))
    stats = per_doc.agg(*stat_aggs)
    scored = per_doc.crossJoin(F.broadcast(stats))
    score = None
    matched_any = None
    for i in range(len(terms)):
        tf = F.col(f'__tf{i}').cast('double')
        idf = F.log(
            1.0 + (F.col('__n') - F.col(f'__df{i}') + 0.5)
            / (F.col(f'__df{i}') + 0.5))
        tf_norm = (
            tf * (k1 + 1)
            / (tf + k1 * (1 - b + b * F.col('__dl') / F.col('__avgdl')))
        )
        hit = F.col(f'__tf{i}') > 0
        s = F.when(hit, idf * tf_norm).otherwise(F.lit(0.0))
        score = s if score is None else score + s
        matched_any = hit if matched_any is None else matched_any | hit
    out = (
        scored.filter(matched_any)
        .select(F.col('__doc').alias(id_col), score.alias('score'))
        .sort(F.col('score').desc(), F.col(id_col).asc())
    )
    return out.limit(top_k) if top_k is not None else out


def search_all_terms(
    index: SparkDF,
    terms: Sequence[str],
) -> SparkDF:
    """Documents containing ALL of ``terms`` (conjunctive query).

    Filters the index to the term set (broadcast-size literal
    predicate — partition-prunable if the index is written
    partitioned/bucketed by token), explodes only those posting
    lists, and keeps ids hit by every term.  Returns ``(doc_id)``.
    Run against an UNCAPPED index (or one whose cap exceeds every
    queried term's doc_freq) for exact results — a capped hot-token
    list would silently drop matches, so this raises if any queried
    term's postings were truncated.
    """
    terms = [t.lower() for t in terms]
    hits = index.filter(F.col('token').isin(terms))
    truncated = hits.filter(
        F.size('postings') < F.col('doc_freq')).select('token')
    bad = [r['token'] for r in truncated.limit(5).collect()]
    if bad:
        raise ValueError(
            f'posting lists truncated for queried terms {bad}: '
            'rebuild the index with a larger/absent max_postings '
            'for exact conjunctive search')
    n = len(set(terms))
    return (
        hits.select(F.explode('postings').alias('doc_id'))
        .groupBy('doc_id')
        .agg(F.count(F.lit(1)).alias('__n'))
        .filter(F.col('__n') == n)
        .select('doc_id')
    )


def bm25_multi_rank(
    df: SparkDF,
    queries: SparkDF,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    query_id: str = 'query_id',
    terms_col: str = 'terms',
    k1: float = 1.2,
    b: float = 0.75,
) -> SparkDF:
    """Okapi BM25 for a whole QUERY SET in one corpus pass:
    ``(query_id, doc_id, score)`` for every document matching at
    least one of a query's terms.  Same statistics and formula as
    :func:`bm25_rank` (always-positive RSJ idf; terms lowercased
    and deduplicated per query), but the query set is a DataFrame
    ``(query_id, terms array<string>)`` — the shape of a training
    batch of retrieval queries.

    Scale shape: the query TERM table (query_id, term — a few rows
    per query) broadcasts against the exploded corpus tokens, so
    the heavy explode aggregates only matching tokens and runs ONCE
    for all queries — never a per-query corpus scan.  Corpus
    statistics (document lengths, avgdl, per-term df) are shared
    across queries.  No SQL score oracle (ln-float sums, same as
    ``bm25_rank``); rank-level results are engine-stable.
    """
    with scope() as s:
        qt = (
            queries.select(
                F.col(query_id).alias('__q'),
                F.explode(terms_col).alias('token'))
            .select('__q', F.lower('token').alias('token'))
            .distinct())
        toks = (
            df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias('__doc'),
                    F.explode(
                        tokenize(normalize_text(text_col))).alias('token'))
        )
        # ONE corpus tokenize pass computes doc lengths AND matched term
        # frequencies: unmatched tokens collapse onto a per-doc NULL key
        # in the same (__doc, token)-keyed aggregation (a broadcast left
        # join against the distinct term set marks matches), so the old
        # second explode pass — and its separate doc-length shuffle — is
        # gone.  Grouping unmatched tokens under NULL keeps the exchange
        # one row per (doc, matched term) plus one per doc, the same
        # bytes the tf shuffle alone used to move.  The lazy lineage cut
        # is what makes the sharing real: ``per`` feeds FOUR consumers
        # (tf chain, df, dl, global stats) and without the cut Catalyst
        # specializes the join per branch (the tf branch's not-null
        # filter turns it back into an inner join) so no two branches
        # share an exchange — the plan re-tokenized the corpus four
        # times (counted in plans/r15/q_bm25_hard_negatives_before.txt).
        # ``per`` is one row per document plus one per (document,
        # matched term) — corpus-COUNT-scale, never corpus-BYTES-scale —
        # so materializing it is cheap at any corpus size.
        marks = F.broadcast(
            qt.select('token').distinct().withColumn('__m', F.lit(1)))
        per = (
            toks.join(marks, 'token', 'left')
            .groupBy('__doc',
                     F.when(F.col('__m') == 1, F.col('token'))
                     .alias('token'))
            .agg(F.count(F.lit(1)).alias('__tf'))
            .transform(cut, eager=False)
        )
        dl = per.groupBy('__doc').agg(F.sum('__tf').alias('__dl'))
        stats = dl.agg(F.avg('__dl').alias('__avgdl'),
                       F.count(F.lit(1)).alias('__n'))
        tf = per.filter(F.col('token').isNotNull())
        dfreq = tf.groupBy('token').agg(
            F.count(F.lit(1)).alias('__df'))
        scored = (
            tf.join(F.broadcast(qt), 'token')
            .join(F.broadcast(dfreq), 'token')
            .join(dl, '__doc')
            .crossJoin(F.broadcast(stats))
        )
        idf = F.log(
            1.0 + (F.col('__n') - F.col('__df') + 0.5)
            / (F.col('__df') + 0.5))
        tf_norm = (
            F.col('__tf') * (k1 + 1)
            / (F.col('__tf')
               + k1 * (1 - b + b * F.col('__dl') / F.col('__avgdl')))
        )
        return s.result(
            scored.select('__q', '__doc', (idf * tf_norm).alias('__s'))
            .groupBy('__q', '__doc')
            .agg(F.sum('__s').alias('score'))
            .select(F.col('__q').alias(query_id),
                    F.col('__doc').alias(id_col), 'score')
        )


def mine_hard_negatives(
    df: SparkDF,
    queries: SparkDF,
    positives: SparkDF,
    k: int = 10,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    query_id: str = 'query_id',
    terms_col: str = 'terms',
    k1: float = 1.2,
    b: float = 0.75,
) -> SparkDF:
    """BM25 hard-negative mining for retrieval/embedding training
    (the standard DPR/sentence-transformers recipe, Karpukhin et
    al. 2020): per query, the ``k`` HIGHEST-BM25 documents that are
    NOT labeled positives — lexically confusable non-answers, the
    negatives that actually teach a dense retriever.  Returns
    ``(query_id, doc_id, rank)`` with rank 1 = hardest.

    One :func:`bm25_multi_rank` corpus pass, an anti-join against
    ``positives`` (``(query_id, doc_id)`` pairs), then a per-query
    top-k window over matched docs only.  Rank-level output (score
    stays internal) — ties break on doc id, so results replay on
    any engine from the integer (tf, dl, df) triples.
    """
    ranked = bm25_multi_rank(
        df, queries, id_col=id_col, text_col=text_col,
        query_id=query_id, terms_col=terms_col, k1=k1, b=b)
    neg = ranked.join(
        positives.select(query_id, id_col), [query_id, id_col],
        'left_anti')
    w = Window.partitionBy(query_id).orderBy(
        F.col('score').desc(), F.col(id_col).asc())
    return (
        neg.withColumn('rank', F.row_number().over(w))
        .filter(F.col('rank') <= k)
        .select(query_id, id_col, 'rank'))
