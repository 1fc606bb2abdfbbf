"""Seeded inputs for the benchmark workloads.

Batch workloads read parquet tables made from the base tables in
``perfbench/data`` (the sf0.01 synthetic star schema plus ``documents``
and ``embeddings``).  :func:`make_tables` writes one file per table
with its rows permuted by the seed.  The same seed gives the same
bytes; another seed changes only row order, so every order-insensitive
result is unchanged.

The ingest workload streams synthetic web documents made by
:func:`make_docs`: pages with several crawl-style URL spellings.  The
seed permutes arrival order and picks where the stream is cut into
micro-batches.
"""
from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), 'data')
ROW_GROUP = 65_536


def _rng(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def make_tables(out_dir: str, seed: int, tables) -> dict:
    """Write ``tables`` into ``out_dir``; return ``{table: (rows, bytes)}``."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in tables:
        base = pq.read_table(os.path.join(DATA_DIR, f'{name}.parquet'))
        table = base.take(pa.array(_rng(seed, name).permutation(
            base.num_rows)))
        path = os.path.join(out_dir, f'{name}.parquet')
        pq.write_table(table, path, row_group_size=ROW_GROUP)
        sizes[name] = (table.num_rows, os.path.getsize(path))
    return sizes


# ---------------------------------------------------------------- ingest

_VOCAB = [f'w{i:04d}' for i in range(6000)]
_SOURCES = ('news', 'forum', 'wiki', 'blog')


def _spell_url(page: int, variant: int) -> str:
    """One crawl spelling of page ``page``: ``variant`` 0 is canonical;
    the others add case, default-port, tracking-parameter and fragment
    noise that URL canonicalization removes."""
    scheme = 'https' if page % 2 else 'http'
    host = f'www{page % 7}.{_SOURCES[page % 4]}.example.com'
    path = f'/doc/{page}'
    query = f'?id={page % 11}' if page % 3 == 0 else ''
    if variant == 0:
        return f'{scheme}://{host}{path}{query}'
    port = ':443' if scheme == 'https' else ':80'
    tracking = 'utm_source=feed'
    if query:
        query = (f'?{tracking}&id={page % 11}' if variant % 2
                 else f'{query}&utm_campaign=c{variant}')
    else:
        query = f'?{tracking}'
    frag = f'#s{variant}' if variant % 3 else ''
    return (f'{scheme.upper() if variant % 2 else scheme.title()}://'
            f'{host.upper() if variant % 2 else host}'
            f'{port if variant != 2 else ""}{path}{query}{frag}')


def make_docs(seed: int, n_pages: int = 100, n_docs: int = 200,
              n_batches: int = 2):
    """Synthetic crawl: ``(docs, batches)``.

    ``docs`` maps ``doc_id`` to ``{url, text, page}``.  The first
    ``n_pages`` docs each own a distinct page, the rest re-crawl a
    random page under another spelling; every doc has its own text.
    ``batches`` is the arrival order: a seeded permutation of the doc
    ids cut into ``n_batches`` micro-batches of seeded sizes.  The page
    layout itself does not depend on the seed, so only arrival order
    varies.
    """
    layout = np.random.default_rng(20240601)
    pages = np.concatenate([np.arange(n_pages), layout.integers(
        0, n_pages, n_docs - n_pages)])
    layout.shuffle(pages[n_pages:])
    seen_page: dict = {}
    docs = {}
    for doc_id in range(n_docs):
        page = int(pages[doc_id])
        variant = seen_page[page] = seen_page.get(page, -1) + 1
        words = layout.choice(len(_VOCAB), size=int(layout.integers(40, 70)),
                              replace=False)
        docs[doc_id] = {'url': _spell_url(page, variant),
                        'text': ' '.join(_VOCAB[w] for w in words),
                        'page': page}
    rng = _rng(seed, 'arrival')
    order = rng.permutation(n_docs)
    # each cut moves at most a quarter batch from the even split
    cuts = [round(n_docs * (j + rng.uniform(-0.25, 0.25)) / n_batches)
            for j in range(1, n_batches)]
    batches = [sorted(int(d) for d in chunk)
               for chunk in np.split(order, cuts)]
    return docs, batches


def write_stream_source(src_dir: str, docs: dict, batches) -> int:
    """Stage ``batches`` as one JSON-lines file each, oldest first by
    mtime, so a ``maxFilesPerTrigger=1`` file stream replays them in
    order.  Returns the bytes written."""
    os.makedirs(src_dir, exist_ok=True)
    total = 0
    for i, batch in enumerate(batches):
        path = os.path.join(src_dir, f'batch-{i:03d}.json')
        with open(path, 'w') as fh:
            for doc_id in batch:
                d = docs[doc_id]
                fh.write(json.dumps({'doc_id': doc_id, 'url': d['url'],
                                     'text': d['text']}) + '\n')
        os.utime(path, (1_000_000 + 10 * i, 1_000_000 + 10 * i))
        total += os.path.getsize(path)
    return total
