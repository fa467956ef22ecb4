"""Seeded benchmark inputs, cached on disk by (seed, size).

Page corpora come from the package's own fixture generator, so the KB, the
pages and the golden tables stay consistent: ``fixtures.build_kb`` and
``fixtures.generate_pages`` read the module global ``fixtures.SEED`` at call
time, and :func:`page_corpus` sets it for the duration of one write.

The curation table has the schema of the sf test data's
``documents.parquet`` (doc_id, text, lang, source, n_chars).  Its words are
drawn from the unigram distribution of the sf0.1 documents table, and a stated
share of its rows are edited near-copies of earlier rows, so the near-dup
operators have real work to find.
"""

from __future__ import annotations

import os
import random
import shutil

# Word counts of the sf0.1 documents table (5000 docs, 54.1 words
# per doc, 10..100 words); "dup" marks the table's own near-copies.
SF01_UNIGRAMS = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144,
    "column": 9127, "vector": 9119, "stream": 9117, "value": 9112,
    "data": 9104, "small": 9100, "join": 9080, "filter": 9063, "big": 9057,
    "group": 9040, "hash": 9024, "customer": 9017, "sort": 9005,
    "order": 8971, "slow": 8960, "line": 8951, "part": 8929, "fast": 8926,
    "row": 8925, "the": 8925, "agg": 8912, "key": 8893, "query": 8881,
    "a": 8877, "scan": 8863, "batch": 8829, "dup": 255,
}
SF01_LANGS = {"en": 2059, "zh": 753, "de": 702, "fr": 742, "es": 744}
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100
# per-token replacement rate inside a near-copy: with ~5% of words changed,
# a copy keeps most of its shingles and stays above the 0.5 Jaccard threshold
EDIT_RATE = 0.05


def _publish(tmp: str, final: str) -> str:
    """Move a fully written ``tmp`` dir to ``final``; a concurrent or
    earlier writer that got there first wins."""
    try:
        os.replace(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def page_corpus(cache_dir: str, seed: int, n_docs: int, shards: int) -> str:
    """Fixture directory (KB, sharded ``pages.parquet/``, goldens) for
    ``seed``; generated once per (seed, n_docs, shards)."""
    from entity_extraction_svc_spark import fixtures

    final = os.path.join(cache_dir, f"pages-s{seed}-n{n_docs}-k{shards}")
    if os.path.isdir(final):
        return final
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    saved = fixtures.SEED
    fixtures.SEED = seed
    try:
        fixtures.write_fixtures(tmp, n_docs=n_docs, shards=shards)
    finally:
        fixtures.SEED = saved
    return _publish(tmp, final)


def _weighted(rng: random.Random, table: dict[str, int], k: int) -> list[str]:
    return rng.choices(list(table), weights=list(table.values()), k=k)


def document_rows(seed: int, n_docs: int, near_dup_share: float) -> list[dict]:
    """Rows of the curation table.  A row is an edited near-copy of a
    uniformly chosen earlier original with probability ``near_dup_share``."""
    rng = random.Random(seed)
    vocab = list(SF01_UNIGRAMS)
    rows: list[dict] = []
    originals: list[list[str]] = []
    for doc_id in range(n_docs):
        if originals and rng.random() < near_dup_share:
            base = rng.choice(originals)
            words = [rng.choice(vocab) if rng.random() < EDIT_RATE else w
                     for w in base] + ["dup"]
        else:
            words = _weighted(rng, SF01_UNIGRAMS,
                              rng.randint(MIN_WORDS, MAX_WORDS))
            originals.append(words)
        text = " ".join(words)
        rows.append({
            "doc_id": doc_id,
            "text": text,
            "lang": _weighted(rng, SF01_LANGS, 1)[0],
            "source": f"src{doc_id % N_SOURCES}",
            "n_chars": len(text),
        })
    return rows


def documents_table(cache_dir: str, seed: int, n_docs: int,
                    near_dup_share: float) -> str:
    """``documents.parquet`` for ``seed``; generated once per
    (seed, n_docs, near_dup_share)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = os.path.join(
        cache_dir, f"docs-s{seed}-n{n_docs}-d{near_dup_share:g}")
    if os.path.isdir(final):
        return os.path.join(final, "documents.parquet")
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    schema = pa.schema([
        pa.field("doc_id", pa.int64()), pa.field("text", pa.string()),
        pa.field("lang", pa.string()), pa.field("source", pa.string()),
        pa.field("n_chars", pa.int64()),
    ])
    table = pa.Table.from_pylist(document_rows(seed, n_docs, near_dup_share),
                                 schema=schema)
    pq.write_table(table, os.path.join(tmp, "documents.parquet"))
    return os.path.join(_publish(tmp, final), "documents.parquet")
