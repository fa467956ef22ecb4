"""Driver-contract regression: a fast subset of queries() vs oracle_sql()
through the same compare the driver applies (tools/check_contract does the
full sweep; this keeps the cheap ones inside `pytest -x -q`)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
FAST = [
    "rel_agg", "rel_joins",
    "kg_intersection", "doc_profile", "doc_pii", "doc_split",
    "dedup_simhash", "sim_cosine_topk", "kb_ingest",
    # fixture-backed KG rows on the fused pass
    "kg_extract_text", "kg_mentions", "kg_linked_top1",
    "kg_linked_top1_fused", "kg_triples", "kg_annotations",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", FAST)
def test_query_matches_oracle(spark, con, name):
    sdf = _norm(entry_mod.queries()[name](spark, SF_DIR).toPandas())
    odf = _norm(con.execute(entry_mod.oracle_sql()[name]).fetchdf())
    assert list(sdf.columns) == list(odf.columns)
    assert len(sdf) == len(odf)
    pd.testing.assert_frame_equal(sdf, odf, check_dtype=False, check_exact=True)


def test_entry_flagship(spark):
    """entry(): one summary row per sf0.001 document plus the two reference
    payloads, which link every mention they detect."""
    rows = entry_mod.entry(spark).collect()
    assert len(rows) == 502
    payloads = {r.url: (r.n_chars, r.n_mentions, r.n_linked)
                for r in rows if r.url.startswith("payload://")}
    assert payloads == {"payload://mona_lisa": (104, 4, 4),
                        "payload://spacex": (201, 6, 6)}
