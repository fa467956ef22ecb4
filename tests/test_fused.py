"""Pins of the fused plan's outputs on the committed 200-doc fixtures.

The digests were recorded while a staged plan (chunk table, offset window,
NER pass, fine-tag join, cogrouped linker) still ran beside the fused pass
and agreed with it on every column; both tagger specs give the same tables
on these fixtures.  A change to any linked column, triple or mention row
moves a digest.
"""

from __future__ import annotations

import hashlib
import json

import pytest

from entity_extraction_svc_spark.plans.fused import (
    LINKED_COLS,
    MENTION_COLS,
    build_fused,
    build_kg,
)

# table -> (rows, sha256 of the sorted JSON-encoded rows)
PINS = {
    "linked": (550, "f999e5112f56a64ba14ee8dc76c88291cf0400eae458ec51c5433a4f5c61cb69"),
    "triples": (207, "f02d28e6df2a3eedabba333ca9bebd23d2ccde7626193a731a678d28580f1f57"),
    "mentions": (541, "e8a496f2742670f2e1420b57bb33497c9fb827467846813f54b9c9824d5731fc"),
}


def _digest(df, cols):
    rows = sorted(json.dumps([r[c] for c in cols])
                  for r in df.select(*cols).collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("model", ["gazetteer", "gazetteer2"])
def test_fused_outputs_pinned(spark, fixture_dir, monkeypatch, model):
    monkeypatch.setenv("SPARK_KG_MODEL", model)
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    linked, triples = build_fused(spark, pages, fixture_dir)
    mentions = build_kg(spark, pages, fixture_dir).mentions
    got = {
        "linked": _digest(linked, LINKED_COLS),
        "triples": _digest(triples, ["subj", "pred", "obj"]),
        "mentions": _digest(mentions, MENTION_COLS),
    }
    assert got == PINS
