"""The KG plan: extract -> chunk -> NER -> link in ONE mapInPandas pass.

Every stage of the KG pipeline up to linking is per-document work (the
reference processes each request doc independently end-to-end), so the
plan is a single narrow ``mapInPandas`` over the pages scan: zero shuffles
until the final triples aggregation, no chunk table, one Arrow round trip
per input split.  The chunk -> doc offset merge (N6) is a running shift
inside the per-document loop.

At 100 TB this is the difference between shuffling the full chunked corpus
twice and never shuffling document payloads at all: the only wide exchanges
left in the job are the distinct-QID semi-join and the subject-hash
repartition of the (tiny) triples output.  A BERT tagger slots in by
batching the chunk texts accumulated per Arrow batch (the per-doc loop
already collects them) — same plumbing, model call instead of gazetteer.

``fused_mentions`` runs the same extract -> chunk -> tag -> decode code and
stops before linking: it emits the pre-link mention rows that the mention
contract row, the flagship summary and the NER train/eval harness read.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_extraction_svc_spark.functions import htmltext
from entity_extraction_svc_spark.operators.chunker import chunk_doc
from entity_extraction_svc_spark.operators.eltags import ALT_FINE
from entity_extraction_svc_spark.operators.extract import extract_text
from entity_extraction_svc_spark.operators.linker import (
    LINKED_SCHEMA,
    link_doc,
)
from entity_extraction_svc_spark.operators.ner import MENTION_SCHEMA
from entity_extraction_svc_spark.operators.tagger import (
    decode_tagged,
    decode_two_headed,
    load_tagger,
)
from entity_extraction_svc_spark.operators.triples import materialize_triples
from entity_extraction_svc_spark.sources.kb import (
    collect_linker_dicts,
    normalize_label,
    read_dim_rows,
)

LINKED_COLS = ["url", "mention_id", "substr", "start", "end", "rank", "qid",
               "conf", "page", "ent_tag", "substr_score", "num_rels",
               "conn_score_notag", "conn_score_tag"]
MENTION_COLS = ["url", "chunk_id", "substr", "start", "end", "proba", "tag"]


def _fine_tag_lookup(gaz_rows: list[dict]) -> dict[str, str]:
    """norm surface -> fine tag of the most popular owner (max num_rels)."""
    best: dict[str, tuple[int, str]] = {}
    for r in gaz_rows:
        k = normalize_label(r["surface"])
        cur = best.get(k)
        if cur is None or r["num_rels"] > cur[0]:
            best[k] = (r["num_rels"], r["fine_tag"])
    return {k: v[1] for k, v in best.items()}


def _chunk_doc_for_tagging(text: str, texts_flat: list[str],
                           subword_len=None):
    """Chunk one doc, append the (soft-hyphen-stripped) chunk texts to the
    batch-wide ``texts_flat`` accumulator, and return per-chunk metadata
    (flat index, doc offset shift, sentences, sentence offsets)."""
    metas = []
    shift = 0
    for chunk_text, sents, soffs in chunk_doc(text, subword_len):
        metas.append((len(texts_flat), shift, sents, soffs))
        texts_flat.append(chunk_text.replace("\xad", " "))  # H7
        shift += len(chunk_text) + 1
    return metas


def _decode_doc(tagger, fine_lookup, url, metas, tagged, lang: str = "en"):
    """Decode half: the tagged chunks of one doc -> (mentions, sentences,
    sentence offsets), all at doc-level offsets (N4-N6).  Mentions come
    sorted by (start, end, substr), each carrying its chunk_id and its fine
    and runner-up tags.

    A two-headed tagger (SPARK_KG_MODEL=gazetteer2 / hf2) decodes through
    merge_markups — the fine tag (or MISC after the 0.88 gate) comes from
    the types head directly, not the fine_lookup table.
    """
    two_headed = hasattr(tagger, "fine_tags")
    mentions: list[dict] = []
    sentences: list[str] = []
    sentences_offsets: list[tuple[int, int]] = []
    for chunk_id, (ti, shift, sents, soffs) in enumerate(metas):
        if two_headed:
            for substr, start, end, proba, fine, coarse in decode_two_headed(
                tagged[ti], tagger, lang=lang
            ):
                mentions.append({
                    "url": url, "chunk_id": chunk_id, "substr": substr,
                    "start": start + shift, "end": end + shift,
                    "proba": proba, "tag": coarse,
                    "fine_tag": None if fine == "MISC" else fine,
                    "alt_tag": ALT_FINE.get(fine, "MISC"),
                })
        else:
            for substr, start, end, proba, tag in decode_tagged(
                tagged[ti], tagger.tags_init, lang=lang
            ):
                fine = fine_lookup.get(normalize_label(substr))
                mentions.append({
                    "url": url, "chunk_id": chunk_id, "substr": substr,
                    "start": start + shift, "end": end + shift,
                    "proba": proba, "tag": tag, "fine_tag": fine,
                    "alt_tag": ALT_FINE.get(fine or "", "MISC") if fine else "MISC",
                })
        for sent, (s, e) in zip(sents, soffs):
            sentences.append(sent)
            sentences_offsets.append((s + shift, e + shift))
    mentions.sort(key=lambda m: (m["start"], m["end"], m["substr"]))
    return mentions, sentences, sentences_offsets


def _assemble_doc(d, tagger, fine_lookup, url, text, metas, tagged,
                  lang: str = "en") -> list[dict]:
    """Link half: decode one doc's tagged chunks, then link it (G-R-P)."""
    mentions, sentences, sentences_offsets = _decode_doc(
        tagger, fine_lookup, url, metas, tagged, lang)
    if not mentions:
        return []
    return link_doc(d, text, sentences, sentences_offsets, mentions, lang)


def link_page(d, tagger, fine_lookup: dict[str, str],
              url: str, text: str, lang: str = "en") -> list[dict]:
    """One document end-to-end: chunk, tag, decode, classify, link.
    ``tagger`` is any ``tag_batch`` protocol implementation."""
    if not text:
        return []
    texts_flat: list[str] = []
    metas = _chunk_doc_for_tagging(text, texts_flat,
                                   getattr(tagger, "subword_len", None))
    tagged = tagger.tag_batch(texts_flat)
    return _assemble_doc(d, tagger, fine_lookup, url, text, metas, tagged, lang)


def _payload_cols(pages: DataFrame, source: str) -> DataFrame:
    """(url, payload, lang): the only columns the pass reads, so the pages
    scan prunes everything else."""
    lang_col = (F.col("lang") if "lang" in pages.columns
                else F.lit("en")).alias("lang")
    payload = "html" if source == "html" else "text"
    return pages.select("url", F.col(payload).alias("payload"), lang_col)


def _tag_docs(pdf: pd.DataFrame, tagger, source: str):
    """Extract and chunk every doc of one Arrow batch, then tag ALL their
    chunk texts in ONE ``tag_batch`` call (a real checkpoint sees one
    padded forward per Arrow batch, not one per chunk or per doc — the
    tag_batch protocol of operators/tagger.py).  Returns the per-doc
    (url, text, lang, chunk metas) list and the tagged chunks."""
    # N2: a real tagger's tokenizer drives the 300-subword chunk budget
    slen = getattr(tagger, "subword_len", None)
    docs: list[tuple[str, str, str, list]] = []
    texts_flat: list[str] = []
    for url, payload, lang in zip(pdf["url"], pdf["payload"], pdf["lang"]):
        if payload is None:
            continue
        if source == "html":
            text = htmltext.preprocess_html(payload)
        else:
            text = htmltext.preprocess_text(payload)
        if not text:
            continue
        docs.append((url, text, lang or "en",
                     _chunk_doc_for_tagging(text, texts_flat, slen)))
    return docs, tagger.tag_batch(texts_flat)


def fused_link(pages: DataFrame, tagger_bc, dicts_bc, fine_bc,
               source: str = "html") -> DataFrame:
    """pages -> linked rows, one narrow mapInPandas (no shuffle)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        d = dicts_bc.value
        tagger = tagger_bc.value
        fine_lookup: dict[str, str] = fine_bc.value
        for pdf in batches:
            docs, tagged = _tag_docs(pdf, tagger, source)
            rows: list[dict] = []
            for url, text, lang, metas in docs:
                rows.extend(
                    _assemble_doc(d, tagger, fine_lookup, url, text, metas,
                                  tagged, lang)
                )
            yield pd.DataFrame(rows, columns=LINKED_COLS)

    return _payload_cols(pages, source).mapInPandas(_run, LINKED_SCHEMA)


def fused_mentions(pages: DataFrame, tagger_bc,
                   source: str = "html") -> DataFrame:
    """pages -> pre-link mention rows (MENTION_SCHEMA, doc-level offsets),
    one narrow mapInPandas over the same extract/chunk/tag/decode code as
    ``fused_link``."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tagger = tagger_bc.value
        for pdf in batches:
            docs, tagged = _tag_docs(pdf, tagger, source)
            rows: list[dict] = []
            for url, _text, lang, metas in docs:
                # fine tags feed only the linker; mention rows carry none
                rows.extend(_decode_doc(tagger, {}, url, metas, tagged, lang)[0])
            yield pd.DataFrame(rows, columns=MENTION_COLS)

    return _payload_cols(pages, source).mapInPandas(_run, MENTION_SCHEMA)


def _broadcast_models(spark: SparkSession, kb_dir: str):
    """(tagger, fine-tag lookup, linker dicts) broadcasts for one KB."""
    gaz_rows = read_dim_rows(spark, f"{kb_dir}/gazetteer.parquet")
    sc = spark.sparkContext
    # SPARK_KG_MODEL switch: gazetteer stand-in (default) or hf:<checkpoint>
    # (HF weights are NOT in the broadcast — each executor lazy-loads once)
    return (sc.broadcast(load_tagger(gaz_rows)),
            sc.broadcast(_fine_tag_lookup(gaz_rows)),
            sc.broadcast(collect_linker_dicts(spark, kb_dir)))


def _triples(spark: SparkSession, linked: DataFrame, kb_dir: str,
             num_partitions: int = 32) -> DataFrame:
    kb_triples = spark.read.parquet(f"{kb_dir}/kb_triples.parquet")
    return materialize_triples(linked, kb_triples, num_partitions)


def build_fused(spark: SparkSession, pages: DataFrame, kb_dir: str,
                source: str = "html", num_partitions: int = 32):
    """Returns (linked, triples) via the fused plan."""
    tagger_bc, fine_bc, dicts_bc = _broadcast_models(spark, kb_dir)
    linked = fused_link(pages, tagger_bc, dicts_bc, fine_bc, source)
    return linked, _triples(spark, linked, kb_dir, num_partitions)


@dataclass
class KGArtifacts:
    pages: DataFrame
    extracted: DataFrame
    mentions: DataFrame
    linked: DataFrame
    triples: DataFrame


def build_kg(spark: SparkSession, pages: DataFrame, kb_dir: str,
             source: str = "html") -> KGArtifacts:
    """Every table of one KG build — extracted text, pre-link mentions,
    linked rows and triples — for the contract rows and tests that read
    more than ``build_fused``'s (linked, triples).  Each table is its own
    lazy plan over ``pages``; the mention and link passes share the
    broadcasts."""
    tagger_bc, fine_bc, dicts_bc = _broadcast_models(spark, kb_dir)
    linked = fused_link(pages, tagger_bc, dicts_bc, fine_bc, source)
    return KGArtifacts(
        pages=pages,
        extracted=extract_text(pages, source=source),
        mentions=fused_mentions(pages, tagger_bc, source),
        linked=linked,
        triples=_triples(spark, linked, kb_dir),
    )
