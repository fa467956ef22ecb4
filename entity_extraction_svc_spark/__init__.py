"""PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the capabilities of
``deeppavlov/entity_extraction_svc`` (reference at /root/reference) as an
idiomatic Spark batch pipeline:

    pages(url, warc_ts, html, text, lang)
      -> ONE narrow mapInPandas pass per document (plans/fused.py):
           extract   (byte-identical boilerplate strip)
           chunk     (sentence packing)
           tag       (NER stand-in w/ reference BIO-decode semantics,
                      one tag_batch call per Arrow batch)
           classify  (EL fine-tag top-3)
           link      (inverted-index candidate gen + fuzzy scoring +
                      connection ranking)
      -> triples           ((subj, pred, obj) partitioned by subject hash)
      -> canonicalize      (connected-components alias clustering)

plus the large-scale training-data operators (dedup, similarity search,
text analysis, multimodal plumbing) on top of the same engine.
"""

__version__ = "0.1.0"
