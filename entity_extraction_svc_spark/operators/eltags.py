"""EL fine-tag classification stand-in (reference T1-T3).

The reference runs a roberta span classifier over 48 fine tags
(``src/torch_transformers_el_tags.py:86-177``) and keeps the top-3
(proba, tag) pairs per mention (``torch_transformers_preprocessor.py:516-535``).
Here the deterministic stand-in is a broadcast lookup of the normalized
mention surface in the gazetteer (``plans.fused._fine_tag_lookup``), with
``ALT_FINE`` below as the runner-up tag; a two-headed tagger's types head
supplies the fine tag directly instead.

Ambiguous surfaces resolve to the most popular entity's tag (max num_rels),
mirroring how a trained classifier follows the majority sense.
"""

from __future__ import annotations

# deterministic second-guess tag per fine tag (the classifier's runner-up)
ALT_FINE = {
    "PAINTER": "PER", "WRITER": "PER", "POLITICIAN": "PER", "ATHLETE": "PER",
    "MUSICIAN": "PER", "ACTOR": "PER", "ENTREPRENEUR": "PER", "PER": "WRITER",
    "CITY": "COUNTY", "COUNTRY": "CITY", "COUNTY": "CITY", "LOC": "GPE",
    "FAC": "ORG", "ORG": "BUSINESS", "BUSINESS": "ORG",
    "WORK_OF_ART": "LITERARY_WORK", "LITERARY_WORK": "WORK_OF_ART",
    "FILM": "WORK_OF_ART", "SONG": "WORK_OF_ART", "PRODUCT": "WORK_OF_ART",
}
