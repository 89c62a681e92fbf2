"""EL fine-tag classification stand-in (reference T1-T3).

The reference runs a roberta span classifier over 48 fine tags
(``src/torch_transformers_el_tags.py:86-177``) and keeps the top-3
(proba, tag) pairs per mention (``torch_transformers_preprocessor.py:516-535``).
Here the deterministic stand-in is a lookup of the normalized mention
surface in a broadcast dict built from the gazetteer dimension
(``plans.fused._fine_tag_lookup``), done per mention inside the fused pass;
the fine tag and ``ALT_FINE`` runner-up fill the same ``fine_tag`` /
``alt_tag`` columns a real model would.

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
