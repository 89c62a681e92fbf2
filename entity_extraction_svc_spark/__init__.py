"""PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the capabilities of
``deeppavlov/entity_extraction_svc`` (reference at /root/reference) as an
idiomatic Spark batch pipeline:

    pages(url, warc_ts, html, text, lang)
      -> one mapInPandas pass per Arrow batch (plans/fused.py):
           extract text    (byte-identical boilerplate strip)
           chunk           (sentence packing, chunk_doc)
           tag + decode    (NER stand-in w/ reference BIO-decode semantics)
           fine tag        (EL fine-tag lookup, broadcast dict)
           link            (inverted-index candidate gen + fuzzy scoring +
                            connection ranking, link_doc per document)
      -> canonicalize      (connected-components alias clustering)
      -> triples           ((subj, pred, obj) partitioned by subject hash)

plus the large-scale training-data operators (dedup, similarity search,
text analysis, multimodal plumbing) on top of the same engine.
"""

__version__ = "0.1.0"
