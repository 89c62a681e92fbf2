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

import sys
import zipimport

__version__ = "0.1.0"


def _keep_worker_zip_directories() -> None:
    """In a Spark Python worker (a task context is set), make every zip
    importer's ``invalidate_caches`` do nothing; the driver, with no task
    context, is left as it is.

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and on CPython 3.11/3.12 each zip importer then
    re-reads its archive's whole central directory in pure Python: about 17
    importers (``pyspark.zip`` once per imported sub-package, the py4j zip,
    the spark-core jar, the shipped package zip), 0.1-0.4 s of CPU per task
    before the UDF runs.  No archive on a worker's path changes in place:
    Spark's zips and jars are its install, the package zip is named by a
    hash of its contents (``session._package_zip``), and Spark refuses to
    re-add a file name with other contents.  A newly added archive gets a
    new importer, which reads its directory once when it is created."""
    ctx = sys.modules.get("pyspark.taskcontext")
    if ctx is None or ctx.TaskContext.get() is None:
        return
    zipimport.zipimporter.invalidate_caches = lambda self: None


_keep_worker_zip_directories()
