"""Per-document layer spans, recorded around the package's public functions.

The per-document Python layers run inside ``mapInPandas`` on worker
processes that a driver-side wrapper cannot reach.  The traced run therefore
drives a seeded sample of pages through ``plans.fused.link_page`` in this
process with timing wrappers installed on the layer functions it calls.
``link_page`` calls ``tag_batch`` once per document, where the Spark plan's
``fused_link`` calls it once per Arrow batch; per-document tagger times here
therefore include a per-call overhead the batched plan amortizes.

Spans stay in memory (name, start, end, parent index) and are summarized
when the sample ends; a span's self time is its duration minus the time of
its child spans.  Coverage counts only the leaf layers' self times
(:data:`LAYERS`); ``link_page``'s own self time is the part of the wall that
no named layer accounts for.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# the per-document layer spans; link_page is the glue around them
LAYERS = ("htmltext", "chunk_doc", "tag_batch", "decode_tagged", "link_doc",
          "rank_by_connections", "get_cand_ent")
NOTE = ("per-document figures come from link_page, which calls tag_batch once "
        "per document; the Spark plan's fused_link calls it once per Arrow batch")


class SpanTracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent]
        self._stack: list[int] = []
        self.counts: dict[str, int] = {}

    def count(self, key: str, n: int = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    def wrap(self, name: str, fn, count_key: str | None = None):
        """``fn`` wrapped in a span; ``count_key`` also counts ``len`` of
        each result (chunks, mentions)."""
        def traced(*args, **kwargs):
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None,
                               self._stack[-1] if self._stack else -1])
            self._stack.append(idx)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.spans[idx][2] = time.perf_counter()
            if count_key is not None:
                self.count(count_key, len(out))
            return out
        return traced

    def counted(self, key: str, fn):
        def calls(*args, **kwargs):
            self.count(key)
            return fn(*args, **kwargs)
        return calls

    def self_seconds(self) -> dict[str, float]:
        """Span name -> summed self time."""
        child = [0.0] * len(self.spans)
        for name, s, e, parent in self.spans:
            if parent >= 0:
                child[parent] += e - s
        out: dict[str, float] = {}
        for (name, s, e, _), c in zip(self.spans, child):
            out[name] = out.get(name, 0.0) + (e - s) - c
        return out


@contextmanager
def installed(tracer: SpanTracer, tagger):
    """Install the wrappers on the package's module attributes (and on the
    driver-local ``tagger`` instance); restore them on exit."""
    from entity_extraction_svc_spark.functions import htmltext
    from entity_extraction_svc_spark.operators import linker
    from entity_extraction_svc_spark.plans import fused

    patches = [
        (htmltext, "preprocess_html", tracer.wrap("htmltext", htmltext.preprocess_html)),
        (fused, "chunk_doc", tracer.wrap("chunk_doc", fused.chunk_doc, "chunks")),
        (fused, "decode_tagged",
         tracer.wrap("decode_tagged", fused.decode_tagged, "mentions")),
        (fused, "link_doc", tracer.wrap("link_doc", fused.link_doc)),
        (fused, "link_page", tracer.wrap("link_page", fused.link_page)),
        (linker, "get_cand_ent_cached",
         tracer.counted("cand_lookups", linker.get_cand_ent_cached)),
        (linker, "get_cand_ent",
         tracer.counted("cand_misses",
                        tracer.wrap("get_cand_ent", linker.get_cand_ent))),
        (linker, "rank_by_connections",
         tracer.wrap("rank_by_connections", linker.rank_by_connections)),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    for mod, attr, fn in patches:
        setattr(mod, attr, fn)
    tagger.tag_batch = tracer.wrap("tag_batch", tagger.tag_batch)
    try:
        yield
    finally:
        del tagger.tag_batch
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def run_sample(kb_dir: str, payloads: list[tuple[str, bytes, str]]) -> dict:
    """Extract and link ``payloads`` (url, html, lang) one document at a
    time through ``link_page`` with spans on; return per-layer figures.

    The linker dictionaries are built fresh, so the candidate cache starts
    cold, as on a new executor."""
    import pyarrow.parquet as pq

    from entity_extraction_svc_spark.functions import htmltext
    from entity_extraction_svc_spark.operators.tagger import load_tagger
    from entity_extraction_svc_spark.plans import fused
    from entity_extraction_svc_spark.sources.kb import collect_linker_dicts

    gaz_rows = pq.read_table(f"{kb_dir}/gazetteer.parquet").to_pylist()
    tagger = load_tagger(gaz_rows)
    fine = fused._fine_tag_lookup(gaz_rows)
    d = collect_linker_dicts(None, kb_dir)
    tracer = SpanTracer()
    with installed(tracer, tagger):
        t0 = time.perf_counter()
        for url, html, lang in payloads:
            text = htmltext.preprocess_html(html) if html is not None else ""
            fused.link_page(d, tagger, fine, url, text, lang or "en")
        wall = time.perf_counter() - t0
    n = len(payloads)
    selfs = tracer.self_seconds()
    c = tracer.counts

    def ms(name: str) -> float:
        return 1000.0 * selfs.get(name, 0.0) / n

    lookups = c.get("cand_lookups", 0)
    metrics = {
        "functions.htmltext.busy_ms_per_doc": ms("htmltext"),
        "functions.htmltext.bytes_in_per_doc":
            sum(len(h) for _, h, _ in payloads if h is not None) / n,
        "operators.chunker.busy_ms_per_doc": ms("chunk_doc"),
        "operators.chunker.chunks_per_doc": c.get("chunks", 0) / n,
        "operators.tagger.tag_batch_ms_per_doc": ms("tag_batch"),
        "operators.tagger.decode_ms_per_doc": ms("decode_tagged"),
        "operators.tagger.mentions_per_doc": c.get("mentions", 0) / n,
        "operators.linker.self_ms_per_doc": ms("link_doc"),
        "operators.linker.rank_ms_per_doc": ms("rank_by_connections"),
        "operators.linker.cand_miss_ms_per_doc": ms("get_cand_ent"),
        "operators.linker.cand_lookups": float(lookups),
        "operators.linker.cand_cache_hit_ratio":
            1.0 - c.get("cand_misses", 0) / lookups if lookups else 0.0,
        "trace.doc_sample_docs": float(n),
        "trace.doc_ms_per_doc": 1000.0 * wall / n,
        "trace.doc_coverage":
            sum(selfs.get(k, 0.0) for k in LAYERS) / wall if wall > 0 else 0.0,
        "trace.doc_unattributed_ms_per_doc": ms("link_page"),
    }
    return {"metrics": metrics, "spans": tracer.spans}
