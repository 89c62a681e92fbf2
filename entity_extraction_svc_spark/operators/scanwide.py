"""Scale-adaptive scan widening for compute-heavy narrow stages.

A small parquet table scans as one or two input splits
(``spark.sql.files.maxPartitionBytes`` = 128 MB; the sf1.0 documents table
is 5.7 MB), so every row-local stage fused onto the scan — Python batch
passes such as the tokenizer pass, per-row hashing — runs on one or two
cores while the rest of the machine idles.  Measured at sf1.0 on
local[32]: the minhash signature pass dropped 7.9s -> 1.2s and the ngram
shingle-set pass 3.8s -> 0.9s from widening alone.

``widen_scan`` round-robin repartitions ONLY when the source has fewer
partitions than the session's parallelism, so at cluster scale (where a
scan already yields >= cores splits) it is a no-op and no exchange is
added.  Round-robin repartition is deterministic (Spark sorts before
repartitioning, SPARK-23207) and the callers are row-local maps or
aggregations whose results are partitioning-independent, so outputs are
bit-identical either way.

A probe that fails (size estimate or partition count) leaves the input as
it is and logs a warning naming the exception, so a disabled widening is
visible in the driver log.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)


def widen_scan(df: DataFrame, min_bytes: int | None = None) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism when its
    current plan yields fewer partitions; identity otherwise.

    ``min_bytes``: skip widening when the optimizer's size estimate is
    under this many bytes — for callers whose per-row work scales with
    byte size (e.g. plain tokenization), a tiny input cannot be
    compute-heavy and the exchange's fixed cost would dominate.  Callers
    with byte-independent per-row cost (hashing pipelines, Python batch
    passes) should leave it unset."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if min_bytes is not None:
            est = df._jdf.queryExecution().optimizedPlan().stats() \
                .sizeInBytes()
            if not isinstance(est, int):  # py4j usually auto-converts BigInt
                est = int(est.longValue())
            if est < min_bytes:
                return df
        cur = df.rdd.getNumPartitions()
    except Exception as exc:
        first_line = (str(exc).splitlines() or [""])[0]
        log.warning("widen_scan: partition probe failed, input left as it "
                    "is (%s: %s)", type(exc).__name__, first_line)
        return df
    if cur < target:
        return df.repartition(target)
    return df
