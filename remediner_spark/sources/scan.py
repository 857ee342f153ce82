"""Parquet scan with a parallelism floor for small inputs.

The driver's sf tables are single parquet files written with one row
group per ~1M rows (pandas defaults), so Spark's byte-range splitting
(`spark.sql.files.maxPartitionBytes`, 128 MB) yields ONE scan task for
a 15 MB / 50k-row documents table — and every expression evaluated
before the first exchange (shingling, md5 hashing, regex scoring,
vector math) runs on one core of a 32-core host. Measured: the whole
dedup/decontaminate family was map-side single-task at sf1.0
(decontaminate_bloom 26.4 s -> 3.4 s once parallelized).

`scan_parquet` restores the scan parallelism the same data would have
had as a multi-file table: when the input's estimated split count is
below the session's default parallelism it round-robin repartitions the
raw rows (the exchange carries only the input bytes — cheap by
construction, since the trigger condition bounds them at
cores x maxPartitionBytes). At production scale the input produces
plenty of splits and this is a no-op — the floor is scale-adaptive,
not a local[32] constant (`spark.sql.files.minPartitionNum` is the
same idea, but byte-range splits cannot divide a single-row-group
file, so the floor must be an explicit shuffle here). Only inputs
sized locally get the floor; any other path keeps the plain scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_DEFAULT_MAX_SPLIT = 128 * 1024 * 1024


def _input_bytes(path: str) -> int | None:
    """Local size of the input, or None when os.path cannot size it
    (a URI such as s3a://, hdfs:// or file://, or a missing path)."""
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for name in files:
                if not name.startswith(("_", ".")):
                    try:
                        total += os.path.getsize(os.path.join(root, name))
                    except OSError:
                        pass
        return total
    try:
        return os.path.getsize(path)
    except OSError:
        return None


def _max_split_bytes(spark: SparkSession) -> int:
    raw = spark.conf.get(
        "spark.sql.files.maxPartitionBytes", str(_DEFAULT_MAX_SPLIT)
    )
    try:
        return int(str(raw).lower().rstrip("b"))
    except ValueError:
        return _DEFAULT_MAX_SPLIT


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet with a floor on map-side parallelism.

    Use for tables whose per-row downstream work dominates the scan
    (documents / embeddings expression chains). The repartition keeps
    results identical for every consumer in this repo: no operator
    depends on partition ids or row order (aggregations order
    explicitly; floats are rounded inside the queries).

    Fails closed: an input of unknown size keeps the plain scan — a
    production-scale table must never be round-robin shuffled whole
    because its size could not be read."""
    df = spark.read.parquet(path)
    nbytes = _input_bytes(path)
    if nbytes is None:
        return df
    target = spark.sparkContext.defaultParallelism
    est_splits = max(1, nbytes // _max_split_bytes(spark))
    if est_splits < target:
        df = df.repartition(target)
    return df
