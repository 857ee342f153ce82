"""sources/scan.py: the scan-parallelism floor and its fail-closed rule."""

from __future__ import annotations

from remediner_spark.sources.scan import scan_parquet


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_unknown_size_keeps_plain_scan(spark, tmp_path):
    """A local single-file table gets the round-robin floor; the same
    file named by a file:// URI cannot be sized through os.path, so it
    must plan as the plain scan, with no exchange at all."""
    path = str(tmp_path / "t.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    assert spark.sparkContext.defaultParallelism > 1
    assert "RoundRobinPartitioning" in _plan(scan_parquet(spark, path))
    plan = _plan(scan_parquet(spark, "file://" + path))
    assert "RoundRobinPartitioning" not in plan
    assert "Exchange" not in plan
    assert scan_parquet(spark, "file://" + path).count() == 100
