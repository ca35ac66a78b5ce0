"""Self-test of the event-log folder on a tiny job with known counts.

    python3 -m pytest perfbench/test_tracing.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import tracing  # noqa: E402


def test_covered_merges_overlaps_and_clips():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert tracing.covered([], 0, 1) == 0.0


def test_fold_known_job():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    work = os.path.join(ROOT, ".bench_cache", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = (
        SparkSession.builder.master("local[2]").appName("tracing-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        tracer = tracing.Tracer(spark)

        def ident(batches):
            yield from batches

        def evens(batches):
            for pdf in batches:
                yield pdf[pdf["id"] % 2 == 0]

        with tracer.span("known"):
            # 4 map tasks -> shuffle -> 3 reduce tasks writing 7 rows
            df = (spark.range(0, 1000, 1, 4).mapInPandas(ident, "id long")
                  .groupBy((F.col("id") % 7).alias("k")).count())
            df.write.mode("overwrite").parquet(os.path.join(work, "out"))
        with tracer.span("idle"):
            pass
        with tracer.span("kernel"):
            # the write consumes the Python kernel directly: 1000 rows in, 500 out
            (spark.range(0, 1000, 1, 2).mapInPandas(evens, "id long")
             .write.mode("overwrite").parquet(os.path.join(work, "evens")))
    finally:
        run.stop_spark()
    groups = tracing.read_event_log(tracing.event_log_file(log_dir))
    known, idle, kernel = (tracing.fold_span(s, groups) for s in tracer.spans)
    assert known["jobs"] == 1
    assert known["stages"] == 2
    assert known["tasks"] == 7
    assert known["tasks_failed"] == 0
    assert known["rows_out"] == 7
    assert known["shuffle_write_mb"] > 0
    assert known["python_mb"] > 0 and known["python_run_s"] > 0
    assert 0 <= known["driver_s"] < known["wall_s"]
    assert idle["jobs"] == idle["tasks"] == 0 and idle["driver_s"] == idle["wall_s"]
    assert kernel["rows_out"] == 500
    rows = {sp["name"]: (groups[sp["group"]]["kernel_rows_in"], groups[sp["group"]]["kernel_rows_out"])
            for sp in tracer.spans if sp["group"] in groups}
    # the aggregate's write does not consume a Python kernel directly
    assert rows == {"known": (0, 0), "kernel": (1000, 500)}
    shutil.rmtree(work, ignore_errors=True)
