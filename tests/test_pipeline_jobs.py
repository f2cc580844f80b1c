"""The webgeo pipeline's Spark-job budget, and the driver-side commit
bookkeeping that keeps it small: row counts from parquet footers and
lineage rows written with pyarrow."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from geo_index_spark.pipeline.catalog import parquet_rows
from geo_index_spark.pipeline.checkpoint import LINEAGE_SCHEMA, CheckpointedPipeline
from geo_index_spark.pipeline.webgeo import run_webgeo_pipeline
from geo_index_spark.webtext.generate import web_pages_df

# Spark jobs of one run over uncached pages (1 bucket, 4 partitions)
# when each stage's work runs once and all commit bookkeeping is on the
# driver. Counting rows with Spark, writing lineage through a Python
# RDD and Hilbert-partitioning the points twice took 37 here.
MAX_PIPELINE_JOBS = 15


def test_webgeo_pipeline_job_count(spark, tmp_path):
    sc = spark.sparkContext
    pages = web_pages_df(spark, 200, num_partitions=4)
    group = "test_webgeo_pipeline_job_count"
    sc.setJobGroup(group, "webgeo pipeline, 1 bucket")
    try:
        res = run_webgeo_pipeline(spark, pages, str(tmp_path), num_partitions=4, n_buckets=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.pages == res.points == 200
    assert 1 <= res.index_partitions <= 4
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= MAX_PIPELINE_JOBS, len(jobs)


def test_footer_rows_equal_spark_count(spark, tmp_path):
    d = tmp_path / "t"
    spark.range(1000).repartition(3).write.parquet(str(d))
    assert (d / "_SUCCESS").exists()
    # valid parquet under names Spark's reader skips: an in-flight
    # hidden file and an underscore file must not be counted either
    for name in (".part-inflight.parquet", "_part-meta.parquet"):
        pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), d / name)
    assert parquet_rows(d) == spark.read.parquet(str(d)).count() == 1000
    assert parquet_rows(tmp_path / "missing") == 0


def test_driver_lineage_reads_back_with_lineage_schema(spark, tmp_path):
    pts = spark.createDataFrame([(f"u{i}",) for i in range(50)], "url string")
    cp = CheckpointedPipeline(spark, str(tmp_path), n_buckets=2)
    res = cp.run_stage("s", pts, lambda d: d, "url")
    assert res.rows_written == 50
    lineage = tmp_path / "s" / "_lineage"
    names = sorted(f.name for f in lineage.iterdir())
    assert len(names) == 2 and all(
        n.startswith("part-") and n.endswith(".parquet") for n in names
    )  # no hidden temp file left behind
    m = cp.metrics("s")
    assert m.schema == spark.createDataFrame([], LINEAGE_SCHEMA).schema
    rows = sorted(m.select("bucket", "status", "rows", "attempt").collect())
    assert [r.bucket for r in rows] == [0, 1]
    assert {r.status for r in rows} == {"COMMITTED"} and {r.attempt for r in rows} == {1}
    assert sum(r.rows for r in rows) == 50


def test_torn_lineage_file_is_skipped_and_reported(spark, tmp_path):
    cp = CheckpointedPipeline(spark, str(tmp_path), n_buckets=4)
    cp._log("s", 2, "COMMITTED", 7, 0.0, 1)
    (tmp_path / "s" / "_lineage" / "part-torn.parquet").write_bytes(b"PAR1\x00torn\x13")
    with pytest.warns(UserWarning, match="1 of 2 parquet files unreadable"):
        assert cp._committed_buckets("s") == {2}
