"""The north-rule pipeline, assembled: Common-Crawl-style pages ->
byte-identical text extraction + geotag parse (checkpointed, resumable)
-> Hilbert-clustered point table (snapshot catalog) -> per-partition
packed indexes -> query surface.

Each stage is idempotent: extraction goes through
pipeline.checkpoint.CheckpointedPipeline (per-bucket lineage; a rerun
after mid-job failure re-does only uncommitted buckets), and table
outputs commit as catalog snapshots (time-travelable). On a real
cluster the catalog swaps for Iceberg 1:1 (see pipeline/catalog.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_index_spark.operators.localbuild import index_partitions
from geo_index_spark.operators.partitioning import hilbert_partition
from geo_index_spark.operators.tiling import quad_cell_col
from geo_index_spark.pipeline.catalog import ParquetSnapshotCatalog
from geo_index_spark.pipeline.checkpoint import CheckpointedPipeline
from geo_index_spark.webtext.extract import extract_text_col, geotag_col


@dataclass
class PipelineResult:
    pages: int
    points: int
    points_snapshot: int
    index_partitions: int
    tile_snapshot: int


def run_webgeo_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    num_partitions: int = 8,
    tile_level: int = 8,
    n_buckets: int = 8,
    fail_extract_on_bucket: int | None = None,
) -> PipelineResult:
    """Run (or resume) the full pipeline under ``workdir``.

    ``fail_extract_on_bucket`` injects a failure in the extraction stage
    (test hook for the resume contract).
    """
    cp = CheckpointedPipeline(spark, f"{workdir}/stages", n_buckets=n_buckets)
    cat = ParquetSnapshotCatalog(f"{workdir}/catalog")

    calls = {"n": 0}

    def extract(bucket_df: DataFrame) -> DataFrame:
        calls["n"] += 1
        if fail_extract_on_bucket is not None and calls["n"] == fail_extract_on_bucket:
            raise RuntimeError("injected extraction failure")
        lon, lat = geotag_col(F.col("html"))
        return bucket_df.select(
            "url",
            "warc_ts",
            extract_text_col(F.col("html")).alias("text_extracted"),
            lon.alias("x"),
            lat.alias("y"),
            "lang",
        )

    # stage 1: extraction (resumable per bucket, keyed by url)
    cp.run_stage("extract", pages, extract, bucket_key="url")
    extracted = cp.read_stage("extract")

    # stage 2: geotagged points, Hilbert-clustered once and committed as
    # a snapshot; stages 3 and 4 read the same cached clustering
    pts = extracted.filter(F.col("x").isNotNull() & F.col("y").isNotNull()).select(
        F.xxhash64("url").alias("row_id"), "url", "x", "y"
    )
    clustered = hilbert_partition(pts, num_partitions, cols=("x", "y")).persist()
    try:
        snap_pts = cat.write(clustered, "points")

        # stage 3: one packed index per Hilbert partition of the snapshot
        # (index-as-buffer table), with no second bounds pass or shuffle
        idx = index_partitions(clustered.select("row_id", "x", "y"), cols=("x", "y"))
        cat.write(idx, "point_index")

        # stage 4: tile rollup snapshot
        tiles = (
            clustered.groupBy(
                quad_cell_col(F.col("x"), F.col("y"), tile_level).alias("cell_id")
            )
            .agg(F.count(F.lit(1)).alias("n_pages"))
        )
        snap_tiles = cat.write(tiles, "tiles")
    finally:
        clustered.unpersist()

    return PipelineResult(
        pages=pages.count(),
        points=cat.snapshots("points")[-1]["rows"],
        points_snapshot=snap_pts,
        index_partitions=cat.snapshots("point_index")[-1]["rows"],
        tile_snapshot=snap_tiles,
    )
