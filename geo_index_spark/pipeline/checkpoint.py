"""Per-stage, per-bucket checkpointing with lineage + metrics tables.

North rule: "every stage checkpoints per-partition lineage and metrics
to Iceberg so runs resume mid-job". This sandbox has no Iceberg jars,
so tables are Parquet directories with Iceberg-compatible layout
(one directory per table, bucket-partitioned data files, plus an
append-only `_lineage` parquet log).

All commit bookkeeping runs on the driver, with no Spark job: a
bucket's committed rows are summed from its parquet footers
(``catalog.parquet_rows``), and its lineage row is one pyarrow file
written hidden and renamed into place, so a reader sees the whole
commit or none of it. Resume reads the visible lineage files with
pyarrow too. Only the bucket data itself is a Spark write. On Iceberg
a bucket's commit is one ``writeTo(table).append()`` snapshot that
carries the bucket as a ``snapshot-property.bucket`` write option; the
snapshot summary's ``added-records`` replaces the footer count, and
resume reads the committed buckets from the snapshot log instead of
the lineage files.

Resume model: a stage's input is split into ``n_buckets`` deterministic
buckets (hash of a stable key — e.g. url — so bucket membership is
reproducible across runs and cluster sizes). Each bucket is processed
and committed independently; a re-run consults the lineage log and
skips buckets already COMMITTED, making the whole pipeline idempotent
under mid-job failure. Bucket granularity (not Spark-partition
granularity) keeps the contract stable under repartitioning/AQE.
"""

from __future__ import annotations

import time
import uuid
import warnings
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_index_spark.pipeline.catalog import parquet_files, parquet_rows

LINEAGE_SCHEMA = (
    "run_id string, stage string, bucket int, status string, rows long,"
    " started double, finished double, attempt int"
)
# the same schema as the arrow types the driver writes
_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(), "double": pa.float64()}
_LINEAGE_ARROW = pa.schema(
    [(name, _ARROW_TYPES[t]) for name, t in (f.split() for f in LINEAGE_SCHEMA.split(","))]
)


@dataclass
class StageResult:
    stage: str
    buckets_total: int
    buckets_run: int
    buckets_skipped: int
    rows_written: int


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.root = Path(root)
        self.n_buckets = n_buckets
        self.root.mkdir(parents=True, exist_ok=True)
        self.run_id = uuid.uuid4().hex[:12]

    # -- lineage log ---------------------------------------------------------

    def _lineage_dir(self, stage: str) -> Path:
        return self.root / stage / "_lineage"

    def _committed_buckets(self, stage: str) -> set[int]:
        d = self._lineage_dir(stage)
        files = parquet_files(d)
        done: set[int] = set()
        torn = 0
        for f in files:
            # a torn lineage file (storage corruption, or a crash in a
            # log written before commits were renamed into place) is
            # skipped, not fatal: resume only needs the commits that
            # finished, and the torn bucket simply isn't COMMITTED and
            # reruns (round-5 verdict #8)
            try:
                t = pq.read_table(f, columns=["bucket", "status"])
            except (OSError, pa.ArrowException):
                torn += 1
                continue
            done.update(
                b
                for b, s in zip(t["bucket"].to_pylist(), t["status"].to_pylist())
                if s == "COMMITTED"
            )
        # skipping would also silently drop a COMMITTED entry whose file
        # corrupted AFTER the fact (idempotent rerun, so safe — but
        # persistent storage corruption must be observable, ADVICE r5)
        if torn:
            warnings.warn(
                f"checkpoint lineage {d}: {torn} of {len(files)} "
                "parquet files unreadable (skipped for resume; affected "
                "buckets rerun idempotently). Repeated corruption here "
                "means the storage layer needs attention.",
                stacklevel=2,
            )
        return done

    def _log(self, stage: str, bucket: int, status: str, rows: int, t0: float, attempt: int):
        d = self._lineage_dir(stage)
        d.mkdir(parents=True, exist_ok=True)
        rec = dict(
            run_id=self.run_id, stage=stage, bucket=bucket, status=status,
            rows=rows, started=t0, finished=time.time(), attempt=attempt,
        )
        # one tiny parquet file per commit, append-only; it is written
        # hidden (readers skip dot files) and renamed into place, so a
        # crash mid-write leaves no visible file and the bucket reruns
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = d / f".{name}.tmp"
        pq.write_table(pa.Table.from_pylist([rec], _LINEAGE_ARROW), tmp)
        tmp.rename(d / name)  # atomic commit point

    # -- stage runner ----------------------------------------------------------

    def run_stage(
        self,
        stage: str,
        df: DataFrame,
        transform,
        bucket_key: str,
    ) -> StageResult:
        """Run ``transform(bucket_df) -> DataFrame`` once per pending
        bucket, committing each bucket's output + lineage row. Buckets
        = pmod(xxhash64(bucket_key), n_buckets) — stable across runs."""
        out_dir = self.root / stage / "data"
        done = self._committed_buckets(stage)
        bucketed = df.withColumn(
            "_bucket", F.pmod(F.xxhash64(F.col(bucket_key)), F.lit(self.n_buckets)).cast("int")
        )
        run = skipped = written = 0
        for b in range(self.n_buckets):
            if b in done:
                skipped += 1
                continue
            t0 = time.time()
            part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
            out = transform(part)
            attempt = 1
            out.write.mode("overwrite").parquet(str(out_dir / f"bucket={b}"))
            rows = parquet_rows(out_dir / f"bucket={b}")
            self._log(stage, b, "COMMITTED", rows, t0, attempt)
            run += 1
            written += rows
        return StageResult(stage, self.n_buckets, run, skipped, written)

    def read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(str(self.root / stage / "data" / "bucket=*"))

    def metrics(self, stage: str) -> DataFrame:
        return self.spark.read.option("ignoreCorruptFiles", "true").parquet(
            str(self._lineage_dir(stage))
        )
