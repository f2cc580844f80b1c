"""Hilbert spatial partitioning — the distributed analogue of the
reference's packed-tree build + ``partitions()``/``partition_boxes()``
(reference src/rtree/builder.rs:36-238,
python/src/rtree/partitions.rs:19-132).

The two-level scheme (SURVEY.md §1.1): the *global* level is a
Hilbert-range partitioning of the whole table (Spark's
``repartitionByRange`` = the shuffle; partition boxes = a tiny aggregate
kept broadcast-able), and the *local* level is an optional per-partition
packed tree built by the ``localindex`` kernels. At 100 TB the global
level is what matters: Hilbert-clustered parquet gives selective min/max
column stats, so bbox queries prune files without any index structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geo_index_spark.hilbert import grid_coord_col, with_hilbert_key

BOX_COLS = ("minx", "miny", "maxx", "maxy")


def _box_cols(df: DataFrame, cols: tuple[str, str, str, str] | None):
    c = cols or BOX_COLS
    if len(c) == 2:  # point table: (x, y) -> degenerate boxes
        x, y = c
        return F.col(x), F.col(y), F.col(x), F.col(y)
    return tuple(F.col(n) for n in c)


def global_bounds(
    df: DataFrame, cols: tuple[str, ...] | None = None
) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) of the dataset — one map-side-combined
    aggregate, the same incremental bounds the reference tracks in
    ``add()`` (src/rtree/builder.rs:95-106)."""
    mnx, mny, mxx, mxy = _box_cols(df, cols)
    row = df.agg(
        F.min(mnx).alias("minx"),
        F.min(mny).alias("miny"),
        F.max(mxx).alias("maxx"),
        F.max(mxy).alias("maxy"),
    ).first()
    return (row["minx"], row["miny"], row["maxx"], row["maxy"])


def with_hilbert(
    df: DataFrame,
    bounds: tuple[float, float, float, float] | None = None,
    cols: tuple[str, ...] | None = None,
    out: str = "hilbert",
) -> DataFrame:
    """Add the u32 Hilbert key of each row's box center as a LongType
    column — pure Catalyst expression, JVM-side (see hilbert.with_hilbert_key)."""
    if bounds is None:
        bounds = global_bounds(df, cols)
    lox, loy, hix, hiy = (float(b) for b in bounds)
    mnx, mny, mxx, mxy = _box_cols(df, cols)
    staged = df.withColumns(
        {
            "_gx": grid_coord_col((mnx + mxx) / F.lit(2.0), lox, hix - lox),
            "_gy": grid_coord_col((mny + mxy) / F.lit(2.0), loy, hiy - loy),
        }
    )
    return with_hilbert_key(staged, "_gx", "_gy", out).drop("_gx", "_gy")


def hilbert_partition(
    df: DataFrame,
    num_partitions: int,
    bounds: tuple[float, float, float, float] | None = None,
    cols: tuple[str, ...] | None = None,
    persist_key: bool = False,
) -> DataFrame:
    """Cluster the table spatially: Hilbert key -> range repartition ->
    sort within partitions. Writing the result to parquet yields files
    whose (minx..maxy) min/max stats are tight, so downstream bbox scans
    prune at the file/row-group level — the distributed equivalent of
    the reference's node-bbox pruning (src/rtree/trait.rs:143-149).

    SCAN-COUNT NOTE: ``repartitionByRange`` derives its split points by
    SAMPLING, which re-executes the upstream plan — the keyed input is
    computed twice. For a cheap upstream (parquet scan + projection)
    that's the idiomatic trade and this function leaves it alone. When
    the upstream is expensive (HTML extraction, a join), pass
    ``persist_key=True`` to cache the keyed projection so the sampling
    pass reads the cache instead of recomputing lineage (caller may
    ``.unpersist()`` the returned frame's source after the final
    action), or materialize the keyed table yourself first."""
    out = with_hilbert(df, bounds, cols)
    if persist_key:
        out = out.persist()
    return out.repartitionByRange(num_partitions, "hilbert").sortWithinPartitions("hilbert")


def partitions(
    df: DataFrame,
    node_size: int,
    cols: tuple[str, ...] | None = None,
    id_col: str = "row_id",
) -> DataFrame:
    """Reference-exact ``partitions()`` (python/src/rtree/partitions.rs:19-104):
    partition_id = position in Hilbert order // node_size.

    Uses a global window — exact but single-reducer for the ordering;
    meant for parity tests and small dims. The scale path is
    :func:`hilbert_partition` + ``spark_partition_id()`` which delivers
    the same contract (spatially-coherent groups) without a global sort
    bottleneck.
    """
    h = with_hilbert(df, cols=cols)
    w = Window.orderBy("hilbert", id_col)
    return h.withColumn(
        "partition_id",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(node_size)).cast("long"),
    )


def partition_boxes(parts: DataFrame, cols: tuple[str, ...] | None = None) -> DataFrame:
    """``partition_boxes()`` (python/src/rtree/partitions.rs:108-132):
    bbox union per partition_id — maps to a map-side-combined groupBy."""
    mnx, mny, mxx, mxy = _box_cols(parts, cols)
    return (
        parts.groupBy("partition_id")
        .agg(
            F.min(mnx).alias("minx"),
            F.min(mny).alias("miny"),
            F.max(mxx).alias("maxx"),
            F.max(mxy).alias("maxy"),
        )
        .orderBy("partition_id")
    )


def boxes_at_level(
    df: DataFrame, node_size: int, level: int, cols: tuple[str, ...] | None = None
) -> DataFrame:
    """``boxes_at_level`` (reference src/rtree/trait.rs:95-108): level 0 =
    item boxes in Hilbert order; level L>0 = bbox unions of groups of
    node_size^L consecutive items — repeated grouping by
    ``hilbert_rank // node_size^L``."""
    if level == 0:
        return with_hilbert(df, cols=cols).orderBy("hilbert", "row_id").select(
            *[c for c in (cols or BOX_COLS)]
        )
    p = partitions(df, node_size**level, cols=cols)
    return partition_boxes(p, cols=cols).select("partition_id", "minx", "miny", "maxx", "maxy")


def str_params(n: int, node_size: int) -> tuple[int, int]:
    """(num_slices, per_slice) of the reference STR layout
    (src/rtree/sort/str.rs:16-43): num_leaf_nodes = ceil(n/node_size),
    num_slices = ceil(sqrt(num_leaf_nodes)), per_slice =
    ceil(n/num_slices). Shared by the Spark operator, its SQL oracle
    generator, and the local kernel sweep."""
    import math

    num_leaf = math.ceil(n / node_size) if n else 0
    num_slices = max(1, math.ceil(math.sqrt(num_leaf))) if n else 1
    per_slice = max(1, math.ceil(n / num_slices)) if n else 1
    return num_slices, per_slice


def with_str_order(
    df: DataFrame,
    node_size: int,
    cols: tuple[str, ...] | None = None,
    id_col: str = "row_id",
    out: str = "str_pos",
) -> DataFrame:
    """B3 STR (sort-tile-recursive) leaf order as a distributed
    operator — the exact twin of ``localindex.flatbush._str_order``
    (reference src/rtree/sort/str.rs:16-100): global rank by x-center
    (ties: ``id_col`` — a deterministic refinement of the reference's
    stable input-order tiebreak), cut into vertical slices of
    ``per_slice`` rows, position by (slice, y-center, x-rank) — the
    x-rank tiebreak mirrors the kernel's stable lexsort.

    Exact-window variant (single-reducer ordering, like
    :func:`partitions`) for parity tests and small dims; the scale path
    is :func:`str_partition`. Adds ``slice_id`` and ``out``."""
    mnx, mny, mxx, mxy = _box_cols(df, cols)
    cx = (mnx + mxx) / F.lit(2.0)
    cy = (mny + mxy) / F.lit(2.0)
    n = df.count()
    _, per_slice = str_params(n, node_size)
    staged = df.withColumn(
        "_rx", F.row_number().over(Window.orderBy(cx.asc(), F.col(id_col).asc())) - 1
    ).withColumn("slice_id", F.floor(F.col("_rx") / F.lit(per_slice)).cast("long"))
    w2 = Window.orderBy(F.col("slice_id").asc(), cy.asc(), F.col("_rx").asc())
    return staged.withColumn(out, (F.row_number().over(w2) - 1).cast("long")).drop(
        "_rx"
    )


def str_partition(
    df: DataFrame,
    num_partitions: int,
    cols: tuple[str, ...] | None = None,
    sample_error: float = 0.001,
) -> DataFrame:
    """STR-clustered layout at scale — the B3 counterpart of
    :func:`hilbert_partition` (same contract: spatially coherent
    partitions whose parquet min/max stats prune bbox scans; NOT the
    byte-exact local leaf order, which is :func:`with_str_order`).

    Plan: approx equal-count x-center slice boundaries from ONE
    ``approxQuantile`` sampling pass, slice assignment as a pure
    projection (a <=64-term comparison sum, no shuffle), then a single
    ``repartitionByRange(slice_id, y-center)`` + in-partition sort —
    exactly one shuffle, no global sort bottleneck, matching the
    reference's slice-parallel STR pack (src/rtree/sort/str.rs:54-81,
    its only rayon parallelism)."""
    import math

    mnx, mny, mxx, mxy = _box_cols(df, cols)
    num_slices = max(1, math.ceil(math.sqrt(max(1, num_partitions))))
    staged = df.withColumns(
        {"_cx": (mnx + mxx) / F.lit(2.0), "str_y": (mny + mxy) / F.lit(2.0)}
    )
    if num_slices > 1:
        qs = staged.approxQuantile(
            "_cx", [i / num_slices for i in range(1, num_slices)], sample_error
        )
        slice_col = sum(
            (F.col("_cx") > F.lit(float(q))).cast("int") for q in qs
        ).cast("long")
    else:
        slice_col = F.lit(0).cast("long")
    return (
        staged.withColumn("slice_id", slice_col)
        .repartitionByRange(num_partitions, "slice_id", "str_y")
        .sortWithinPartitions("slice_id", "str_y")
        .drop("_cx")
    )
