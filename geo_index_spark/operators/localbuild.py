"""Distributed index-as-buffer: the reference's core artifact (an
ABI-stable serialized tree, src/rtree/index.rs:161-201) realized as a
table of per-partition flatbush blobs.

Two-level scheme (SURVEY.md §1.1): Hilbert-range partition the data
(global level), then each Spark partition builds a packed R-tree over
its slice inside ``mapInArrow`` (local level) and emits ONE row:
``(num_items, minx..maxy, tree: binary, ids: binary)``. The blob is
byte-compatible flatbush v3, so any flatbush reader (JS/Rust/Python)
can consume it; ``ids`` is the parallel int64 row-id array (Spark-scale
ids exceed the u32 insertion indexes, SURVEY.md §1.2).

Query path: prune blob rows by their partition bbox (a Catalyst filter
over the tiny index table — the analogue of root-level pruning), then
probe the surviving trees vectorized. At 100 TB the index table has
~1e5 rows of ~MB blobs: queries touch only overlapping partitions.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from geo_index_spark.localindex.flatbush import (
    DEFAULT_NODE_SIZE,
    Flatbush,
    _metric_block,
    haversine_box,
)
from geo_index_spark.localindex.kdbush import KDBush
from geo_index_spark.operators.partitioning import hilbert_partition

INDEX_SCHEMA = (
    "num_items long, minx double, miny double, maxx double, maxy double,"
    " tree binary, ids binary"
)


def _lb_col(qx: float, qy: float):
    """Euclidean lower-bound distance from the query point to a
    partition bbox as a Catalyst expression (clamp, then distance)."""
    from pyspark.sql import functions as F

    cx = F.greatest(F.col("minx"), F.least(F.col("maxx"), F.lit(float(qx))))
    cy = F.greatest(F.col("miny"), F.least(F.col("maxy"), F.lit(float(qy))))
    dx = cx - F.lit(float(qx))
    dy = cy - F.lit(float(qy))
    return F.sqrt(dx * dx + dy * dy)


def grow(d):
    """``d`` widened by a relative 1e-9: the headroom between a numpy
    distance and the Catalyst expression for the same pair, which can
    differ in the last bits. Used wherever a numpy distance bounds a
    set that Catalyst distances then rank."""
    return np.asarray(d, np.float64) * (1.0 + 1e-9)


def partition_prune(
    boxes: np.ndarray,
    counts: np.ndarray,
    qx,
    qy,
    k: int,
    metric: str,
    max_distance: float | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The exact kNN partition prune, vectorized over queries: per
    query, sort the partitions by lower-bound distance to their box,
    take them until the cumulative item count reaches k, and bound the
    kth neighbor by the largest farthest-point distance among those
    taken; a partition whose lower bound exceeds that radius cannot
    hold a top-k answer. Returns ``(lb, radius)``: the (n, p) lower
    bounds and the (n,) radii, capped by ``max_distance``; keep
    partition j for query i when ``lb[i, j] <= radius[i]``."""
    qx = np.asarray(qx, np.float64).reshape(-1, 1)
    qy = np.asarray(qy, np.float64).reshape(-1, 1)
    lb = _metric_block(qx, qy, boxes, metric)
    if metric == "euclidean":
        # farthest point of a box = its farthest corner
        fx = np.maximum(np.abs(boxes[:, 0] - qx), np.abs(boxes[:, 2] - qx))
        fy = np.maximum(np.abs(boxes[:, 1] - qy), np.abs(boxes[:, 3] - qy))
        ub = np.hypot(fx, fy)
    else:
        ub = haversine_box(qx, qy, boxes, far=True)
    order = np.argsort(lb, axis=1, kind="stable")
    cum = np.cumsum(counts[order], axis=1)
    need = np.minimum((cum < k).sum(axis=1), len(counts) - 1)
    ub_run = np.maximum.accumulate(np.take_along_axis(ub, order, axis=1), axis=1)
    radius = grow(ub_run[np.arange(len(need)), need])
    if max_distance is not None:
        radius = np.minimum(radius, grow(max_distance))
    return lb, radius


def _check_index_args(cols: tuple[str, ...], tree_type: str, sort_method: str) -> None:
    if tree_type not in ("rtree", "kdtree"):
        raise ValueError(f"tree_type must be rtree|kdtree, got {tree_type!r}")
    if sort_method not in ("hilbert", "str"):
        raise ValueError(f"sort_method must be hilbert|str, got {sort_method!r}")
    if tree_type == "kdtree" and len(cols) != 2:
        raise ValueError("kdtree blobs index point tables; pass cols=(x, y)")


def build_partition_indexes(
    df: DataFrame,
    num_partitions: int,
    cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
    id_col: str = "row_id",
    node_size: int = DEFAULT_NODE_SIZE,
    bounds: tuple[float, float, float, float] | None = None,
    tree_type: str = "rtree",
    sort_method: str = "hilbert",
) -> DataFrame:
    """Hilbert-partition ``df`` (``hilbert_partition``), then build one
    serialized local index per partition (:func:`index_partitions`).
    Returns the index table (one row per non-empty partition). A caller
    that already holds a Hilbert-clustered frame, and uses it for more
    than the index, calls :func:`index_partitions` on it directly and
    saves the second bounds pass, range sample and shuffle."""
    _check_index_args(cols, tree_type, sort_method)  # before the bounds job
    return index_partitions(
        hilbert_partition(df, num_partitions, bounds=bounds, cols=cols),
        cols,
        id_col,
        node_size,
        tree_type,
        sort_method,
    )


def index_partitions(
    df: DataFrame,
    cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
    id_col: str = "row_id",
    node_size: int = DEFAULT_NODE_SIZE,
    tree_type: str = "rtree",
    sort_method: str = "hilbert",
) -> DataFrame:
    """Build one serialized local index per existing partition of
    ``df``, inside ``mapInArrow``. Returns the index table (one row per
    non-empty partition); pruning by a partition's box only helps when
    the partitions are spatially coherent, e.g. ``hilbert_partition``
    output.

    ``tree_type="rtree"`` emits flatbush-v3 blobs (boxes or points);
    ``tree_type="kdtree"`` emits kdbush-v1 blobs — point tables only,
    ~2.4x smaller than degenerate-box flatbush (2 coords vs 4 box
    coords + internal nodes), mirroring the reference where kdbush
    persistence is equally first-class (src/kdtree/index.rs:114-141).
    The probe side dispatches on the blob magic byte (0xfb vs 0xdb) —
    the reference's CoordType/kind inference surface (X8).

    ``sort_method`` picks the local leaf order for rtree blobs:
    ``"hilbert"`` (default) or ``"str"`` — the reference's B3
    sort-tile-recursive bulk load (src/rtree/sort/str.rs:16-100). The
    blob layout and probe path are identical either way (leaf order is
    a build-time choice, not a format change), so STR blobs flow
    through the same search/within/knn probes."""
    _check_index_args(cols, tree_type, sort_method)
    point_mode = len(cols) == 2

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tbl = pa.Table.from_batches(list(batches)) if batches else None
        if tbl is None or tbl.num_rows == 0:
            return
        ids = tbl.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        if point_mode:
            x = tbl.column(1).to_numpy(zero_copy_only=False)
            y = tbl.column(2).to_numpy(zero_copy_only=False)
            if tree_type == "kdtree":
                kd = KDBush(np.stack([x, y], axis=1), node_size=node_size)
                blob = kd.to_bytes()
                b = (float(x.min()), float(y.min()), float(x.max()), float(y.max()))
            else:
                boxes = np.stack([x, y, x, y], axis=1)
        else:
            boxes = np.stack(
                [tbl.column(i).to_numpy(zero_copy_only=False) for i in (1, 2, 3, 4)],
                axis=1,
            )
        if tree_type == "rtree":
            fb = Flatbush(boxes, node_size=node_size, sort_method=sort_method)
            blob = fb.to_bytes()
            b = fb.bounds
        yield pa.RecordBatch.from_pydict(
            {
                "num_items": pa.array([len(ids)], pa.int64()),
                "minx": pa.array([b[0]], pa.float64()),
                "miny": pa.array([b[1]], pa.float64()),
                "maxx": pa.array([b[2]], pa.float64()),
                "maxy": pa.array([b[3]], pa.float64()),
                "tree": pa.array([blob], pa.binary()),
                "ids": pa.array([ids.tobytes()], pa.binary()),
            }
        )

    return df.select(id_col, *cols).mapInArrow(build, INDEX_SCHEMA)


def _probe_blob_bbox(tree: bytes, min_x, min_y, max_x, max_y) -> np.ndarray:
    """Inclusive bbox probe of one serialized blob, dispatched on the
    magic byte: 0xfb -> flatbush search, 0xdb -> kdbush range."""
    if tree[0] == 0xDB:
        return KDBush.from_bytes(tree).range(min_x, min_y, max_x, max_y)
    return Flatbush.from_bytes(tree).search(min_x, min_y, max_x, max_y)


def search_partition_indexes(
    index_df: DataFrame,
    min_x: float,
    min_y: float,
    max_x: float,
    max_y: float,
) -> DataFrame:
    """Probe the index table with a bbox query: Catalyst partition-bbox
    pruning first (the exchange-free root level), then vectorized local
    tree searches (flatbush or kdbush, by blob magic). Returns row_id
    rows (set contract, Q1/Q7)."""
    from geo_index_spark.operators.search import bbox_search

    pruned = bbox_search(index_df, min_x, min_y, max_x, max_y)

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            d = batch.to_pydict()
            hits: list[np.ndarray] = []
            for tree, ids in zip(d["tree"], d["ids"]):
                idx = _probe_blob_bbox(tree, min_x, min_y, max_x, max_y)
                if idx.size:
                    hits.append(np.frombuffer(ids, dtype=np.int64)[idx])
            out = np.concatenate(hits) if hits else np.empty(0, np.int64)
            yield pa.RecordBatch.from_pydict({"row_id": pa.array(out, pa.int64())})

    return pruned.mapInArrow(probe, "row_id long")


def within_partition_indexes(
    index_df: DataFrame,
    qx: float,
    qy: float,
    r: float,
) -> DataFrame:
    """Radius probe of the index table (Q8 over blobs): Catalyst
    partition pruning by circle-vs-bbox lower bound, then local
    ``within`` on kdbush blobs (flatbush point blobs fall back to a
    bbox search + exact residual — same inclusive dist^2 <= r^2
    contract, reference src/kdtree/trait.rs:118-174).

    POINT BLOBS ONLY: the exact residual is point distance, so flatbush
    blobs built over real boxes (minx != maxx) raise — box-distance
    ``within`` has different semantics (use knn/box operators)."""
    from pyspark.sql import functions as F

    pruned = index_df.filter(_lb_col(qx, qy) <= F.lit(float(r)))

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            d = batch.to_pydict()
            hits: list[np.ndarray] = []
            for tree, ids in zip(d["tree"], d["ids"]):
                if tree[0] == 0xDB:
                    idx = KDBush.from_bytes(tree).within(qx, qy, r)
                else:
                    fb = Flatbush.from_bytes(tree)
                    idx = fb.search(qx - r, qy - r, qx + r, qy + r)
                    if idx.size:
                        # leaf nodes hold boxes in sort order; invert the
                        # insertion-index permutation to look them up
                        n = fb.num_items
                        pos = np.empty(n, dtype=np.int64)
                        pos[fb.indices[:n]] = np.arange(n)
                        lb = fb.nodes[pos[idx]]
                        if (lb[:, 0] != lb[:, 2]).any() or (lb[:, 1] != lb[:, 3]).any():
                            raise ValueError(
                                "within_partition_indexes requires point-mode "
                                "blobs (cols=(x, y)); this flatbush blob holds "
                                "real boxes — point-distance refine would "
                                "silently compute center-within-r"
                            )
                        cx = (lb[:, 0] + lb[:, 2]) / 2.0
                        cy = (lb[:, 1] + lb[:, 3]) / 2.0
                        idx = idx[(cx - qx) ** 2 + (cy - qy) ** 2 <= r * r]
                if idx.size:
                    hits.append(np.frombuffer(ids, dtype=np.int64)[idx])
            out = np.concatenate(hits) if hits else np.empty(0, np.int64)
            yield pa.RecordBatch.from_pydict({"row_id": pa.array(out, pa.int64())})

    return pruned.mapInArrow(probe, "row_id long")


def within_geo_partition_indexes(
    index_df: DataFrame,
    qlon: float,
    qlat: float,
    radius_m: float,
) -> DataFrame:
    """METERS-radius (haversine, WGS84, inclusive) probe of a POINT
    blob index table built over (lon, lat) degrees — the blob twin of
    search.within_geo, antimeridian-safe.

    Partition pruning (Catalyst, exchange-free): the literal query's
    provably-containing degree window (search.geo_query_window — 1-2
    disjoint lon segments when it crosses ±180, plus exact-±180 alias
    segments) is OR-overlap-tested against each blob row's bbox.
    Local probe: per segment a bbox search of the blob (kdbush range /
    flatbush search), then the exact haversine residual over the blob's
    stored coordinates. Segments are disjoint, so no row is emitted
    twice. Requires lon in [-180, 180], |lat| <= 90 in the data (the
    window-completeness proof's domain; build after sanitize_lonlat)."""
    from pyspark.sql import functions as F

    from geo_index_spark.localindex.flatbush import haversine
    from geo_index_spark.operators.search import geo_query_window

    qlon, qlat, r = float(qlon), float(qlat), float(radius_m)
    dlat, segs = geo_query_window(qlon, qlat, r)
    lat_lo, lat_hi = qlat - dlat, qlat + dlat

    prune = None
    for lo, hi in segs:
        p = (
            (F.col("minx") <= F.lit(hi))
            & (F.col("maxx") >= F.lit(lo))
            & (F.col("miny") <= F.lit(lat_hi))
            & (F.col("maxy") >= F.lit(lat_lo))
        )
        prune = p if prune is None else (prune | p)
    pruned = index_df.filter(prune)

    def _blob_candidates(tree: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(insertion idx, lon, lat) of all points in any segment box."""
        if tree[0] == 0xDB:
            kd = KDBush.from_bytes(tree)
            pos = np.empty(kd.num_items, dtype=np.int64)
            pos[kd.ids] = np.arange(kd.num_items)
            idx = [kd.range(lo, lat_lo, hi, lat_hi) for lo, hi in segs]
            idx = np.concatenate(idx) if idx else np.empty(0, np.int64)
            c = kd.coords[pos[idx]]
            return idx, c[:, 0], c[:, 1]
        fb = Flatbush.from_bytes(tree)
        n = fb.num_items
        pos = np.empty(n, dtype=np.int64)
        pos[fb.indices[:n]] = np.arange(n)
        idx = [fb.search(lo, lat_lo, hi, lat_hi) for lo, hi in segs]
        idx = np.concatenate(idx) if idx else np.empty(0, np.int64)
        lb = fb.nodes[pos[idx]]
        if idx.size and ((lb[:, 0] != lb[:, 2]).any() or (lb[:, 1] != lb[:, 3]).any()):
            raise ValueError(
                "within_geo_partition_indexes requires point-mode blobs "
                "(cols=(lon, lat)); this flatbush blob holds real boxes"
            )
        return idx, lb[:, 0], lb[:, 1]

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            d = batch.to_pydict()
            hits: list[np.ndarray] = []
            for tree, ids in zip(d["tree"], d["ids"]):
                idx, lons, lats = _blob_candidates(tree)
                if idx.size:
                    keep = haversine(qlon, qlat, lons, lats) <= r
                    idx = idx[keep]
                if idx.size:
                    hits.append(np.frombuffer(ids, dtype=np.int64)[idx])
            out = np.concatenate(hits) if hits else np.empty(0, np.int64)
            yield pa.RecordBatch.from_pydict({"row_id": pa.array(out, pa.int64())})

    return pruned.mapInArrow(probe, "row_id long")


def knn_partition_indexes(
    index_df: DataFrame,
    qx: float,
    qy: float,
    k: int,
    metric: str = "euclidean",
    prune: bool = True,
    max_distance: float | None = None,
) -> DataFrame:
    """Two-phase kNN over the index table: prune partitions whose bbox
    cannot contain a top-k answer, then per-partition best-first local
    top-k inside mapInArrow, then the global TakeOrdered merge — the
    reference heap search distributed (src/rtree/trait.rs:238-302).

    ``max_distance`` prunes inclusively at every level, matching the
    reference's ``neighbors`` (src/rtree/trait.rs:261): it caps the
    partition-prune radius, the local heap search, and hence the merge.

    Pruning (exact): sort partitions by lower-bound distance to their
    bbox; take partitions until the cumulative item count reaches k;
    the worst case for those is their max upper-bound distance
    (farthest bbox corner); any partition with lower bound beyond that
    cannot contribute. The index table is tiny (one row per partition),
    so this is a driver-side collect of partition boxes only."""
    from pyspark.sql import functions as F

    radius = np.inf if max_distance is None else float(grow(max_distance))
    if prune:
        rows = index_df.select(
            "num_items", "minx", "miny", "maxx", "maxy"
        ).collect()
        if rows:
            b = np.array([[r.minx, r.miny, r.maxx, r.maxy] for r in rows])
            cnt = np.array([r.num_items for r in rows])
            radius = float(partition_prune(b, cnt, qx, qy, k, metric, max_distance)[1][0])
    if metric == "euclidean" and np.isfinite(radius):
        # the prune as a Catalyst predicate, so pruned blobs never leave
        # the scan; haversine partitions are pruned in the probe below
        index_df = index_df.filter(_lb_col(qx, qy) <= F.lit(radius))

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            d = batch.to_pydict()
            all_ids: list[np.ndarray] = []
            all_d: list[np.ndarray] = []
            boxes = np.column_stack([d[c] for c in ("minx", "miny", "maxx", "maxy")])
            keep = _metric_block(qx, qy, boxes, metric) <= radius
            for tree, ids, kept in zip(d["tree"], d["ids"], keep):
                if not kept:
                    continue
                fb = Flatbush.from_bytes(tree)
                lids, ldist = fb.neighbors(
                    qx, qy, max_results=k, max_distance=max_distance, metric=metric
                )
                if lids.size:
                    all_ids.append(np.frombuffer(ids, dtype=np.int64)[lids])
                    all_d.append(ldist)
            ids_out = np.concatenate(all_ids) if all_ids else np.empty(0, np.int64)
            d_out = np.concatenate(all_d) if all_d else np.empty(0, np.float64)
            yield pa.RecordBatch.from_pydict(
                {
                    "row_id": pa.array(ids_out, pa.int64()),
                    "dist": pa.array(d_out, pa.float64()),
                }
            )

    local = index_df.mapInArrow(probe, "row_id long, dist double")
    return local.orderBy(F.col("dist").asc(), F.col("row_id").asc()).limit(int(k))
