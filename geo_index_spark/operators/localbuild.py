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
:func:`knn_probe` is the package's one kNN probe over such a table:
``knn_join`` indexes its rights with it, :func:`knn_partition_indexes`
is its one-left call; both rank by (dist, row id), ties included.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from geo_index_spark.localindex.flatbush import (
    DEFAULT_NODE_SIZE,
    Flatbush,
    _metric_block,
    haversine_box,
)
from geo_index_spark.localindex.kdbush import KDBush
from geo_index_spark.operators.partitioning import hilbert_partition
from geo_index_spark.operators.search import bbox_search

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


def _leaf_points(fb: Flatbush, idx: np.ndarray, caller: str) -> tuple[np.ndarray, np.ndarray]:
    """(x, y) of items ``idx`` (insertion indexes) of a flatbush point
    blob, read from its leaf nodes, which hold the items' exact boxes in
    sort order; a blob over real boxes (minx != maxx) raises."""
    n = fb.num_items
    pos = np.empty(n, dtype=np.int64)
    pos[fb.indices[:n]] = np.arange(n)
    lb = fb.nodes[pos[idx]]
    if (lb[:, 0] != lb[:, 2]).any() or (lb[:, 1] != lb[:, 3]).any():
        raise ValueError(
            f"{caller} requires point-mode blobs (cols=(x, y)); this flatbush "
            "blob holds real boxes"
        )
    return lb[:, 0], lb[:, 1]


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
                        x, y = _leaf_points(fb, idx, "within_partition_indexes")
                        idx = idx[(x - qx) ** 2 + (y - qy) ** 2 <= r * r]
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
        idx = [fb.search(lo, lat_lo, hi, lat_hi) for lo, hi in segs]
        idx = np.concatenate(idx) if idx else np.empty(0, np.int64)
        return (idx, *_leaf_points(fb, idx, "within_geo_partition_indexes"))

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


def knn_probe(
    index_df: DataFrame,
    lefts: pd.DataFrame,
    lschema: StructType,
    k: int,
    metric: str,
    max_distance: float | None,
) -> tuple[DataFrame, dict]:
    """The package's one kNN probe, of driver-resident ``lefts`` (the
    columns of ``lschema``; query points ``px``, ``py``) over an index
    table of flatbush point blobs — geo-index's partition boxes plus one
    best-first ``neighbors`` per tree (src/rtree/trait.rs:238-302).

    One narrow collect reads each row's count, box and blob magic (kd
    blobs raise ``ValueError`` before any probe job), and the exact
    :func:`partition_prune` gives each left its radius. The lefts ride
    one ``mapInArrow`` per chunk of ``CERT_UPFRONT_MAX_LEFTS``; a
    euclidean chunk first drops, in Catalyst, the rows outside the union
    of its lefts' radius boxes. Each row probes the lefts whose radius
    reaches its box: ``neighbors`` for k + 1 rights, and when the
    (k+1)th lies within the kth distance grown by :func:`grow`, every
    right within that distance — so ties at the kth distance stay in.
    The right points come from the leaf nodes (exact f64 boxes), and
    ``dist`` is the Catalyst expression ``knn._pair_dist_col``, capped
    inclusively by ``max_distance``.

    Returns ``(pairs, stats)``: ``pairs`` has the lefts' other columns,
    ``right_id`` (the blobs' int64 ids) and ``dist``, a superset of each
    left's top k for the caller to rank by (dist, right_id); ``stats``
    the chunks, rows (slices), rights indexed and mean rows kept per left."""
    from pyspark.sql import functions as F

    from geo_index_spark.operators.knn import CERT_UPFRONT_MAX_LEFTS, _pair_dist_col

    box = ["minx", "miny", "maxx", "maxy"]
    rows = index_df.selectExpr("num_items", *box, "substring(tree, 1, 1) AS magic").collect()
    if any(bytes(r.magic) != b"\xfb" for r in rows):
        raise ValueError("the kNN probe reads flatbush blobs; this index holds kdbush blobs")
    boxes = np.array([[r[c] for c in box] for r in rows], np.float64).reshape(-1, 4)
    counts = np.array([r.num_items for r in rows], np.int64)
    px = lefts["px"].to_numpy(np.float64)
    py = lefts["py"].to_numpy(np.float64)
    radius = np.full(len(px), np.inf)
    n_kept = 0
    for i in range(0, len(px) if rows else 0, 4096):  # bounds the (lefts, rows) arrays
        lb, radius[i : i + 4096] = partition_prune(
            boxes, counts, px[i : i + 4096], py[i : i + 4096], k, metric, max_distance
        )
        n_kept += int((lb <= radius[i : i + 4096, None]).sum())
    lt = pa.Table.from_pandas(lefts[lschema.names], preserve_index=False)
    cap = None if max_distance is None else float(grow(max_distance))
    out_cols = [StructField("right_id", LongType())] + [StructField(c, DoubleType()) for c in ("qx", "qy")]

    def probe_fn(lt_: pa.Table, rad: np.ndarray):  # binds one chunk: the plans run after the loop
        lx = lt_.column("px").to_numpy().astype(np.float64)[:, None]
        ly = lt_.column("py").to_numpy().astype(np.float64)[:, None]

        def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                d = batch.to_pydict()
                b = np.column_stack([d[c] for c in box])
                keep = _metric_block(lx, ly, b, metric) <= rad[:, None]  # partition_prune's rule
                for j, (tree, ids) in enumerate(zip(d["tree"], d["ids"])):
                    sel = np.flatnonzero(keep[:, j])
                    if not sel.size:
                        continue
                    fb = Flatbush.from_bytes(tree)
                    li: list[np.ndarray] = []
                    ri: list[np.ndarray] = []
                    for i in sel:
                        got, dist = fb.neighbors(
                            lx[i, 0], ly[i, 0], max_results=k + 1, max_distance=cap, metric=metric
                        )
                        if len(got) > k:
                            # a (k+1)th right inside the grown kth distance:
                            # fetch every right within it (ties), else the first k
                            g = float(grow(dist[k - 1]))
                            got = got[:k] if dist[k] > g else fb.neighbors(
                                lx[i, 0], ly[i, 0], max_distance=g, metric=metric
                            )[0]
                        li.append(np.full(len(got), i))
                        ri.append(got)
                    ri_ = np.concatenate(ri)
                    if ri_.size:
                        left = lt_.take(np.concatenate(li))
                        rid = np.frombuffer(ids, dtype=np.int64)[ri_]
                        qx, qy = _leaf_points(fb, ri_, "the kNN probe")
                        yield pa.RecordBatch.from_arrays(
                            [*(c.combine_chunks() for c in left.columns), *map(pa.array, (rid, qx, qy))],
                            names=[*lt_.column_names, "right_id", "qx", "qy"],
                        )

        return probe

    pairs = None
    starts = range(0, max(len(px), 1), CERT_UPFRONT_MAX_LEFTS)
    for c0 in starts:
        c = slice(c0, c0 + CERT_UPFRONT_MAX_LEFTS)
        chunk, r = index_df, radius[c]
        if metric == "euclidean" and len(r) and np.isfinite(r).all():
            # the prune as one Catalyst box, so blobs no left of the chunk
            # can use never leave the scan; padded by grow's headroom over
            # rounding, the probe's own test above decides
            lo = np.array([(px[c] - r).min(), (py[c] - r).min()])
            hi = np.array([(px[c] + r).max(), (py[c] + r).max()])
            pad = 1e-9 * float(np.abs(np.concatenate([lo, hi])).max())
            chunk = bbox_search(chunk, *(lo - pad), *(hi + pad))
        part = chunk.mapInArrow(
            probe_fn(lt.slice(c0, CERT_UPFRONT_MAX_LEFTS), r), StructType(lschema.fields + out_cols)
        )
        pairs = part if pairs is None else pairs.unionAll(part)
    keys = [c for c in lschema.names if c not in ("px", "py")]
    out = pairs.select(*keys, "right_id", _pair_dist_col(metric).alias("dist"))
    if max_distance is not None:
        out = out.filter(F.col("dist") <= F.lit(float(max_distance)))
    return out, {
        "chunks": len(starts),
        "slices": len(rows),
        "rights_indexed": int(counts.sum()),
        "mean_slices_per_left": round(n_kept / max(len(px), 1), 3),
    }


def knn_partition_indexes(
    index_df: DataFrame,
    qx: float,
    qy: float,
    k: int,
    metric: str = "euclidean",
    max_distance: float | None = None,
) -> DataFrame:
    """The ``k`` nearest indexed points to (qx, qy) by (dist, row_id),
    ties at the kth distance to the smaller row id as in ``knn.knn``:
    the one-left call of :func:`knn_probe` over the caller's index table
    (flatbush point blobs), then the global TakeOrdered merge.
    ``max_distance`` prunes inclusively at every level, like the
    reference's ``neighbors`` (src/rtree/trait.rs:261): the partition
    prune, the local search and the merge."""
    lefts = pd.DataFrame({"px": [float(qx)], "py": [float(qy)]})
    lschema = StructType([StructField(c, DoubleType()) for c in ("px", "py")])
    pairs, _ = knn_probe(index_df, lefts, lschema, k, metric, max_distance)
    return pairs.withColumnRenamed("right_id", "row_id").orderBy("dist", "row_id").limit(int(k))
