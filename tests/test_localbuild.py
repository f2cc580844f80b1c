"""Distributed index-as-buffer: build/probe parity vs plain scans."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_index_spark.fixtures import data1_df, kdbush_df
from geo_index_spark.localindex.flatbush import Flatbush, f64_box_to_f32
from geo_index_spark.operators import bbox_search, knn
from geo_index_spark.operators.knn import knn_boxes
from geo_index_spark.operators.localbuild import (
    build_partition_indexes,
    knn_partition_indexes,
    search_partition_indexes,
)


def test_index_table_shape(spark):
    idx = build_partition_indexes(data1_df(spark), 4).collect()
    assert 1 <= len(idx) <= 4
    assert sum(r.num_items for r in idx) == 100
    for r in idx:
        fb = Flatbush.from_bytes(bytes(r.tree))
        assert fb.num_items == r.num_items
        ids = np.frombuffer(bytes(r.ids), dtype=np.int64)
        assert len(ids) == r.num_items


def test_indexed_search_parity(spark):
    df = data1_df(spark)
    idx = build_partition_indexes(df, 4)
    got = {r.row_id for r in search_partition_indexes(idx, 40, 40, 60, 60).collect()}
    want = {r.row_id for r in bbox_search(df, 40, 40, 60, 60).collect()}
    assert got == want and len(got) == 4


@pytest.mark.parametrize("p", [1, 3, 8])
def test_indexed_search_partition_invariance(spark, p):
    df = kdbush_df(spark)
    idx = build_partition_indexes(df, p, cols=("x", "y"))
    got = {r.row_id for r in search_partition_indexes(idx, 20, 30, 50, 70).collect()}
    want = {r.row_id for r in bbox_search(df, 20, 30, 50, 70, cols=("x", "y", "x", "y")).collect()}
    assert got == want


def test_indexed_knn_matches_flat_knn(spark):
    df = kdbush_df(spark)
    idx = build_partition_indexes(df, 4, cols=("x", "y"))
    got = [(r.row_id, round(r.dist, 9)) for r in knn_partition_indexes(idx, 50, 50, 10).collect()]
    want = [
        (r.row_id, round(r.dist, 9))
        for r in knn(kdbush_df(spark), 50, 50, 10).collect()
    ]
    assert got == want


def test_knn_boxes_doctest(spark):
    # boxes (i,i,i+2,i+2); query (5,5) -> [2,1,0] (reference trait.rs:184-197)
    df = spark.createDataFrame(
        [(i, float(i), float(i), float(i + 2), float(i + 2)) for i in range(3)],
        "row_id long, minx double, miny double, maxx double, maxy double",
    )
    got = [r.row_id for r in knn_boxes(df, 5.0, 5.0, 3).collect()]
    assert got == [2, 1, 0]
    # inside a box -> distance 0
    got0 = knn_boxes(df, 1.0, 1.0, 1).first()
    assert got0.dist == 0.0


def test_f64_box_to_f32_contains():
    rng = np.random.default_rng(5)
    for _ in range(200):
        b = np.sort(rng.uniform(-1e7, 1e7, 4))
        mnx, mny, mxx, mxy = f64_box_to_f32(b[0], b[1], b[2], b[3])
        assert float(mnx) <= b[0] and float(mny) <= b[1]
        assert float(mxx) >= b[2] and float(mxy) >= b[3]


def test_indexed_knn_pruned_matches_unpruned(spark):
    df = kdbush_df(spark)
    idx = build_partition_indexes(df, 6, cols=("x", "y")).cache()
    for q, k in [((50, 50), 10), ((0, 0), 3), ((120, -5), 7)]:
        pruned = [(r.row_id, round(r.dist, 9)) for r in knn_partition_indexes(idx, *q, k).collect()]
        full = [(r.row_id, round(r.dist, 9)) for r in knn_partition_indexes(idx, *q, k, prune=False).collect()]
        assert pruned == full, f"q={q} k={k}"
    idx.unpersist()


def test_indexed_knn_max_distance(spark):
    """max_distance threads through partition prune + local heap +
    merge; pruned == unpruned == plain knn (reference
    src/rtree/trait.rs:261 inclusive semantics)."""
    df = kdbush_df(spark)
    idx = build_partition_indexes(df, 4, cols=("x", "y"))
    want = [
        (r.row_id, round(r.dist, 9))
        for r in knn(df, 50.0, 50.0, 20, max_distance=15.0, cols=("x", "y")).collect()
    ]
    for prune in (True, False):
        got = [
            (r.row_id, round(r.dist, 9))
            for r in knn_partition_indexes(
                idx, 50.0, 50.0, 20, max_distance=15.0, prune=prune
            ).collect()
        ]
        assert got == want
    assert 0 < len(want) <= 20
    assert all(d <= 15.0 for _, d in want)


def test_kd_blob_search_and_within_parity(spark):
    from geo_index_spark.localindex.kdbush import KDBush
    from geo_index_spark.operators import within
    from geo_index_spark.operators.localbuild import within_partition_indexes

    df = kdbush_df(spark)
    idx = build_partition_indexes(df, 4, cols=("x", "y"), tree_type="kdtree")
    rows = idx.collect()
    assert all(bytes(r.tree)[0] == 0xDB for r in rows)
    # kd blob decodes via the kdbush kernel
    kd = KDBush.from_bytes(bytes(rows[0].tree))
    assert kd.num_items == rows[0].num_items
    got = {r.row_id for r in search_partition_indexes(idx, 20, 30, 50, 70).collect()}
    want = {r.row_id for r in bbox_search(df, 20, 30, 50, 70, cols=("x", "y", "x", "y")).collect()}
    assert got == want
    got_w = {r.row_id for r in within_partition_indexes(idx, 50.0, 50.0, 20.0).collect()}
    want_w = {r.row_id for r in within(df, 50.0, 50.0, 20.0, cols=("x", "y")).collect()}
    assert got_w == want_w and len(got_w) > 0


def test_kd_blob_smaller_than_rtree_blob(spark):
    df = kdbush_df(spark)
    rt = build_partition_indexes(df, 1, cols=("x", "y"), tree_type="rtree").collect()
    kd = build_partition_indexes(df, 1, cols=("x", "y"), tree_type="kdtree").collect()
    assert len(bytes(kd[0].tree)) < len(bytes(rt[0].tree))


def test_rtree_within_fallback_parity(spark):
    """within over FLATBUSH point blobs (magic dispatch fallback) must
    match the plain scan too."""
    from geo_index_spark.operators import within
    from geo_index_spark.operators.localbuild import within_partition_indexes

    df = kdbush_df(spark)
    idx = build_partition_indexes(df, 4, cols=("x", "y"), tree_type="rtree")
    got = {r.row_id for r in within_partition_indexes(idx, 50.0, 50.0, 20.0).collect()}
    want = {r.row_id for r in within(df, 50.0, 50.0, 20.0, cols=("x", "y")).collect()}
    assert got == want


def test_kd_blob_requires_points(spark):
    with pytest.raises(ValueError):
        build_partition_indexes(data1_df(spark), 2, tree_type="kdtree")


def test_str_blob_search_parity_boxes(spark):
    """B3 driver path: STR-ordered flatbush blobs probed for a bbox must
    return the same set as the plain scan AND as hilbert-ordered blobs
    (leaf order is build-time only; reference src/rtree/sort/str.rs)."""
    df = data1_df(spark)
    want = {r.row_id for r in bbox_search(df, 40, 40, 60, 60).collect()}
    idx = build_partition_indexes(df, 4, sort_method="str")
    got = {r.row_id for r in search_partition_indexes(idx, 40, 40, 60, 60).collect()}
    assert got == want and len(got) == 4
    rows = idx.collect()
    assert all(bytes(r.tree)[0] == 0xFB for r in rows)  # still flatbush v3
    assert sum(r.num_items for r in rows) == 100


@pytest.mark.parametrize("p", [1, 3, 8])
def test_str_blob_search_parity_points(spark, p):
    df = kdbush_df(spark)
    idx = build_partition_indexes(df, p, cols=("x", "y"), sort_method="str")
    got = {r.row_id for r in search_partition_indexes(idx, 20, 30, 50, 70).collect()}
    want = {r.row_id for r in bbox_search(df, 20, 30, 50, 70, cols=("x", "y", "x", "y")).collect()}
    assert got == want and len(got) > 0


def test_str_blob_knn_parity(spark):
    """kNN probes are order-independent too: STR blobs == plain knn."""
    df = kdbush_df(spark)
    idx = build_partition_indexes(df, 4, cols=("x", "y"), sort_method="str")
    got = [(r.row_id, round(r.dist, 9)) for r in knn_partition_indexes(idx, 50, 50, 10).collect()]
    want = [(r.row_id, round(r.dist, 9)) for r in knn(kdbush_df(spark), 50, 50, 10).collect()]
    assert got == want


def test_bad_sort_method_raises(spark):
    with pytest.raises(ValueError):
        build_partition_indexes(data1_df(spark), 2, sort_method="zorder")


def test_kd_within_dateline_cluster_parity(spark):
    """VERDICT r3 #7: indexed kd within over a DATELINE cluster (lon
    mixing 179.x and -179.x, the sign flip that breaks naive bbox
    pruning) — the kd-blob path's euclidean-degrees result must equal
    the plain scan for queries on both sides of the line and one whose
    circle spans the lon sign change. (Wrap-aware METERS-radius queries
    are within_geo; this pins the planar blob path's partition prune.)"""
    import numpy as np
    from geo_index_spark.operators import within
    from geo_index_spark.operators.localbuild import within_partition_indexes

    rng = np.random.default_rng(23)
    lon = np.concatenate([rng.uniform(177.0, 180.0, 80), rng.uniform(-180.0, -177.0, 80)])
    lat = rng.uniform(50.0, 70.0, 160)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(np.column_stack([lon, lat]))]
    df = spark.createDataFrame(pts, "row_id long, x double, y double")
    idx = build_partition_indexes(df, 6, cols=("x", "y"), tree_type="kdtree").cache()
    for qx, qy, r in [(179.0, 60.0, 1.5), (-179.0, 55.0, 2.0), (0.5, 60.0, 181.0)]:
        got = {r_.row_id for r_ in within_partition_indexes(idx, qx, qy, r).collect()}
        want = {r_.row_id for r_ in within(df, qx, qy, r, cols=("x", "y")).collect()}
        assert got == want, (qx, qy, r)
        assert len(got) > 0
    idx.unpersist()


def test_within_geo_blob_parity_dateline(spark):
    """Blob twin of within_geo: meters-radius haversine probe over kd
    AND flatbush point blobs on a ±180 cluster must equal the scan-path
    within_geo (itself brute-force-pinned), including queries whose
    degree window crosses the antimeridian, for both lon signs and a
    mid-cluster query."""
    from geo_index_spark.operators.search import within_geo
    from geo_index_spark.operators.localbuild import within_geo_partition_indexes

    rng = np.random.default_rng(31)
    lon = np.concatenate([rng.uniform(176.0, 180.0, 90), rng.uniform(-180.0, -176.0, 90)])
    lat = rng.uniform(45.0, 75.0, 180)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(np.column_stack([lon, lat]))]
    df = spark.createDataFrame(pts, "row_id long, x double, y double")
    queries = [(179.8, 60.0, 200_000.0), (-179.5, 55.0, 350_000.0), (178.0, 70.0, 150_000.0)]
    for tree_type in ("kdtree", "rtree"):
        idx = build_partition_indexes(df, 5, cols=("x", "y"), tree_type=tree_type).cache()
        for qlon, qlat, r in queries:
            got = {r_.row_id for r_ in within_geo_partition_indexes(idx, qlon, qlat, r).collect()}
            want = {r_.row_id for r_ in within_geo(df, qlon, qlat, r).collect()}
            assert got == want, (tree_type, qlon, qlat, r)
            assert len(got) > 0
        idx.unpersist()


def test_within_geo_blob_rejects_box_blobs(spark):
    from geo_index_spark.operators.localbuild import within_geo_partition_indexes

    boxes = spark.createDataFrame(
        [(0, 10.0, 10.0, 12.0, 12.0)],
        "row_id long, minx double, miny double, maxx double, maxy double",
    )
    idx = build_partition_indexes(boxes, 1)
    with pytest.raises(Exception, match="point-mode"):
        within_geo_partition_indexes(idx, 11.0, 11.0, 500_000.0).collect()


def test_indexed_knn_haversine_dateline_prune(spark):
    """Haversine knn_partition_indexes on a +-180 cluster split into
    several partitions: the partition prune uses the wrap-aware box
    bound, so a query on one side of the line still reaches the
    partitions on the other side, and pruned == unpruned == brute
    force (ids exact, distances to 1e-6 m)."""
    from geo_index_spark.localindex.flatbush import haversine

    rng = np.random.default_rng(31)
    lon = np.concatenate([rng.uniform(178.0, 180.0, 120), rng.uniform(-180.0, -178.0, 120)])
    lat = rng.uniform(60.0, 80.0, 240)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(np.column_stack([lon, lat]))]
    idx = build_partition_indexes(
        spark.createDataFrame(pts, "row_id long, x double, y double"), 6, cols=("x", "y")
    ).cache()
    for qx, qy, k in [(179.99, 70.0, 8), (-179.99, 61.0, 5), (180.0, 80.0, 12)]:
        d = haversine(qx, qy, lon, lat)
        want_ids = list(np.lexsort((np.arange(len(d)), d))[:k])
        for prune in (True, False):
            got = knn_partition_indexes(idx, qx, qy, k, metric="haversine", prune=prune).collect()
            assert [r.row_id for r in got] == want_ids, (qx, qy, prune)
            assert np.allclose([r.dist for r in got], d[want_ids], rtol=0, atol=1e-6)
        assert any(lon[i] < 0 for i in want_ids) and any(lon[i] > 0 for i in want_ids)
    idx.unpersist()
