"""Distributed operators vs goldens + DuckDB oracles + partition invariance."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_index_spark.fixtures import (
    DATA1_SEARCH_40_60_BOXES,
    KD_RANGE_20_30_50_70_IDS,
    KD_WITHIN_50_50_R20_IDS,
    data1_boxes,
    data1_df,
    kdbush_df,
)
from geo_index_spark.operators import (
    bbox_search,
    boxes_at_level,
    global_bounds,
    hilbert_partition,
    kd_range,
    knn,
    partition_boxes,
    partitions,
    spatial_join,
    within,
)


def test_bbox_search_golden(spark):
    df = data1_df(spark)
    got = bbox_search(df, 40, 40, 60, 60).select("minx", "miny", "maxx", "maxy").collect()
    assert {tuple(r) for r in got} == DATA1_SEARCH_40_60_BOXES


def test_bbox_search_touching_edges_match(spark):
    df = spark.createDataFrame(
        [(0, 0.0, 0.0, 1.0, 1.0)], "row_id long, minx double, miny double, maxx double, maxy double"
    )
    assert bbox_search(df, 1.0, 1.0, 2.0, 2.0).count() == 1  # inclusive overlap
    assert bbox_search(df, 1.0001, 1.0, 2.0, 2.0).count() == 0


def test_kd_range_and_within_goldens(spark):
    df = kdbush_df(spark)
    got = {r.row_id for r in kd_range(df, 20, 30, 50, 70).collect()}
    assert got == KD_RANGE_20_30_50_70_IDS
    got_w = {r.row_id for r in within(df, 50, 50, 20).collect()}
    assert got_w == KD_WITHIN_50_50_R20_IDS


def test_global_bounds(spark):
    b = data1_boxes()
    got = global_bounds(data1_df(spark))
    assert got == (b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max())


def test_hilbert_partition_preserves_rows_and_clusters(spark):
    df = data1_df(spark)
    hp = hilbert_partition(df, 4)
    assert hp.count() == 100
    # keys are non-decreasing within each partition (sortWithinPartitions)
    pdf = hp.select("hilbert", F.spark_partition_id().alias("pid")).toPandas()
    for _, g in pdf.groupby("pid"):
        assert (np.diff(g["hilbert"].to_numpy()) >= 0).all()


def test_partitions_matches_local_flatbush_grouping(spark):
    """X2 parity: distributed partition assignment groups the same items
    per leaf node as the local packed tree (node_size chunks of the
    Hilbert order)."""
    from geo_index_spark.localindex.flatbush import Flatbush

    boxes = data1_boxes()
    node_size = 16
    p = partitions(data1_df(spark), node_size).orderBy("hilbert", "row_id").toPandas()
    fb = Flatbush(boxes, node_size=node_size)
    local_order = fb.indices[:100]
    for pid in range(int(np.ceil(100 / node_size))):
        want = set(local_order[pid * node_size : (pid + 1) * node_size].tolist())
        got = set(p.loc[p["partition_id"] == pid, "row_id"].tolist())
        assert got == want, f"partition {pid}"


def test_with_str_order_matches_local_kernel(spark):
    """B3 parity: the distributed STR order equals the local
    flatbush._str_order leaf order item for item (unique x-centers, so
    the id tiebreak coincides with the kernel's stable input order)."""
    from geo_index_spark.localindex.flatbush import _str_order
    from geo_index_spark.operators.partitioning import with_str_order

    boxes = data1_boxes()
    node_size = 16
    want = _str_order(boxes, node_size).tolist()
    got = (
        with_str_order(data1_df(spark), node_size)
        .orderBy("str_pos")
        .select("row_id")
        .toPandas()["row_id"]
        .tolist()
    )
    assert got == want


def test_str_partition_preserves_rows_and_slices(spark):
    """Scale path: rows preserved, <= ceil(sqrt(P)) slices, and within
    each Spark partition the (slice_id, str_y) sort holds (that sort is
    what gives parquet files tight min/max stats)."""
    from geo_index_spark.operators.partitioning import str_partition

    df = data1_df(spark)
    sp = str_partition(df, 4)
    assert sp.count() == 100
    pdf = sp.select("slice_id", "str_y", F.spark_partition_id().alias("pid")).toPandas()
    assert pdf["slice_id"].nunique() <= 2  # ceil(sqrt(4))
    for _, g in pdf.groupby("pid"):
        keys = list(zip(g["slice_id"], g["str_y"]))
        assert keys == sorted(keys)


def test_partitions_five_items_node_size_two(spark):
    # reference python/tests/test_rtree.py: 5 items, node_size 2 => 3 partitions
    df = spark.createDataFrame(
        [(i, float(i), float(i), float(i) + 1, float(i) + 1) for i in range(5)],
        "row_id long, minx double, miny double, maxx double, maxy double",
    )
    p = partitions(df, 2)
    counts = p.groupBy("partition_id").count().orderBy("partition_id").collect()
    assert [r["count"] for r in counts] == [2, 2, 1]


def test_partition_boxes_cover_items(spark):
    df = data1_df(spark)
    p = partitions(df, 16)
    pb = partition_boxes(p).toPandas()
    items = p.toPandas()
    for _, row in items.iterrows():
        box = pb[pb.partition_id == row.partition_id].iloc[0]
        assert box.minx <= row.minx and box.miny <= row.miny
        assert box.maxx >= row.maxx and box.maxy >= row.maxy


def test_boxes_at_level_1_equals_partition_boxes(spark):
    df = data1_df(spark)
    got = boxes_at_level(df, 16, 1).toPandas()
    want = partition_boxes(partitions(df, 16)).toPandas()
    assert got.equals(want)


def test_knn_order_and_tiebreak(spark):
    df = kdbush_df(spark)
    got = knn(df, 50, 50, 10).toPandas()
    pts = np.array([[r.x, r.y] for _, r in got.iterrows()])
    d = np.hypot(pts[:, 0] - 50, pts[:, 1] - 50)
    assert np.all(np.diff(d) >= 0)
    # oracle via duckdb
    con = duckdb.connect()
    pdf = kdbush_df(spark).toPandas()
    con.register("pts", pdf)
    want = con.sql(
        "SELECT row_id FROM pts ORDER BY (x-50)*(x-50)+(y-50)*(y-50), row_id LIMIT 10"
    ).fetchall()
    assert list(got.row_id) == [r[0] for r in want]


def test_knn_max_distance_inclusive(spark):
    df = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 3.0, 4.0), (2, 10.0, 0.0)], "row_id long, x double, y double"
    )
    got = knn(df, 0, 0, 10, max_distance=5.0).toPandas()
    assert list(got.row_id) == [0, 1]  # dist 5 inclusive


def test_knn_haversine_doctest(spark):
    df = spark.createDataFrame(
        [(0, -74.0, 40.7), (1, -0.1, 51.5), (2, 139.7, 35.7)],
        "row_id long, x double, y double",
    )
    got = knn(df, -74.0, 40.7, 3, metric="haversine").toPandas()
    assert list(got.row_id) == [0, 1, 2]


def _duckdb_join_oracle(boxes: np.ndarray) -> set[tuple[int, int]]:
    con = duckdb.connect()
    import pandas as pd

    pdf = pd.DataFrame(boxes, columns=["minx", "miny", "maxx", "maxy"])
    pdf["row_id"] = range(len(pdf))
    con.register("b", pdf)
    rows = con.sql(
        """
        SELECT a.row_id, c.row_id FROM b a, b c
        WHERE a.minx <= c.maxx AND a.maxx >= c.minx
          AND a.miny <= c.maxy AND a.maxy >= c.miny
        """
    ).fetchall()
    return set(rows)


@pytest.mark.parametrize("grid_level", [2, 5, 8])
def test_spatial_self_join_oracle(spark, grid_level):
    """Q6/X4 parity: candidate set == DuckDB inclusive-overlap theta join
    (the reference's rstar set-parity analogue)."""
    boxes = data1_boxes()
    df = data1_df(spark)
    got = spatial_join(df, df, grid_level=grid_level).collect()
    got_set = {(r.left_id, r.right_id) for r in got}
    assert len(got) == len(got_set), "duplicate pairs emitted"
    assert got_set == _duckdb_join_oracle(boxes)


def test_spatial_join_broadcast_matches(spark):
    boxes = data1_boxes()
    df = data1_df(spark)
    got = spatial_join(df, df, grid_level=4, broadcast_side="right").collect()
    assert {(r.left_id, r.right_id) for r in got} == _duckdb_join_oracle(boxes)


def test_partition_invariance(spark):
    """Golden results identical across partition counts (FIXTURES.md §8)."""
    df = data1_df(spark)
    want = {r.row_id for r in bbox_search(df, 40, 40, 60, 60).collect()}
    for p in (1, 4, 13):
        got = {r.row_id for r in bbox_search(df.repartition(p), 40, 40, 60, 60).collect()}
        assert got == want


def test_spatial_join_salted_parity(spark, monkeypatch):
    """salt>1 must not change the result set (skew path correctness).
    The auto SHUFFLE_HASH gate sizes the build side it hashes: the
    right side replicated ``salt`` times, so a budget that fits the raw
    right side at salt 1 withholds the hint at salt 4."""
    import importlib

    J = importlib.import_module("geo_index_spark.operators.join")
    boxes = data1_boxes()
    df = data1_df(spark)
    want = _duckdb_join_oracle(boxes)
    got = {(r.left_id, r.right_id) for r in spatial_join(df, df, grid_level=4, salt=4).collect()}
    assert got == want

    monkeypatch.setattr(J, "_auto_broadcast_threshold", lambda spark: 0)
    rsz = J._plan_size_bytes(df)
    monkeypatch.setattr(J, "SHUFFLE_HASH_BUILD_BUDGET", 2.0 * rsz / J._shuffle_partitions(spark))
    pairs = {}
    for salt in (1, 4):
        out = spatial_join(df, df, grid_level=4, salt=salt)
        hinted = "shuffle_hash" in out._jdf.queryExecution().optimizedPlan().toString()
        assert hinted == (salt == 1), salt
        pairs[salt] = {(r.left_id, r.right_id) for r in out.collect()}
    assert pairs[1] == pairs[4] == want


def test_distance_join_oracle(spark):
    """Two-phase candidate->refine distance join vs DuckDB oracle."""
    from geo_index_spark.operators.join import distance_join

    df = kdbush_df(spark)
    got = {(r.left_id, r.right_id) for r in distance_join(df, df, 12.0).collect()}
    con = duckdb.connect()
    con.register("p", df.toPandas())
    want = set(
        con.sql(
            """SELECT a.row_id, b.row_id FROM p a, p b
               WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 144.0"""
        ).fetchall()
    )
    assert got == want


def test_validate_null_nan_policy(spark):
    from geo_index_spark.operators.validate import drop_invalid, reject_invalid

    df = spark.createDataFrame(
        [(0, 1.0, 2.0), (1, None, 3.0), (2, float("nan"), 4.0), (3, 5.0, 6.0)],
        "row_id long, x double, y double",
    )
    kept = {r.row_id for r in drop_invalid(df, ("x", "y")).collect()}
    assert kept == {0, 3}
    with pytest.raises(ValueError, match="null/NaN"):
        reject_invalid(df, ("x", "y"))
    clean = drop_invalid(df, ("x", "y"))
    assert reject_invalid(clean, ("x", "y")) is clean


def test_knn_sequence_500_tie_free(spark):
    """FIXTURES.md §4: 500 seeded points, exact (dist, row_id) sequence
    vs numpy oracle."""
    rng = np.random.default_rng(4242)
    pts = rng.uniform(0, 1000, size=(500, 2))
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "row_id long, x double, y double",
    )
    q = (333.33, 666.66)
    got = [r.row_id for r in knn(df, *q, 50).collect()]
    d = np.hypot(pts[:, 0] - q[0], pts[:, 1] - q[1])
    want = sorted(range(500), key=lambda i: (d[i], i))[:50]
    assert got == want


class TestKnnGeometry:
    """Q5 full: kNN by query geometry vs the numpy brute-force twin."""

    PLINE = [[10.0, 10.0], [40.0, 80.0], [70.0, 20.0], [95.0, 60.0]]
    PGON = [[20.0, 20.0], [80.0, 15.0], [90.0, 70.0], [50.0, 95.0], [15.0, 60.0]]

    def _brute(self, df, vertices, geom_type, k, max_distance=None):
        import numpy as np
        from geo_index_spark.operators.knn import point_to_geom_np

        rows = df.collect()
        ids = np.array([r.row_id for r in rows])
        d = point_to_geom_np([r.x for r in rows], [r.y for r in rows], vertices, geom_type)
        order = np.lexsort((ids, d))
        out = [(int(ids[i]), float(d[i])) for i in order]
        if max_distance is not None:
            out = [(i, v) for i, v in out if v <= max_distance]
        return [(i, round(v, 9)) for i, v in out[:k]]

    @pytest.mark.parametrize("geom_type,verts", [("polyline", PLINE), ("polygon", PGON)])
    @pytest.mark.parametrize("two_phase", [True, False])
    def test_matches_bruteforce(self, spark, geom_type, verts, two_phase):
        from geo_index_spark.fixtures import kdbush_df
        from geo_index_spark.operators.knn import knn_geometry

        df = kdbush_df(spark)
        got = [
            (r.row_id, round(r.dist, 9))
            for r in knn_geometry(df, verts, 25, geom_type=geom_type, two_phase=two_phase).collect()
        ]
        assert got == self._brute(df, verts, geom_type, 25)

    def test_polygon_interior_distance_zero(self, spark):
        from geo_index_spark.operators.knn import knn_geometry

        pts = spark.createDataFrame(
            [(1, 50.0, 50.0), (2, 200.0, 200.0)], "row_id long, x double, y double"
        )
        out = {r.row_id: r.dist for r in knn_geometry(pts, self.PGON, 2, geom_type="polygon").collect()}
        assert out[1] == 0.0 and out[2] > 0.0

    def test_max_distance(self, spark):
        from geo_index_spark.fixtures import kdbush_df
        from geo_index_spark.operators.knn import knn_geometry

        df = kdbush_df(spark)
        got = [
            (r.row_id, round(r.dist, 9))
            for r in knn_geometry(df, self.PLINE, 25, max_distance=5.0).collect()
        ]
        assert got == self._brute(df, self.PLINE, "polyline", 25, max_distance=5.0)

    def test_large_geometry_arrow_path(self, spark):
        """>MAX_CODEGEN_EDGES vertices switch the exact distance to the
        Arrow numpy kernel; results must equal the Catalyst expression
        path exactly (same formula, same IEEE doubles)."""
        import importlib
        import math
        from geo_index_spark.fixtures import kdbush_df

        # the knn FUNCTION shadows the knn module on the package
        K = importlib.import_module("geo_index_spark.operators.knn")

        df = kdbush_df(spark)
        # 100-vertex polyline spiral (forces the Arrow path)
        big = [
            [50.0 + 0.4 * i * math.cos(i / 6.0), 50.0 + 0.4 * i * math.sin(i / 6.0)]
            for i in range(100)
        ]
        assert len(K._geom_edges(big, "polyline")) > K.MAX_CODEGEN_EDGES
        arrow = [
            (r.row_id, round(r.dist, 9))
            for r in K.knn_geometry(df, big, 25, geom_type="polyline").collect()
        ]
        old = K.MAX_CODEGEN_EDGES
        try:
            K.MAX_CODEGEN_EDGES = 10_000  # force the Catalyst path
            catalyst = [
                (r.row_id, round(r.dist, 9))
                for r in K.knn_geometry(df, big, 25, geom_type="polyline").collect()
            ]
        finally:
            K.MAX_CODEGEN_EDGES = old
        assert arrow == catalyst == self._brute(df, big, "polyline", 25)


class TestKnnJoin:
    """Exact distributed kNN join vs brute force."""

    def _brute(self, lrows, rrows, k):
        import numpy as np

        out = []
        for lid, lx, ly in lrows:
            ds = sorted(
                (round(float(np.hypot(lx - rx, ly - ry)), 9), rid)
                for rid, rx, ry in rrows
            )
            out.extend((lid, rid, d) for d, rid in ds[:k])
        return sorted(out)

    def test_matches_bruteforce(self, spark):
        import numpy as np
        from geo_index_spark.operators.knn import knn_join

        rng = np.random.default_rng(9)
        # clustered right side + far-away void lefts (forces multi-round)
        rpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.normal(50, 5, (300, 2)))]
        lpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 100, (80, 2)))]
        lpts += [(1000, 0.5, 0.5), (1001, 99.5, 99.5)]  # deep voids
        ldf = spark.createDataFrame(lpts, "row_id long, x double, y double")
        rdf = spark.createDataFrame(rpts, "row_id long, x double, y double")
        got = sorted(
            (r.left_id, r.right_id, round(r.dist, 9))
            for r in knn_join(ldf, rdf, 5).collect()
        )
        assert got == self._brute(lpts, rpts, 5)

    def test_k_exceeds_right_count(self, spark):
        from geo_index_spark.operators.knn import knn_join

        ldf = spark.createDataFrame([(1, 0.0, 0.0), (2, 9.0, 9.0)], "row_id long, x double, y double")
        rdf = spark.createDataFrame([(7, 1.0, 1.0), (8, 2.0, 2.0)], "row_id long, x double, y double")
        got = sorted((r.left_id, r.right_id) for r in knn_join(ldf, rdf, 5).collect())
        assert got == [(1, 7), (1, 8), (2, 7), (2, 8)]


def test_haversine_distance_join_oracle(spark):
    """Meters-radius pairs over (lon, lat): candidate degree-box
    expansion must be complete (incl. high-latitude clusters where
    dlon widens) — parity vs the DuckDB exact cross join."""
    import numpy as np
    from geo_index_spark.operators.join import distance_join

    rng = np.random.default_rng(3)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        np.column_stack([rng.uniform(-10, 10, 150), rng.uniform(40, 60, 150)])
    )]
    # high-latitude cluster: dlon expansion is much wider than dlat
    pts += [(1000 + i, float(x), float(y)) for i, (x, y) in enumerate(
        np.column_stack([rng.uniform(-30, 30, 60), rng.uniform(84.0, 89.5, 60)])
    )]
    df = spark.createDataFrame(pts, "row_id long, x double, y double")
    got = {(r.left_id, r.right_id) for r in distance_join(df, df, 300_000.0, metric="haversine").collect()}
    con = duckdb.connect()
    con.register("p", df.toPandas())
    want = set(
        con.sql(
            """SELECT a.row_id, b.row_id FROM p a, p b
               WHERE 2.0 * 6378137.0 * asin(sqrt(least(1.0,
                 pow(sin(radians(b.y - a.y)/2),2)
                 + cos(radians(a.y))*cos(radians(b.y))*pow(sin(radians(b.x - a.x)/2),2)
               ))) <= 300000.0"""
        ).fetchall()
    )
    assert got == want and len(got) > len(pts)

def test_knn_join_haversine_matches_bruteforce(spark):
    import numpy as np
    from geo_index_spark.operators.knn import knn_join

    rng = np.random.default_rng(11)
    rpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        np.column_stack([rng.uniform(-20, 20, 200), rng.uniform(30, 70, 200)])
    )]
    # high-latitude lefts exercise the dlon widening
    lpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        np.column_stack([rng.uniform(-20, 20, 40), rng.uniform(30, 88, 40)])
    )]
    ldf = spark.createDataFrame(lpts, "row_id long, x double, y double")
    rdf = spark.createDataFrame(rpts, "row_id long, x double, y double")
    got = sorted(
        (r.left_id, r.right_id, round(r.dist, 6))
        for r in knn_join(ldf, rdf, 4, metric="haversine").collect()
    )
    R = 6378137.0
    brute = []
    for lid, lx, ly in lpts:
        ds = []
        for rid, rx, ry in rpts:
            h = (np.sin(np.radians(ry - ly) / 2) ** 2
                 + np.cos(np.radians(ly)) * np.cos(np.radians(ry))
                 * np.sin(np.radians(rx - lx) / 2) ** 2)
            ds.append((2.0 * R * np.arcsin(np.sqrt(min(1.0, h))), rid))
        ds.sort()
        brute.extend((lid, rid, round(float(d), 6)) for d, rid in ds[:4])
    assert got == sorted(brute)


def test_haversine_dateline_wrap(spark):
    """Antimeridian: pairs straddling +-180 MUST be returned (wrap-aware
    candidate boxes; round 2 clamped at +-180 and silently dropped
    them). Both distance_join and knn_join vs numpy brute force."""
    import numpy as np
    from geo_index_spark.operators.join import distance_join
    from geo_index_spark.operators.knn import knn_join

    rng = np.random.default_rng(5)
    lon_east = rng.uniform(178.5, 180.0, 60)        # just west of the line
    lon_west = rng.uniform(-180.0, -178.5, 60)      # just east of it
    lon = np.concatenate([lon_east, lon_west])
    lat = rng.uniform(55.0, 65.0, 120)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(np.column_stack([lon, lat]))]
    df = spark.createDataFrame(pts, "row_id long, x double, y double")

    R = 6378137.0

    def hav(lx, ly, rx, ry):
        h = (np.sin(np.radians(ry - ly) / 2) ** 2
             + np.cos(np.radians(ly)) * np.cos(np.radians(ry))
             * np.sin(np.radians(rx - lx) / 2) ** 2)
        return 2.0 * R * np.arcsin(np.sqrt(np.minimum(1.0, h)))

    r_m = 100_000.0
    got = {(r.left_id, r.right_id) for r in distance_join(df, df, r_m, metric="haversine").collect()}
    want = set()
    for i, lx, ly in pts:
        for j, rx, ry in pts:
            if hav(lx, ly, rx, ry) <= r_m:
                want.add((i, j))
    assert got == want
    # the fixture must actually cross the line
    crossing = {(a, b) for (a, b) in want if (pts[a][1] > 0) != (pts[b][1] > 0)}
    assert len(crossing) > 10

    got_knn = sorted(
        (r.left_id, r.right_id, round(r.dist, 6))
        for r in knn_join(df, df, 3, metric="haversine").collect()
    )
    brute = []
    for i, lx, ly in pts:
        ds = sorted((float(hav(lx, ly, rx, ry)), j) for j, rx, ry in pts)
        brute.extend((i, j, round(d, 6)) for d, j in ds[:3])
    assert got_knn == sorted(brute)
    # nearest neighbors must include cross-dateline ones
    assert any((pts[a][1] > 0) != (pts[b][1] > 0) for a, b, _ in got_knn)


def test_haversine_invalid_latitude_raises(spark):
    """|lat| > 90 breaks the degree-box completeness proof — the
    expansion now raises row-level instead of silently returning
    wrong candidates (ADVICE r2)."""
    from geo_index_spark.operators.join import distance_join

    df = spark.createDataFrame(
        [(0, 10.0, 45.0), (1, 11.0, 95.0)], "row_id long, x double, y double"
    )
    with pytest.raises(Exception, match="(?i)lat"):
        distance_join(df, df, 50_000.0, metric="haversine").collect()


def test_knn_join_max_distance(spark):
    """Inclusive max_distance prune (reference neighbors trait.rs:261):
    up to k rows per left, dist <= max_d; lefts in voids get fewer or
    zero rows; euclidean + haversine vs brute force."""
    import numpy as np
    from geo_index_spark.operators.knn import knn_join

    rng = np.random.default_rng(13)
    rpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        np.column_stack([rng.uniform(0, 100, 150), rng.uniform(0, 100, 150)])
    )]
    # lefts: mix of in-cluster and far-void points (zero neighbors)
    lpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        np.column_stack([rng.uniform(0, 100, 25), rng.uniform(0, 100, 25)])
    )] + [(100, 500.0, 500.0), (101, -300.0, 50.0)]
    ldf = spark.createDataFrame(lpts, "row_id long, x double, y double")
    rdf = spark.createDataFrame(rpts, "row_id long, x double, y double")
    max_d = 8.0
    got = sorted(
        (r.left_id, r.right_id, round(r.dist, 6))
        for r in knn_join(ldf, rdf, 4, max_distance=max_d).collect()
    )
    brute = []
    for lid, lx, ly in lpts:
        ds = sorted(
            (float(np.hypot(rx - lx, ry - ly)), rid) for rid, rx, ry in rpts
        )
        brute.extend(
            (lid, rid, round(d, 6)) for d, rid in ds[:4] if d <= max_d
        )
    assert got == sorted(brute)
    # the fixture must exercise partial and empty lefts
    per_left = {}
    for lid, _, _ in got:
        per_left[lid] = per_left.get(lid, 0) + 1
    assert 100 not in per_left and 101 not in per_left
    assert any(c < 4 for c in per_left.values())


def test_within_geo_matches_bruteforce_incl_dateline(spark):
    """Haversine radius query: degree-box prefilter (wrapped lon OR
    when the window crosses +-180) + exact residual == brute force."""
    import numpy as np
    from geo_index_spark.operators.search import within_geo

    rng = np.random.default_rng(17)
    lon = np.concatenate([rng.uniform(-180, 180, 200),
                          rng.uniform(178, 180, 40), rng.uniform(-180, -178, 40)])
    lat = rng.uniform(-85, 85, 280)
    pts = [(i, float(a), float(b)) for i, (a, b) in enumerate(np.column_stack([lon, lat]))]
    df = spark.createDataFrame(pts, "row_id long, x double, y double")
    R = 6378137.0

    def hav(lx, ly, rx, ry):
        h = (np.sin(np.radians(ry - ly) / 2) ** 2
             + np.cos(np.radians(ly)) * np.cos(np.radians(ry))
             * np.sin(np.radians(rx - lx) / 2) ** 2)
        return 2.0 * R * np.arcsin(np.sqrt(min(1.0, h)))

    for qlon, qlat, r in [(179.3, 50.0, 400_000.0), (0.0, 87.0, 600_000.0), (-30.0, 10.0, 250_000.0)]:
        got = {row.row_id for row in within_geo(df, qlon, qlat, r).collect()}
        want = {i for i, x, y in pts if hav(qlon, qlat, x, y) <= r}
        assert got == want, (qlon, qlat, r)
    # dateline query must actually return points on both sides
    got = [(pts[i][1]) for i in sorted({row.row_id for row in within_geo(df, 179.9, 50.0, 300_000.0).collect()})]
    assert any(v > 0 for v in got) and any(v < 0 for v in got)


def test_knn_haversine_max_distance_prefilter(spark):
    """Radius-capped geo kNN: the degree-box prefilter (wrapped across
    +-180) must not drop any true neighbor — parity vs unpruned,
    including a dateline query point."""
    import numpy as np
    from geo_index_spark.operators.knn import knn

    rng = np.random.default_rng(23)
    lon = np.concatenate([rng.uniform(-180, 180, 150),
                          rng.uniform(178, 180, 30), rng.uniform(-180, -178, 30)])
    lat = rng.uniform(-85, 85, 210)
    pts = [(i, float(a), float(b)) for i, (a, b) in enumerate(np.column_stack([lon, lat]))]
    df = spark.createDataFrame(pts, "row_id long, x double, y double")
    for qlon, qlat, maxd in [(179.8, 40.0, 800_000.0), (-30.0, 10.0, 2_000_000.0)]:
        capped = [
            (r.row_id, round(r.dist, 6))
            for r in knn(df, qlon, qlat, 10, metric="haversine", max_distance=maxd).collect()
        ]
        full = [
            (r.row_id, round(r.dist, 6))
            for r in knn(df, qlon, qlat, 10, metric="haversine").collect()
            if r.dist <= maxd
        ]
        assert capped == full
        assert capped  # fixture must yield neighbors inside the cap


def test_within_geo_prefilter_pushed_to_scan(spark, tmp_path):
    """The degree-box prefilter (incl. the wrapped-lon OR) must reach
    the parquet scan as PushedFilters — the claim that makes
    radius-capped geo queries partial scans on clustered storage."""
    import numpy as np
    from geo_index_spark.operators.search import within_geo

    rng = np.random.default_rng(29)
    pts = [(i, float(a), float(b)) for i, (a, b) in enumerate(
        np.column_stack([rng.uniform(-180, 180, 500), rng.uniform(-85, 85, 500)])
    )]
    path = str(tmp_path / "geo")
    spark.createDataFrame(pts, "row_id long, x double, y double").write.parquet(path)
    df = spark.read.parquet(path)
    # PushedFilters rendering truncates at 100 chars by default
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")

    plan = within_geo(df, 20.0, 40.0, 300_000.0)._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "GreaterThanOrEqual(x" in pushed and "LessThanOrEqual(x" in pushed
    assert "GreaterThanOrEqual(y" in pushed and "LessThanOrEqual(y" in pushed

    # dateline query: the lon OR must still push (Or of two ranges)
    plan2 = within_geo(df, 179.9, 40.0, 300_000.0)._jdf.queryExecution().executedPlan().toString()
    pushed2 = plan2.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "Or(" in pushed2 and "x" in pushed2


def test_sanitize_lonlat_policies(spark):
    """WGS84 domain sanitizer feeding the haversine operators: drop
    removes out-of-range rows, wrap folds lon (keeping rows) but drops
    junk latitudes, reject fails fast with counts."""
    from geo_index_spark.operators.validate import sanitize_lonlat

    rows = [
        (0, 10.0, 45.0),      # valid
        (1, 540.0, 20.0),     # lon wraps to 180
        (2, -200.0, 10.0),    # lon wraps to 160
        (3, 30.0, 95.0),      # junk latitude
        (4, float("nan"), 5.0),
        (5, None, 5.0),
    ]
    df = spark.createDataFrame(rows, "row_id long, x double, y double")

    dropped = {r.row_id for r in sanitize_lonlat(df, policy="drop").collect()}
    assert dropped == {0}

    wrapped = {r.row_id: r.x for r in sanitize_lonlat(df, policy="wrap").collect()}
    assert set(wrapped) == {0, 1, 2}
    assert wrapped[0] == 10.0 and wrapped[1] == -180.0 and wrapped[2] == 160.0

    with pytest.raises(ValueError, match="WGS84"):
        sanitize_lonlat(df, policy="reject")
    ok = df.filter("row_id = 0")
    assert sanitize_lonlat(ok, policy="reject").count() == 1

    # sanitized output is accepted by the haversine operators
    from geo_index_spark.operators.join import distance_join

    clean = sanitize_lonlat(df, policy="wrap")
    n = distance_join(clean, clean, 1_000.0, metric="haversine").count()
    assert n >= 3  # at least the self-pairs


def test_geo_prefilter_180_alias_admitted(spark):
    """ADVICE r3: +-180 name the same meridian. When the prefilter
    window's endpoint lands EXACTLY on 180 (hi == 180.0, constructible
    because the literal-query dlon folds in Python floats), a point
    stored as lon = -180 must still be admitted as a candidate — and
    symmetrically for lo == -180 / lon = +180."""
    import math

    from geo_index_spark.operators.knn import EARTH_RADIUS_M
    from geo_index_spark.operators.search import geo_prefilter_pred
    from pyspark.sql import functions as F

    r, qlat = 250_000.0, 40.0
    # replicate geo_prefilter_pred's dlon so qlon + dlon == 180.0 exactly
    theta = r / EARTH_RADIUS_M
    denom = math.cos(math.radians(qlat)) * math.cos(
        min(math.pi / 2, abs(math.radians(qlat)) + theta)
    )
    dlon = math.degrees(
        2.0 * math.asin(min(1.0, math.sin(theta / 2.0) / math.sqrt(denom)))
    )
    df = spark.createDataFrame(
        [(0, -180.0, qlat), (1, 180.0, qlat), (2, 0.0, qlat)],
        "row_id long, x double, y double",
    )
    qlon_e = 180.0 - dlon
    assert qlon_e + dlon == 180.0  # the exact-endpoint premise
    got = {
        r_.row_id
        for r_ in df.filter(
            geo_prefilter_pred(F.col("x"), F.col("y"), qlon_e, qlat, r)
        ).collect()
    }
    assert got == {0, 1}  # -180 via the alias, +180 via the closed interval
    qlon_w = -180.0 + dlon
    assert qlon_w - dlon == -180.0
    got_w = {
        r_.row_id
        for r_ in df.filter(
            geo_prefilter_pred(F.col("x"), F.col("y"), qlon_w, qlat, r)
        ).collect()
    }
    assert got_w == {0, 1}


def test_haversine_join_exact_180_points(spark):
    """Points stored at EXACTLY +180 and -180 (same meridian, both
    signs) must pair across the representation: brute-force parity plus
    no duplicate pairs (the wrapped segments stay disjoint even with
    the inclusive >=/<= endpoints, ADVICE r3)."""
    import numpy as np
    from geo_index_spark.operators.join import distance_join

    pts = [
        (0, 180.0, 60.0),
        (1, -180.0, 60.0),     # identical location, other sign
        (2, 179.7, 60.2),
        (3, -179.8, 59.9),
        (4, 180.0, 59.5),
        (5, -180.0, 60.5),
        (6, 150.0, 60.0),      # far away
    ]
    df = spark.createDataFrame(pts, "row_id long, x double, y double")
    r_m = 80_000.0
    R = 6378137.0

    def hav(lx, ly, rx, ry):
        h = (
            np.sin(np.radians(ry - ly) / 2) ** 2
            + np.cos(np.radians(ly))
            * np.cos(np.radians(ry))
            * np.sin(np.radians(rx - lx) / 2) ** 2
        )
        return 2.0 * R * float(np.arcsin(np.sqrt(min(1.0, h))))

    rows = distance_join(df, df, r_m, metric="haversine").collect()
    got_list = [(r.left_id, r.right_id) for r in rows]
    got = set(got_list)
    assert len(got_list) == len(got), "duplicate pairs — wrapped segments overlap"
    want = {
        (i, j)
        for i, lx, ly in pts
        for j, rx, ry in pts
        if hav(lx, ly, rx, ry) <= r_m
    }
    assert got == want
    assert (0, 1) in got and (1, 0) in got  # the alias pair itself


def test_haversine_nan_latitude_raises(spark):
    """ADVICE r3: NaN latitudes must hit the domain raise (NaN
    comparisons are false, so without the isnan disjunct they slid past
    |lat| > 90 and silently vanished); NULL latitudes still drop."""
    from geo_index_spark.operators.join import distance_join
    from geo_index_spark.operators.search import within_geo

    df = spark.createDataFrame(
        [(0, 10.0, 45.0), (1, 11.0, float("nan"))], "row_id long, x double, y double"
    )
    with pytest.raises(Exception, match="(?i)lat"):
        distance_join(df, df, 50_000.0, metric="haversine").collect()
    # literal-side NaN: the python-float guard must also be NaN-safe
    with pytest.raises(ValueError, match="qlat"):
        within_geo(df, 10.0, float("nan"), 50_000.0)
    # NULL rows propagate NULL and drop (documented policy)
    df_null = spark.createDataFrame(
        [(0, 10.0, 45.0), (1, 10.001, None)], "row_id long, x double, y double"
    )
    got = {
        (r.left_id, r.right_id)
        for r in distance_join(df_null, df_null, 50_000.0, metric="haversine").collect()
    }
    assert got == {(0, 0)}


def _spy_knn_probe(monkeypatch):
    """Record every call of knn_join's index-probe executor as
    (lefts pandas frame, rights DataFrame); the call still runs."""
    import importlib

    K = importlib.import_module("geo_index_spark.operators.knn")
    calls = []
    real = K._knn_probe

    def spy(lefts, lschema, rpts, *args):
        calls.append((lefts, rpts))
        return real(lefts, lschema, rpts, *args)

    monkeypatch.setattr(K, "_knn_probe", spy)
    return calls


def _brute_knn_join(lpts, rpts, k, metric="euclidean", max_d=None):
    """(left_id, right_id, dist rounded to 1e-6) of the k nearest rights
    per left by (dist, right_id), with knn_join's distance expression."""
    lid, lx, ly = (np.array(c)[:, None] for c in zip(*lpts))
    rid, rx, ry = (np.array(c)[None, :] for c in zip(*rpts))
    if metric == "euclidean":
        dx, dy = lx - rx, ly - ry
        d = np.sqrt(dx * dx + dy * dy)
    else:
        h = np.sin(np.radians(ry - ly) / 2) ** 2 + np.cos(np.radians(ly)) * np.cos(
            np.radians(ry)
        ) * np.sin(np.radians(rx - lx) / 2) ** 2
        d = 2.0 * 6378137.0 * np.arcsin(np.sqrt(np.minimum(h, 1.0)))
    out = []
    for i in range(d.shape[0]):
        order = np.lexsort((rid[0], d[i]))
        if max_d is not None:
            order = order[d[i][order] <= max_d]
        out.extend((int(lid[i, 0]), rid[0, j].item(), round(float(d[i, j]), 6)) for j in order[:k])
    return sorted(out)


def _knn_edge_cases():
    """(name, lefts, rights, k, metric, max_distance) inputs that stress
    the index probe: ties at the kth distance, k > |right|, a zero
    max_distance, and haversine lefts on the antimeridian and poles."""
    lattice = [(i, float(x), float(y)) for i, (x, y) in enumerate((x, y) for x in range(8) for y in range(8))]
    dup = [(100 + i, x, y) for i, (_, x, y) in enumerate(lattice[::5])] + [
        (200 + i, x, y) for i, (_, x, y) in enumerate(lattice[::5])
    ]
    ties_l = [(0, 0.5, 0.5), (1, 3.0, 4.0), (2, 6.5, 2.5), (3, 0.0, 0.0), (4, 10.0, -3.0)]
    rng = np.random.default_rng(61)
    geo_r = [
        (i, float(x), float(y))
        for i, (x, y) in enumerate(
            np.column_stack([rng.uniform(-180, 180, 300), rng.uniform(-90, 90, 300)])
        )
    ] + [(300, 180.0, 10.0), (301, -180.0, 10.5), (302, 179.9, 89.9), (303, -179.9, -89.99)]
    geo_l = [(0, 180.0, 10.0), (1, -180.0, -20.0), (2, 30.0, 90.0), (3, -60.0, -90.0), (4, 180.0, 90.0), (5, -180.0, 0.0)]
    return [
        ("ties", ties_l, lattice + dup, 3, "euclidean", None),
        ("k_gt_right", ties_l, lattice[:4], 6, "euclidean", None),
        ("max_distance_0", ties_l, lattice + dup, 3, "euclidean", 0.0),
        ("haversine_poles_antimeridian", geo_l, geo_r, 4, "haversine", None),
    ]


@pytest.mark.parametrize("case", _knn_edge_cases(), ids=lambda c: c[0])
def test_knn_join_probe_edge_cases_both_callers(spark, monkeypatch, case):
    """Each edge case through both callers of the index probe: a plain
    small-left call (the probe answers every left directly), and a tail
    forced by a tiny init_radius (round 0 certifies nobody, round 1
    probes the survivors with their certified radii). A zero
    max_distance is the cover radius itself, so there every left
    certifies in round 0 and the tail never reaches the probe. The ties
    run again with string right ids whose order runs against the
    numeric one, so the (dist, right_id) cut must rank the strings."""
    from geo_index_spark.operators.knn import knn_join

    name, lpts, rpts, k, metric, max_d = case
    ldf = spark.createDataFrame(lpts, "row_id long, x double, y double")
    sides = [("long", rpts)]
    if name == "ties":
        sides.append(("string", [(f"r{999 - rid:03d}", x, y) for rid, x, y in rpts]))
    calls = _spy_knn_probe(monkeypatch)
    for id_type, rows in sides:
        rdf = spark.createDataFrame(rows, f"row_id {id_type}, x double, y double")
        want = _brute_knn_join(lpts, rows, k, metric, max_d)
        for init_radius in (None, 1e-9):
            calls.clear()
            out = knn_join(ldf, rdf, k, metric=metric, max_distance=max_d, init_radius=init_radius)
            assert out.schema["right_id"].dataType == rdf.schema["row_id"].dataType
            got = sorted((r.left_id, r.right_id, round(r.dist, 6)) for r in out.collect())
            assert got == want, (name, id_type, init_radius)
            routed = [("r" in lefts.columns, len(lefts)) for lefts, _ in calls]
            if init_radius is None:
                assert routed == [(False, len(lpts))], name
            elif max_d == 0.0:
                assert routed == [], name
            else:
                assert len(routed) == 1 and routed[0][0], (name, routed)


def test_knn_join_skewed_density_parity(spark):
    """Round-4 density-aware init_radius: a dense blob next to a sparse
    spread (the city-skew shape that blew up the uniform estimate at
    64M rows) — exact parity with brute force, dense and void lefts."""
    import numpy as np
    from geo_index_spark.operators.knn import knn_join

    rng = np.random.default_rng(41)
    blob = np.column_stack([rng.uniform(0, 1, 400), rng.uniform(0, 1, 400)])
    spread = np.column_stack([rng.uniform(0, 1000, 60), rng.uniform(0, 1000, 60)])
    rpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(np.vstack([blob, spread]))]
    lpts = rpts[::7] + [(999, 500.0, 500.0)]  # mixed lefts + deep-void left
    rdf = spark.createDataFrame(rpts, "row_id long, x double, y double")
    ldf = spark.createDataFrame(lpts, "row_id long, x double, y double")
    got = sorted(
        (r.left_id, r.right_id, round(r.dist, 6)) for r in knn_join(ldf, rdf, 3).collect()
    )
    brute = []
    for lid, lx, ly in lpts:
        ds = sorted((float(np.hypot(rx - lx, ry - ly)), rid) for rid, rx, ry in rpts)
        brute.extend((lid, rid, round(d, 6)) for d, rid in ds[:3])
    assert got == sorted(brute)


def test_knn_join_disjoint_supports(spark):
    """Round-4 per-left adaptive radii: every left sits in a fully EMPTY
    coarse neighborhood (S=0, max growth rounds) — lefts clustered in
    one corner, rights in the far corner. Exact parity with brute
    force; exercises the straggler escalation path end to end."""
    import numpy as np
    from geo_index_spark.operators.knn import knn_join

    rng = np.random.default_rng(42)
    rpts = [
        (i, float(x), float(y))
        for i, (x, y) in enumerate(
            np.column_stack([rng.uniform(990, 1000, 80), rng.uniform(990, 1000, 80)])
        )
    ]
    lpts = [
        (i, float(x), float(y))
        for i, (x, y) in enumerate(
            np.column_stack([rng.uniform(0, 5, 30), rng.uniform(0, 5, 30)])
        )
    ]
    rdf = spark.createDataFrame(rpts, "row_id long, x double, y double")
    ldf = spark.createDataFrame(lpts, "row_id long, x double, y double")
    got = sorted(
        (r.left_id, r.right_id, round(r.dist, 6)) for r in knn_join(ldf, rdf, 4).collect()
    )
    brute = []
    for lid, lx, ly in lpts:
        ds = sorted((float(np.hypot(rx - lx, ry - ly)), rid) for rid, rx, ry in rpts)
        brute.extend((lid, rid, round(d, 6)) for d, rid in ds[:4])
    assert got == sorted(brute)


def test_knn_join_tail_certified_single_round(spark, caplog):
    """A small euclidean join is answered in one pass by the index
    probe — no round_plan record, so no candidate join ran. Covers the
    plain case, inclusive max_distance capping, and fewer-than-k rights
    (every right of the table per left)."""
    import logging

    import numpy as np
    from geo_index_spark.operators.knn import knn_join

    caplog.set_level(logging.INFO, logger="geo_index_spark.operators.knn")

    rng = np.random.default_rng(43)
    blob = np.column_stack([rng.uniform(0, 1, 300), rng.uniform(0, 1, 300)])
    spread = np.column_stack([rng.uniform(0, 800, 40), rng.uniform(0, 800, 40)])
    rpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(np.vstack([blob, spread]))]
    lpts = rpts[::5] + [(999, 400.0, 400.0)]  # dense + void lefts
    rdf = spark.createDataFrame(rpts, "row_id long, x double, y double")
    ldf = spark.createDataFrame(lpts, "row_id long, x double, y double")

    def brute(max_d=None, k=3):
        out = []
        for lid, lx, ly in lpts:
            ds = sorted((float(np.hypot(rx - lx, ry - ly)), rid) for rid, rx, ry in rpts)
            if max_d is not None:
                ds = [(d, rid) for d, rid in ds if d <= max_d]
            out.extend((lid, rid, round(d, 6)) for d, rid in ds[:k])
        return sorted(out)

    got = sorted(
        (r.left_id, r.right_id, round(r.dist, 6))
        for r in knn_join(ldf, rdf, 3).collect()
    )
    assert got == brute()
    got_md = sorted(
        (r.left_id, r.right_id, round(r.dist, 6))
        for r in knn_join(ldf, rdf, 3, max_distance=5.0).collect()
    )
    assert got_md == brute(max_d=5.0)
    # fewer than k rights in the whole table -> every right for every left
    tiny = spark.createDataFrame(rpts[:2], "row_id long, x double, y double")
    got_tiny = sorted(
        (r.left_id, r.right_id, round(r.dist, 6))
        for r in knn_join(ldf, tiny, 3).collect()
    )
    brute_tiny = sorted(
        (lid, rid, round(float(np.hypot(rx - lx, ry - ly)), 6))
        for lid, lx, ly in lpts
        for rid, rx, ry in rpts[:2]
    )
    assert got_tiny == brute_tiny
    decisions = [getattr(r, "knn_decision", "") for r in caplog.records]
    assert decisions.count("probe") == 3 and "round_plan" not in decisions


def test_knn_join_haversine_tail_prefilter_dateline(spark, monkeypatch):
    """Haversine straggler-tail rounds narrow the cached right scan to
    the coarse cells of the survivors' boxes, with the cellset built
    from the WRAPPED geo_query_window degree segments (VERDICT r5 Next
    #4). init_radius=1 m forces every left to fail round 0, so round 1
    is a genuine tail round on certified radii, answered by the index
    probe; the fixture straddles +-180, so a clamped (unwrapped)
    cellset would drop the across-the-line neighbors and break
    exactness. The probe must read the right through the cellset
    filter (at this fixture's 4x4 coarse grid the ring-bound boxes
    cover the globe, so the filter keeps every cell here)."""
    import numpy as np

    from geo_index_spark.operators.knn import knn_join

    rng = np.random.default_rng(9)
    lon = np.concatenate(
        [
            rng.uniform(179.0, 180.0, 80),  # west of the line
            rng.uniform(-180.0, -179.0, 80),  # east of it
            rng.uniform(-30.0, 30.0, 40),  # far-away mass (prefilter must skip)
        ]
    )
    lat = np.concatenate([rng.uniform(48.0, 52.0, 160), rng.uniform(-10.0, 10.0, 40)])
    rpts = [(j, float(x), float(y)) for j, (x, y) in enumerate(zip(lon, lat))]
    rdf = spark.createDataFrame(rpts, "row_id long, x double, y double")
    lpts = [
        (i, float(x), float(y))
        for i, (x, y) in enumerate(
            zip(rng.uniform(179.7, 180.0, 12), rng.uniform(49.0, 51.0, 12))
        )
    ]
    ldf = spark.createDataFrame(lpts, "row_id long, x double, y double")

    calls = _spy_knn_probe(monkeypatch)
    got = sorted(
        (r.left_id, r.right_id, round(r.dist, 6))
        for r in knn_join(
            ldf, rdf, 4, metric="haversine", init_radius=1.0
        ).collect()
    )
    # one tail probe, on certified radii, over the cellset-filtered right
    assert [("r" in lefts.columns, len(lefts)) for lefts, _ in calls] == [(True, 12)]
    assert "LeftSemi" in calls[0][1]._jdf.queryExecution().optimizedPlan().toString()

    R = 6378137.0

    def hav(lx_, ly_, rx_, ry_):
        h = (
            np.sin(np.radians(ry_ - ly_) / 2) ** 2
            + np.cos(np.radians(ly_))
            * np.cos(np.radians(ry_))
            * np.sin(np.radians(rx_ - lx_) / 2) ** 2
        )
        return 2.0 * R * float(np.arcsin(np.sqrt(min(1.0, h))))

    brute = []
    for i, lx_, ly_ in lpts:
        ds = sorted((hav(lx_, ly_, rx_, ry_), j) for j, rx_, ry_ in rpts)
        brute.extend((i, j, round(d, 6)) for d, j in ds[:4])
    assert got == sorted(brute)
    # cross-dateline neighbors must actually appear in the result
    assert any(rpts[j][1] < 0 for _, j, _ in got)


def test_knn_join_certified_upfront_one_round_16m_shape(spark, caplog):
    """A mid-size left side (above the old 5,000-left tail threshold,
    below CERT_UPFRONT_MAX_LEFTS) in the 16M bench's shape — skewed city
    clusters + uniform spread + deep voids — goes to the index probe in
    one pass: no round_plan record. Euclidean AND haversine (wrap-aware
    Flatbush box bound)."""
    import logging

    import numpy as np
    from geo_index_spark.operators.knn import knn_join

    caplog.set_level(logging.INFO, logger="geo_index_spark.operators.knn")

    rng = np.random.default_rng(47)
    # 16M-bench shape at pytest scale: 80% on city clusters, 20% uniform
    cities = np.column_stack([rng.uniform(-170, 170, 12), rng.uniform(-55, 55, 12)])
    cl = cities[rng.integers(0, 12, 3200)] + rng.normal(0, 0.1, (3200, 2))
    un = np.column_stack([rng.uniform(-180, 180, 800), rng.uniform(-60, 60, 800)])
    rxy = np.vstack([cl, un])
    rpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rxy)]
    lxy = np.vstack(
        [rxy, rxy[:1500] + 0.013, [[0.0, -59.9], [179.5, 59.9]]]
    )
    lpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(lxy)]
    assert len(lpts) > 5_000
    rdf = spark.createDataFrame(rpts, "row_id long, x double, y double")
    ldf = spark.createDataFrame(lpts, "row_id long, x double, y double")

    lx = np.array([p[1] for p in lpts])[:, None]
    ly = np.array([p[2] for p in lpts])[:, None]
    rx = np.array([p[1] for p in rpts])[None, :]
    ry = np.array([p[2] for p in rpts])[None, :]

    def brute(metric):
        if metric == "euclidean":
            d = np.hypot(lx - rx, ly - ry)
        else:
            R = 6378137.0
            h = (
                np.sin(np.radians(ry - ly) / 2) ** 2
                + np.cos(np.radians(ly)) * np.cos(np.radians(ry))
                * np.sin(np.radians(rx - lx) / 2) ** 2
            )
            d = 2.0 * R * np.arcsin(np.sqrt(np.minimum(1.0, h)))
        out = []
        for i in range(d.shape[0]):
            order = sorted(zip(d[i], range(d.shape[1])))[:3]
            out.extend((lpts[i][0], rid, round(float(dd), 6)) for dd, rid in order)
        return sorted(out)

    for metric in ("euclidean", "haversine"):
        got = sorted(
            (r.left_id, r.right_id, round(r.dist, 6))
            for r in knn_join(ldf, rdf, 3, metric=metric).collect()
        )
        assert got == brute(metric), metric
    decisions = [getattr(r, "knn_decision", "") for r in caplog.records]
    assert decisions.count("probe") == 2 and "round_plan" not in decisions


def test_knn_join_big_left_round_then_probe(spark, monkeypatch, caplog):
    """The big-left path (forced by lowering the small-left threshold to
    8 lefts): one density round — exactly one round_plan record per
    call — then every uncertified left goes to the index probe, in
    chunks of at most 8 lefts, over the rights of the coarse cells its
    ring-bound box touches. Adversarial shapes: skewed density,
    disjoint supports (with a tiny init_radius all 25 lefts survive:
    4 probe chunks), max_distance starvation, haversine incl. dateline
    wrap. Every shape
    runs through both candidate strategies — the broadcast multilevel
    join, and the partitioned join (forced by a zero broadcast-lefts
    cap) — and the round-plan records show which one ran."""
    import importlib
    import logging

    import numpy as np

    K = importlib.import_module("geo_index_spark.operators.knn")

    rng = np.random.default_rng(53)
    blob = np.column_stack([rng.uniform(0, 1, 300), rng.uniform(0, 1, 300)])
    spread = np.column_stack([rng.uniform(0, 900, 50), rng.uniform(0, 900, 50)])
    rpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(np.vstack([blob, spread]))]
    lpts = rpts[::4] + [(999, 450.0, 450.0), (998, 899.0, 2.0)]
    rdf = spark.createDataFrame(rpts, "row_id long, x double, y double")
    ldf = spark.createDataFrame(lpts, "row_id long, x double, y double")

    def brute_euc(lrows, rrows, k, max_d=None):
        out = []
        for lid, lx, ly in lrows:
            ds = sorted((round(float(np.hypot(rx - lx, ry - ly)), 6), rid) for rid, rx, ry in rrows)
            if max_d is not None:
                ds = [(d, rid) for d, rid in ds if d <= max_d]
            out.extend((lid, rid, d) for d, rid in ds[:k])
        return sorted(out)

    # disjoint supports: the lefts sit in a void, away from every right
    far_lpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        np.column_stack([rng.uniform(0, 4, 25), rng.uniform(0, 4, 25)])
    )]
    far_l = spark.createDataFrame(far_lpts, "row_id long, x double, y double")
    far_r = spark.createDataFrame(rpts[300:], "row_id long, x double, y double")
    # haversine incl. dateline wrap
    lon = np.concatenate([rng.uniform(178.5, 180.0, 40), rng.uniform(-180.0, -178.5, 40)])
    lat = rng.uniform(50.0, 60.0, 80)
    gpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(np.column_stack([lon, lat]))]
    gdf = spark.createDataFrame(gpts, "row_id long, x double, y double")
    R = 6378137.0

    def hav(lon1, lat1, lon2, lat2):
        h = (np.sin(np.radians(lat2 - lat1) / 2) ** 2
             + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2))
             * np.sin(np.radians(lon2 - lon1) / 2) ** 2)
        return 2.0 * R * np.arcsin(np.sqrt(min(1.0, h)))

    brute_h = []
    for i, lx_, ly_ in gpts:
        ds = sorted((float(hav(lx_, ly_, rx_, ry_)), j) for j, rx_, ry_ in gpts)
        brute_h.extend((i, j, round(d, 6)) for d, j in ds[:3])

    def run(l_df, r_df, k, **kw):
        return sorted(
            (r.left_id, r.right_id, round(r.dist, 6))
            for r in K.knn_join(l_df, r_df, k, **kw).collect()
        )

    def records(decision):
        return [r.knn_inputs for r in caplog.records if getattr(r, "knn_decision", "") == decision]

    monkeypatch.setattr(K, "CERT_UPFRONT_MAX_LEFTS", 8)  # force the big-left path
    caplog.set_level(logging.INFO, logger=K.__name__)
    for strategy, bcast_max in (("broadcast", K.BCAST_MAX_LEFTS), ("partitioned", 0)):
        monkeypatch.setattr(K, "BCAST_MAX_LEFTS", bcast_max)
        caplog.clear()
        assert run(ldf, rdf, 3) == brute_euc(lpts, rpts, 3), strategy
        # max_distance starvation: survivors with < k in-range candidates
        assert run(ldf, rdf, 3, max_distance=6.0) == brute_euc(
            lpts, rpts, 3, max_d=6.0
        ), strategy
        assert run(far_l, far_r, 4) == brute_euc(far_lpts, rpts[300:], 4), strategy
        # a tiny init_radius fails every far left in the density round:
        # the probe takes all 25 in chunks of <= 8
        assert run(far_l, far_r, 4, init_radius=1e-9) == brute_euc(
            far_lpts, rpts[300:], 4
        ), strategy
        assert records("survivors")[-1]["survivors"] == 25, strategy
        assert {k: records("probe")[-1][k] for k in ("lefts", "chunks")} == {"lefts": 25, "chunks": 4}
        got_h = run(gdf, gdf, 3, metric="haversine")
        assert got_h == sorted(brute_h), strategy
        assert any((gpts[a][1] > 0) != (gpts[b][1] > 0) for a, b, _ in got_h)

        plans = records("round_plan")
        assert len(plans) == 5, strategy  # one density round per call
        first = plans[0]  # the first call: every left, bucketed by level
        assert sum(c for _, c, _ in first["buckets"]) == len(lpts)
        assert "elapsed_s" in first and first["remap"].keys() <= {lvl for lvl, *_ in first["buckets"]}
        if strategy == "broadcast":
            assert all(p["bcast_levels"] and not p["part_levels"] for p in plans)
        else:
            assert all(p["part_levels"] and not p["bcast_levels"] for p in plans)
            assert all(p["shuffle_hash"] for p in plans)  # a few exploded rows


def test_knn_candidates_levels_and_hints(spark):
    """The one candidate builder: for lefts at several grid levels (one
    join keyed on (level, cell)) and at one literal level (keyed on the
    cell), under each join hint, the candidates hold every right within
    each left's radius exactly once — euclidean and haversine across
    the dateline — and the hint picks the physical join."""
    import importlib

    K = importlib.import_module("geo_index_spark.operators.knn")
    from geo_index_spark.operators.join import haversine_pair_col

    rng = np.random.default_rng(61)
    cases = {
        "euclidean": ((0.0, 0.0, 100.0, 100.0), rng.uniform(0, 100, (400, 2)), (0.5, 3.0, 20.0)),
        "haversine": (
            (-180.0, -90.0, 180.0, 90.0),
            np.column_stack([rng.uniform(171, 183, 400), rng.uniform(40, 50, 400)]),
            (2_000.0, 30_000.0, 300_000.0),
        ),
    }
    for metric, (bounds, pts, radii) in cases.items():
        pts[:, 0] = np.where(pts[:, 0] > 180, pts[:, 0] - 360, pts[:, 0])  # wrap at +-180
        rights = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
        # 30 lefts on right points, radii cycling over three grid levels
        lefts = [
            (i, x, y, radii[i % 3], (10, 8, 4)[i % 3]) for i, (_, x, y) in enumerate(rights[:30])
        ]
        rpts = spark.createDataFrame(rights, "rid long, qx double, qy double")
        rem = spark.createDataFrame(lefts, "lid long, px double, py double, r double, lvl int")
        ldf = rem.withColumnRenamed("lid", "left_id")
        d = haversine_pair_col if metric == "haversine" else (
            lambda lx, ly, rx, ry: F.sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry))
        )
        exact = {
            (r.left_id, r.rid)
            for r in ldf.crossJoin(rpts)
            .filter(d(F.col("px"), F.col("py"), F.col("qx"), F.col("qy")) <= F.col("r"))
            .collect()
        }
        for hint, op in (
            ("broadcast", "BroadcastHashJoin"),
            ("SHUFFLE_HASH", "ShuffledHashJoin"),
            (None, "SortMergeJoin"),
        ):
            for levels, sub in (([4, 8, 10], rem), ([8], rem.filter(F.col("lvl") == 8))):
                cand = K._knn_candidates(sub, rpts, bounds, levels, F.col("lvl"), metric, hint)
                rows = cand.filter(F.col("dist") <= F.col("r")).collect()
                pairs = [(r.left_id, r.right_id) for r in rows]
                want = {p for p in exact if p[0] % 3 == 1} if len(levels) == 1 else exact
                assert len(pairs) == len(set(pairs)) and set(pairs) == want, (metric, hint, levels)
                # integer cells at one level and at several: no long/double/long
                # cast of the cell, no not-null filter re-evaluating it on the right
                opt = cand._jdf.queryExecution().optimizedPlan().toString()
                assert "as bigint" not in opt, (metric, levels, opt)
                assert not any(
                    "isnotnull" in ln and "FLOOR" in ln and "qx" in ln for ln in opt.splitlines()
                ), (metric, levels, opt)
                if metric == "euclidean":  # candidates come from cells at the left's OWN level
                    for c in cand.select("left_id", "right_id").collect():
                        _, x, y, r, lvl = lefts[c.left_id]
                        _, qx, qy = rights[c.right_id]
                        edge = 100.0 / (1 << lvl)
                        assert abs(qx - x) <= r + edge and abs(qy - y) <= r + edge, (c, lvl)
            if metric == "haversine":  # some pair crosses the dateline
                assert any((rights[a][1] > 0) != (rights[b][1] > 0) for a, b in exact)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                plan = cand._jdf.queryExecution().executedPlan().toString()
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            assert op in plan, (hint, plan)
            # one literal level keeps integer cell arithmetic (no per-row casts)
            assert metric != "euclidean" or " as double" not in plan, plan


def test_ring_certified_radii_bounds_kth_nn():
    """Spark-free: every ring-bound radius the probe's cellset is built
    from bounds the left's brute-force kth-NN distance — clustered,
    uniform and void rights, euclidean and haversine, lefts at lon +-180
    and |lat| near 90. The one exception is the cover radius the bound
    is clipped to: a euclidean left whose kth neighbor sits across a
    void diagonal may lie farther than ``cover_r`` (the domain extent),
    and its +-cover_r box still covers the whole domain. A grid holding
    fewer than k rights gives every left ``cover_r``."""
    import importlib

    from geo_index_spark.localindex.flatbush import haversine

    K = importlib.import_module("geo_index_spark.operators.knn")
    rng = np.random.default_rng(71)
    k, nc = 3, 16

    def prefix(rx, ry, bounds, cell):
        cx = np.clip(np.floor((rx - bounds[0]) / cell), 0, nc - 1).astype(np.int64)
        cy = np.clip(np.floor((ry - bounds[1]) / cell), 0, nc - 1).astype(np.int64)
        G = np.zeros((nc, nc), np.int64)
        np.add.at(G, (cx, cy), 1)
        P = np.zeros((nc + 1, nc + 1), np.int64)
        P[1:, 1:] = G.cumsum(axis=0).cumsum(axis=1)
        return P

    for metric, bounds, cover_r in (
        ("euclidean", (0.0, 0.0, 100.0, 100.0), 100.0),
        ("haversine", (-180.0, -90.0, 180.0, 90.0), np.pi * K.EARTH_RADIUS_M),
    ):
        lox, loy, hix, hiy = bounds
        ext = max(hix - lox, hiy - loy)
        cell = ext / nc
        w, h = hix - lox, hiy - loy
        centers = np.column_stack([rng.uniform(lox, hix, 5), rng.uniform(loy, hiy, 5)])
        clustered = centers[rng.integers(0, 5, 600)] + rng.normal(0, 0.01 * w, (600, 2))
        rights = {
            "clustered": clustered,
            "uniform": np.column_stack([rng.uniform(lox, hix, 600), rng.uniform(loy, hiy, 600)]),
            # everything in one corner: most lefts look across a void
            "void": np.column_stack(
                [rng.uniform(hix - 0.05 * w, hix, 40), rng.uniform(hiy - 0.05 * h, hiy, 40)]
            ),
            "fewer_than_k": np.array([[lox + 0.3 * w, loy + 0.3 * h], [lox + 0.6 * w, loy + 0.2 * h]]),
        }
        lefts = np.vstack(
            [
                np.column_stack([rng.uniform(lox, hix, 300), rng.uniform(loy, hiy, 300)]),
                [[lox, loy], [hix, hiy], [lox, hiy], [hix, loy]],
                [[lox, hiy - 0.001 * h], [hix, loy + 0.001 * h], [0.5 * (lox + hix), hiy - 0.001 * h]],
            ]
        )
        for name, rxy in rights.items():
            rxy = np.clip(rxy, [lox, loy], [hix, hiy])
            P = prefix(rxy[:, 0], rxy[:, 1], bounds, cell)
            r = K._ring_certified_radii(
                P, nc, cell, bounds, lefts[:, 0], lefts[:, 1], k, metric, cover_r, cover_r / (1 << 20)
            )
            if len(rxy) < k:
                assert np.all(r == cover_r), (metric, name)
                continue
            if metric == "euclidean":
                d = np.hypot(lefts[:, :1] - rxy[:, 0], lefts[:, 1:] - rxy[:, 1])
            else:
                d = haversine(lefts[:, :1], lefts[:, 1:], rxy[:, 0], rxy[:, 1])
            kth = np.sort(d, axis=1)[:, k - 1]
            assert np.all((r >= kth) | (r == cover_r)), (metric, name, np.flatnonzero(r < kth))
            if metric == "haversine":  # pi * R is the largest haversine distance
                assert np.all(r >= kth), (metric, name)


def test_box_cells_matches_loop():
    """Spark-free: the tail cellset's difference-grid union equals the
    per-cell loop it replaced (truncate, clamp to the grid, add every
    cell of every box) on boxes inside, across and outside the grid."""
    import importlib

    K = importlib.import_module("geo_index_spark.operators.knn")
    rng = np.random.default_rng(67)
    lo = rng.uniform(-30, 110, (300, 2))
    boxes = np.column_stack([lo, lo + rng.exponential(4.0, (300, 2))])
    for nc, cell in ((16, 100 / 16), (64, 100 / 64)):
        ref = set()
        for mnx, mny, mxx, mxy in boxes:
            x0, x1, y0, y1 = (
                max(0, min(nc - 1, int((v - 0.0) / cell))) for v in (mnx, mxx, mny, mxy)
            )
            ref |= {cx * nc + cy for cx in range(x0, x1 + 1) for cy in range(y0, y1 + 1)}
        got = K._box_cells(boxes, 0.0, 0.0, cell, nc)
        assert got.tolist() == sorted(ref), nc


def test_plan_buckets_bench_shapes(monkeypatch):
    """Spark-free: the big-left round-0 plan at the two measured 16M
    bench shapes (level buckets (level, lefts, max r) read off the run,
    ext 360, 32 shuffle partitions), and the whole-broadcast bound on a
    lone bucket."""
    import importlib

    K = importlib.import_module("geo_index_spark.operators.knn")

    # 16M rights / 250k lefts (bench.py knn_join_synth): the level merge
    # folds five buckets into two broadcast levels, nothing partitioned
    p = K._plan_buckets(
        [(8, 49960, 0.35320), (10, 2, 0.04948), (12, 32, 0.02876),
         (14, 2025, 0.010757), (16, 197981, 0.0027466)],
        360.0,
        32,
    )
    assert p.bcast_levels == [10, 16] and p.remap == {8: 10, 12: 16, 14: 16}
    assert p.part_levels == [] and p.bcast_rows <= K.BCAST_MAX_ROWS
    # 16M / 500k: level 16 (396,079 lefts) is over the broadcast-lefts cap
    # and its ~3.56M exploded rows over 50k x 32 -> sort-merge, not SHJ
    p = K._plan_buckets(
        [(8, 99809, 0.41106), (10, 4, 0.04951), (12, 53, 0.04101),
         (14, 4055, 0.010757), (16, 396079, 0.0027466)],
        360.0,
        32,
    )
    assert p.bcast_levels == [10, 14] and p.remap == {8: 10, 12: 14}
    assert p.part_levels == [16] and not p.shuffle_hash
    assert p.part_rows > K.SHJ_MAX_ROWS_PER_PARTITION * 32
    # a lone broadcast-eligible bucket over the whole-broadcast cap is
    # demoted too (the cap lowered so one bucket under the per-bucket
    # caps exceeds it)
    monkeypatch.setattr(K, "BCAST_MAX_ROWS", 1_000_000)
    p = K._plan_buckets([(16, 150_000, 0.0027466)], 360.0, 32)
    assert p.bcast_levels == [] and p.part_levels == [16] and p.bcast_rows == 0
    assert 1_000_000 < p.part_rows <= K.BCAST_BUCKET_MAX_ROWS and p.shuffle_hash


def test_knn_join_empty_sides(spark):
    """Empty right -> zero rows for every left; empty left -> zero rows.
    Schema stays (left_id, right_id, dist)."""
    from geo_index_spark.operators.knn import knn_join

    pts = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, 2.0, 2.0)], "row_id long, x double, y double"
    )
    empty = pts.limit(0)
    for ldf, rdf in ((pts, empty), (empty, pts), (empty, empty)):
        out = knn_join(ldf, rdf, 3)
        assert [f.name for f in out.schema.fields] == ["left_id", "right_id", "dist"]
        assert out.count() == 0


# Spark jobs of a small-left knn_join with the result collected: the
# right bounds, the LIMIT probe of the lefts, the slice index build and
# its checkpoint, the one stats collect and the ranked result. Taking
# the left bounds first, and counting the slices in a groupBy job of
# their own, made 13 jobs and 19 stages here.
MAX_SMALL_LEFT_KNN_JOBS = 12


def test_knn_join_small_left_job_count(spark):
    sc = spark.sparkContext
    rng = np.random.default_rng(5)
    cities = rng.uniform(-60, 60, (20, 2))
    rxy = cities[rng.integers(0, 20, 20_000)] + rng.normal(0, 0.5, (20_000, 2))
    lxy = rng.uniform(-60, 60, (200, 2))
    schema = "row_id long, x double, y double"
    rdf = spark.createDataFrame([(i, float(x), float(y)) for i, (x, y) in enumerate(rxy)], schema)
    ldf = spark.createDataFrame([(i, float(x), float(y)) for i, (x, y) in enumerate(lxy)], schema)
    from geo_index_spark.operators.knn import knn_join

    group = "test_knn_join_small_left_job_count"
    sc.setJobGroup(group, "knn_join, 200 lefts over 20k rights")
    try:
        got = knn_join(ldf, rdf, 3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(got) == 600 and len({r.left_id for r in got}) == 200
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= MAX_SMALL_LEFT_KNN_JOBS, len(jobs)


def test_knn_join_right_count_hint(spark):
    """bounds + right_count skip the up-front min/max/count pass; the
    hint only sizes the density grid, so a deliberately 100x-wrong
    value must still produce the exact result."""
    import numpy as np

    from geo_index_spark.operators.knn import knn_join

    rng = np.random.default_rng(29)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 100, (500, 2)))]
    rdf = spark.createDataFrame(pts, "row_id long, x double, y double")
    ldf = spark.createDataFrame(pts[::7], "row_id long, x double, y double")
    brute = sorted(
        (lid, rid)
        for lid, lx_, ly_ in pts[::7]
        for _, rid in sorted(
            (float(np.hypot(rx_ - lx_, ry_ - ly_)), rid) for rid, rx_, ry_ in pts
        )[:3]
    )
    b = (0.0, 0.0, 100.0, 100.0)
    for hint in (500, 50_000):  # exact and 100x overstated
        got = sorted(
            (r.left_id, r.right_id)
            for r in knn_join(ldf, rdf, 3, bounds=b, right_count=hint).collect()
        )
        assert got == brute, hint
