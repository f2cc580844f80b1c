"""Local packed-index kernels vs reference goldens (SURVEY.md §5)."""

from __future__ import annotations

import pathlib

import numpy as np
import pytest

from geo_index_spark.fixtures import (
    DATA1_SEARCH_40_60_BOXES,
    KD_RANGE_20_30_50_70_IDS,
    KD_WITHIN_50_50_R20_IDS,
    data1_boxes,
    kdbush_points,
)
from geo_index_spark.localindex.flatbush import Flatbush, haversine
from geo_index_spark.localindex.kdbush import KDBush

GOLDEN = pathlib.Path(__file__).parent / "data" / "data1_flatbush_js.raw"


def test_flatbush_byte_parity_with_js_golden():
    fb = Flatbush(data1_boxes(), node_size=16, exact_flatbush_order=True)
    assert fb.to_bytes() == GOLDEN.read_bytes()


def test_flatbush_search_golden():
    boxes = data1_boxes()
    fb = Flatbush(boxes, node_size=16)
    ids = fb.search(40, 40, 60, 60)
    got = {tuple(boxes[i]) for i in ids}
    assert got == DATA1_SEARCH_40_60_BOXES


def test_flatbush_roundtrip():
    fb = Flatbush(data1_boxes(), node_size=16)
    fb2 = Flatbush.from_bytes(fb.to_bytes())
    assert set(fb2.search(40, 40, 60, 60)) == set(fb.search(40, 40, 60, 60))
    assert fb2.num_items == 100 and fb2.node_size == 16


@pytest.mark.parametrize("n", [0, 1, 4, 8, 16, 20, 40, 80])
def test_flatbush_every_item_finds_itself(n):
    # property sweep from reference src/rtree/builder.rs:270-301
    rng = np.random.default_rng(n)
    boxes = rng.uniform(0, 100, size=(n, 2))
    boxes = np.hstack([boxes, boxes + rng.uniform(0, 5, size=(n, 2))])
    fb = Flatbush(boxes, node_size=4)
    for i in range(n):
        got = fb.search(*boxes[i])
        assert i in set(got)
    if n == 0:
        assert fb.search(0, 0, 100, 100).size == 0


def test_flatbush_degenerate_collinear():
    # quicksort-imbalance regression (reference src/rtree/index.rs:243-268)
    t = np.linspace(0, 1000, 15000)
    boxes = np.stack([t, np.zeros_like(t), t, np.zeros_like(t)], axis=1)
    boxes = np.vstack([boxes, boxes])
    fb = Flatbush(boxes)
    got = fb.search(-100, -1, 15000, 1)
    assert got.size == 30000


def test_neighbors_doctest_order():
    # reference src/rtree/trait.rs:184-197: neighbors(5,5) -> [2,1,0]
    boxes = np.array([[i, i, i + 2, i + 2] for i in range(3)], dtype=float)
    ids, dists = Flatbush(boxes).neighbors(5, 5)
    assert list(ids) == [2, 1, 0]
    assert np.all(np.diff(dists) >= 0)


def test_neighbors_max_distance():
    # reference src/rtree/trait.rs:670-684
    boxes = np.array([[0, 0, 1, 1], [2, 2, 3, 3], [10, 10, 11, 11]], dtype=float)
    ids, _ = Flatbush(boxes).neighbors(0, 0, max_distance=5)
    assert list(ids) == [0, 1]


def test_neighbors_haversine_doctest():
    # reference src/rtree/trait.rs:636-649: NYC, London, Tokyo from NYC
    pts = np.array([[-74.0, 40.7], [-0.1, 51.5], [139.7, 35.7]])
    boxes = np.hstack([pts, pts])
    ids, d = Flatbush(boxes).neighbors(-74.0, 40.7, metric="haversine")
    assert list(ids) == [0, 1, 2]
    assert d[0] == 0.0
    # sanity: NYC->London great-circle ~5.6e6 m on this sphere radius
    assert 5.3e6 < d[1] < 5.9e6


def test_neighbors_max_results_truncates():
    boxes = data1_boxes()
    fb = Flatbush(boxes)
    ids, d = fb.neighbors(50, 50, max_results=7)
    full_ids, full_d = fb.neighbors(50, 50)
    assert list(ids) == list(full_ids[:7])
    assert full_ids.size == 100


def test_kdbush_goldens():
    kd = KDBush(kdbush_points(), node_size=10)
    assert set(kd.range(20, 30, 50, 70)) == KD_RANGE_20_30_50_70_IDS
    assert set(kd.within(50, 50, 20)) == KD_WITHIN_50_50_R20_IDS


def test_kdbush_completeness_bidirectional():
    # reference src/kdtree/test.rs:183-201: result set == brute force
    pts = kdbush_points()
    kd = KDBush(pts, node_size=10)
    got = set(kd.range(20, 30, 50, 70))
    brute = {
        i
        for i, (x, y) in enumerate(pts)
        if 20 <= x <= 50 and 30 <= y <= 70
    }
    assert got == brute
    got_w = set(kd.within(50, 50, 20))
    brute_w = {
        i for i, (x, y) in enumerate(pts) if (x - 50) ** 2 + (y - 50) ** 2 <= 400
    }
    assert got_w == brute_w


def test_kdbush_roundtrip():
    kd = KDBush(kdbush_points(), node_size=10)
    kd2 = KDBush.from_bytes(kd.to_bytes())
    assert np.array_equal(kd.ids, kd2.ids)
    assert np.array_equal(kd.coords, kd2.coords)


@pytest.mark.parametrize("n", [0, 1, 5, 63, 64, 65, 200])
def test_kdbush_sweep(n):
    rng = np.random.default_rng(n)
    pts = rng.uniform(0, 100, size=(n, 2))
    kd = KDBush(pts)
    got = set(kd.range(25, 25, 75, 75))
    brute = {
        i
        for i, (x, y) in enumerate(pts)
        if 25 <= x <= 75 and 25 <= y <= 75
    }
    assert got == brute


def test_haversine_zero_and_known():
    assert haversine(0, 0, 0, 0) == 0.0
    # quarter circumference along equator
    q = haversine(0, 0, 90, 0)
    assert abs(q - np.pi / 2 * 6378137.0) < 1.0


@pytest.mark.parametrize(
    "region",
    [
        # (name, lon sampler, lat range, queries)
        ("antimeridian", "dateline", (-60.0, 60.0), 200),
        ("above_60n", "global", (60.0, 90.0), 300),
        ("global", "global", (-90.0, 90.0), 300),
    ],
    ids=lambda r: r[0],
)
def test_neighbors_haversine_sweep(region):
    """Best-first haversine kNN must equal brute force near +-180, near
    the pole and globally: the node bound has to be a true lower bound
    of the great-circle distance, which clamping the query into the box
    in degree space is not (it missed neighbors across the line and off
    a box's latitude band)."""
    _, lons, (lat_lo, lat_hi), n_q = region
    rng = np.random.default_rng([23, n_q, int(lat_lo) + 90])
    n, k = 2000, 5

    def lon(m):
        if lons == "global":
            return rng.uniform(-180.0, 180.0, m)
        east = rng.random(m) < 0.5
        return np.where(east, rng.uniform(177.0, 180.0, m), rng.uniform(-180.0, -177.0, m))

    x, y = lon(n), rng.uniform(lat_lo, lat_hi, n)
    fb = Flatbush(np.stack([x, y, x, y], axis=1))
    qx, qy = lon(n_q), rng.uniform(lat_lo, lat_hi, n_q)
    for i in range(n_q):
        d = haversine(qx[i], qy[i], x, y)
        want = np.lexsort((np.arange(n), d))[:k]
        ids, got_d = fb.neighbors(qx[i], qy[i], max_results=k, metric="haversine")
        assert list(ids) == list(want), (qx[i], qy[i])
        assert np.array_equal(got_d, d[want])


def test_haversine_box_bounds_points_of_the_box():
    """The wrap-aware box bound is exact: never above the distance to
    any point of the box (nor the far bound below it), and equal to the
    point distance on point boxes."""
    from geo_index_spark.localindex.flatbush import haversine_box

    rng = np.random.default_rng(29)
    for _ in range(200):
        lo, hi = np.sort(rng.uniform(-180.0, 180.0, 2))
        la, lb = np.sort(rng.uniform(-90.0, 90.0, 2))
        box = np.array([[lo, la, hi, lb]])
        q = (rng.choice([-180.0, 180.0, rng.uniform(-180, 180)]), rng.choice([-90.0, 90.0, rng.uniform(-90, 90)]))
        px = np.concatenate([rng.uniform(lo, hi, 2000), [lo, lo, hi, hi]])
        py = np.concatenate([rng.uniform(la, lb, 2000), [la, lb, la, lb]])
        d = haversine(q[0], q[1], px, py)
        assert haversine_box(q[0], q[1], box)[0] <= d.min()
        assert haversine_box(q[0], q[1], box, far=True)[0] >= d.max()
    pts = rng.uniform((-180.0, -90.0), (180.0, 90.0), (500, 2))
    q = (179.5, 88.0)
    got = haversine_box(q[0], q[1], np.hstack([pts, pts]))
    assert np.array_equal(got, haversine(q[0], q[1], pts[:, 0], pts[:, 1]))


@pytest.mark.parametrize("n", [0, 1, 4, 8, 16, 20, 40, 80, 300])
def test_str_sort_every_item_finds_itself(n):
    # B3 sweep, same property as hilbert (reference src/rtree/builder.rs:270-301)
    rng = np.random.default_rng(n + 1000)
    boxes = rng.uniform(0, 100, size=(n, 2))
    boxes = np.hstack([boxes, boxes + rng.uniform(0, 5, size=(n, 2))])
    fb = Flatbush(boxes, node_size=4, sort_method="str")
    for i in range(n):
        assert i in set(fb.search(*boxes[i]))


def test_str_and_hilbert_same_search_results():
    boxes = data1_boxes()
    a = Flatbush(boxes, node_size=16, sort_method="str")
    b = Flatbush(boxes, node_size=16)
    for q in [(40, 40, 60, 60), (0, 0, 100, 100), (10, 80, 30, 96)]:
        assert set(a.search(*q)) == set(b.search(*q))
