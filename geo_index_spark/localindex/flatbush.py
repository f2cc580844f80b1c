"""Packed static R-tree (flatbush-compatible), vectorized numpy.

From-scratch implementation of the reference's data structure contract
(reference src/rtree/builder.rs:36-238, src/rtree/index.rs:16-146):

* bottom-up bulk load over Hilbert-sorted leaf boxes, all nodes full
  except the last per level;
* flatbush ABI v3 byte serialization
  ``[8B header][num_nodes*4 coords][num_nodes u16|u32 indices]`` with
  header ``0xfb, (3<<4)+type_index, node_size:u16, num_items:u32``;
* inclusive bbox-overlap search returning insertion indexes;
* best-first kNN with euclidean / haversine metrics
  (reference src/rtree/trait.rs:198-302, src/rtree/distance.rs:35-125).

The build is O(n log n) numpy (argsort + reduceat) — no per-item Python.
An optional ``exact_flatbush_order=True`` reproduces the reference's
node-granular partial quicksort (reference src/rtree/sort/hilbert.rs:60-117)
so the serialized buffer is byte-identical to flatbush-JS for golden
tests; the default full stable sort yields identical *query results*
(the parity contract, SURVEY.md §2.3) with better locality.
"""

from __future__ import annotations

import heapq

import numpy as np

from geo_index_spark.hilbert import hilbert_of_boxes

DEFAULT_NODE_SIZE = 16  # reference src/rtree/builder.rs:11
_VERSION = 3
_TYPE_INDEX = {np.dtype("f8"): 8, np.dtype("f4"): 7}


def compute_level_bounds(num_items: int, node_size: int) -> list[int]:
    """End offset (in coord positions, i.e. node_index*4) of each level,
    leaves first (reference src/rtree/util.rs:7-21)."""
    n = num_items
    num_nodes = n
    bounds = [n * 4]
    while n > 1:
        n = int(np.ceil(n / node_size))
        num_nodes += n
        bounds.append(num_nodes * 4)
    return bounds


def _partial_hilbert_sort(values: np.ndarray, order: np.ndarray, node_size: int) -> None:
    """Reference-exact node-granular quicksort for byte-parity goldens
    (port of reference src/rtree/sort/hilbert.rs:60-117; median-of-three
    Hoare partition that stops once a range sits inside one leaf node).
    Only used on small golden fixtures — production path is argsort."""

    def sort(left: int, right: int) -> None:
        if left // node_size >= right // node_size:
            return
        start, mid, end = values[left], values[(left + right) >> 1], values[right]
        x = max(start, mid)
        if end > x:
            pivot = x
        elif x == start:
            pivot = max(mid, end)
        elif x == mid:
            pivot = max(start, end)
        else:
            pivot = end
        i, j = left - 1, right + 1
        while True:
            i += 1
            while values[i] < pivot:
                i += 1
            j -= 1
            while values[j] > pivot:
                j -= 1
            if i >= j:
                break
            values[i], values[j] = values[j], values[i]
            order[i], order[j] = order[j], order[i]
        sort(left, j)
        sort(j + 1, right)

    if len(values) > 1:
        sort(0, len(values) - 1)


def _str_order(boxes: np.ndarray, node_size: int) -> np.ndarray:
    """B3 STR (sort-tile-recursive) leaf order (reference
    src/rtree/sort/str.rs:16-100): sort by x-center, cut into
    ceil(sqrt(num_leaf_nodes)) vertical slices, sort each slice by
    y-center. Vectorized with one argsort per axis."""
    n = boxes.shape[0]
    cx = (boxes[:, 0] + boxes[:, 2]) / 2.0
    cy = (boxes[:, 1] + boxes[:, 3]) / 2.0
    num_leaf_nodes = int(np.ceil(n / node_size))
    num_slices = int(np.ceil(np.sqrt(num_leaf_nodes)))
    per_slice = int(np.ceil(n / num_slices))
    by_x = np.argsort(cx, kind="stable")
    slice_id = np.arange(n) // per_slice
    # within each x-slice, order by y-center: lexsort on (y, slice)
    order = by_x[np.lexsort((cy[by_x], slice_id))]
    return order


class Flatbush:
    """A packed, immutable R-tree over ``boxes`` (n, 4) float array."""

    def __init__(
        self,
        boxes: np.ndarray,
        node_size: int = DEFAULT_NODE_SIZE,
        exact_flatbush_order: bool = False,
        dtype=np.float64,
        sort_method: str = "hilbert",  # 'hilbert' | 'str' (B3)
    ):
        boxes = np.ascontiguousarray(boxes, dtype=dtype).reshape(-1, 4)
        self.num_items = n = boxes.shape[0]
        self.node_size = node_size
        self.dtype = np.dtype(dtype)
        self.level_bounds = compute_level_bounds(n, node_size)
        num_nodes = self.level_bounds[-1] // 4
        self.num_nodes = num_nodes

        nodes = np.zeros((num_nodes, 4), dtype=dtype)
        indices = np.zeros(num_nodes, dtype=np.int64)

        if n == 0:
            self._bounds = (np.inf, np.inf, -np.inf, -np.inf)
            self.nodes, self.indices = nodes, indices
            return

        bounds = (
            float(boxes[:, 0].min()),
            float(boxes[:, 1].min()),
            float(boxes[:, 2].max()),
            float(boxes[:, 3].max()),
        )
        self._bounds = bounds

        if n <= node_size:
            # single leaf node; no sort (reference src/rtree/builder.rs:153-168)
            nodes[:n] = boxes
            indices[:n] = np.arange(n)
            if n > 1:
                nodes[n] = bounds
                indices[n] = 0
            self.nodes, self.indices = nodes, indices
            return

        if sort_method == "str":
            order = _str_order(boxes, node_size)
        else:
            hv = hilbert_of_boxes(
                boxes[:, 0], boxes[:, 1], boxes[:, 2], boxes[:, 3], bounds
            )
            if exact_flatbush_order:
                order = np.arange(n, dtype=np.int64)
                hv = hv.copy()
                _partial_hilbert_sort(hv, order, node_size)
            else:
                order = np.argsort(hv, kind="stable")
        nodes[:n] = boxes[order]
        indices[:n] = order

        # pack parent levels bottom-up (reference src/rtree/builder.rs:180-232)
        pos = 0  # start node-index of the child level
        write = n
        for lb in self.level_bounds[:-1]:
            level_end = lb // 4
            count = level_end - pos
            starts = np.arange(pos, level_end, node_size)
            child = nodes[pos:level_end]
            # groupwise min/max via reduceat over node_size chunks
            rel = starts - pos
            nodes[write : write + len(starts), 0] = np.minimum.reduceat(child[:, 0], rel)
            nodes[write : write + len(starts), 1] = np.minimum.reduceat(child[:, 1], rel)
            nodes[write : write + len(starts), 2] = np.maximum.reduceat(child[:, 2], rel)
            nodes[write : write + len(starts), 3] = np.maximum.reduceat(child[:, 3], rel)
            # internal-node index = child block position in coord units
            indices[write : write + len(starts)] = starts * 4
            write += len(starts)
            pos = level_end
            del count

        self.nodes, self.indices = nodes, indices

    # -- introspection (reference X1/X6) ------------------------------------

    @property
    def bounds(self) -> tuple[float, float, float, float]:
        return self._bounds

    def boxes_at_level(self, level: int) -> np.ndarray:
        """Node boxes of one level, 0 = leaves (reference
        python/src/rtree/boxes_at_level.rs:12-33)."""
        if level < 0 or level >= len(self.level_bounds):
            raise ValueError(f"level out of range: {level}")
        start = 0 if level == 0 else self.level_bounds[level - 1] // 4
        end = self.level_bounds[level] // 4
        return self.nodes[start:end]

    # -- queries -------------------------------------------------------------

    def search(self, min_x: float, min_y: float, max_x: float, max_y: float) -> np.ndarray:
        """Insertion indexes of items whose boxes intersect the query box
        (inclusive overlap — touching edges match; reference
        src/rtree/trait.rs:113-165). Vectorized level-order descent."""
        n = self.num_items
        if n == 0:
            return np.empty(0, dtype=np.int64)
        nodes, ns = self.nodes, self.node_size
        level_starts = [0] + [b // 4 for b in self.level_bounds]
        # frontier: node indexes at current level, top-down
        top = len(self.level_bounds) - 1
        frontier = np.array([level_starts[top]], dtype=np.int64) if n > 1 else None
        if n == 1:
            frontier = np.array([0], dtype=np.int64)
            top = 0
        for level in range(top, -1, -1):
            if frontier.size == 0:
                break
            b = nodes[frontier]
            hit = ~(
                (max_x < b[:, 0]) | (max_y < b[:, 1]) | (min_x > b[:, 2]) | (min_y > b[:, 3])
            )
            frontier = frontier[hit]
            if level == 0:
                return self.indices[frontier]
            # expand to children at level-1
            rel = frontier - level_starts[level]
            child_start = level_starts[level - 1] + rel * ns
            child_end = np.minimum(child_start + ns, level_starts[level])
            counts = child_end - child_start
            frontier = np.repeat(child_start, counts) + _ragged_arange(counts)
        return np.empty(0, dtype=np.int64)

    def neighbors(
        self,
        x: float,
        y: float,
        max_results: int | None = None,
        max_distance: float | None = None,
        metric: str = "euclidean",
    ) -> tuple[np.ndarray, np.ndarray]:
        """(ids, dists) ascending by (distance, insertion index).

        Best-first search over node blocks (reference
        src/rtree/trait.rs:238-302). Distances: 'euclidean' returns true
        distance (reference orders by squared — same ordering), and
        'haversine' great-circle meters on WGS84 sphere R=6378137
        (reference src/rtree/distance.rs:84-114).
        """
        n = self.num_items
        if n == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        k = n if max_results is None else int(max_results)
        level_starts = [0] + [b // 4 for b in self.level_bounds]
        ns = self.node_size
        top = len(self.level_bounds) - 1

        ids_out: list[int] = []
        dist_out: list[float] = []
        # heap entries: (dist, kind, node_index_or_item); kind 0=node, 1=leaf item
        # leaf ties resolved by insertion index for determinism.
        heap: list[tuple[float, int, int, int]] = []
        if n == 1:
            d = _metric_point(x, y, self.nodes[0], metric)
            if max_distance is None or d <= max_distance:
                return np.array([self.indices[0]]), np.array([d])
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)

        heapq.heappush(heap, (0.0, 0, top, level_starts[top]))
        maxd = np.inf if max_distance is None else float(max_distance)
        while heap and len(ids_out) < k:
            d, kind, level, idx = heapq.heappop(heap)
            if d > maxd:
                break
            if kind == 1:
                ids_out.append(idx)
                dist_out.append(d)
                continue
            # expand internal node: its children occupy a contiguous block
            # at the next level down (packed layout — no pointer chasing)
            rel = idx - level_starts[level]
            child_start = level_starts[level - 1] + rel * ns
            child_end = min(child_start + ns, level_starts[level])
            blk = self.nodes[child_start:child_end]
            dists = _metric_block(x, y, blk, metric)
            if level - 1 == 0:
                iid = self.indices[child_start:child_end]
                for dd, ii in zip(dists, iid):
                    if dd <= maxd:
                        heapq.heappush(heap, (float(dd), 1, 0, int(ii)))
            else:
                for j, dd in enumerate(dists):
                    if dd <= maxd:
                        heapq.heappush(heap, (float(dd), 0, level - 1, child_start + j))
        return np.array(ids_out, dtype=np.int64), np.array(dist_out, dtype=np.float64)

    # -- serialization (flatbush ABI v3) --------------------------------------

    def to_bytes(self) -> bytes:
        """Serialize to the flatbush v3 buffer layout (reference
        src/rtree/index.rs:131-145): little-endian header, coords,
        u16/u32 indices."""
        idx_dtype = np.uint16 if self.num_nodes < 16384 else np.uint32
        header = np.zeros(8, dtype=np.uint8)
        header[0] = 0xFB
        header[1] = (_VERSION << 4) + _TYPE_INDEX[self.dtype]
        header[2:4] = np.frombuffer(np.uint16(self.node_size).tobytes(), dtype=np.uint8)
        header[4:8] = np.frombuffer(np.uint32(self.num_items).tobytes(), dtype=np.uint8)
        coords = np.ascontiguousarray(self.nodes, dtype=self.dtype).tobytes()
        # leaf indices are insertion indexes; internal are child positions
        return header.tobytes() + coords + self.indices.astype(idx_dtype).tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "Flatbush":
        """Zero-copy-ish deserialization (validates magic/version like
        reference src/rtree/index.rs:50-98)."""
        raw = np.frombuffer(buf, dtype=np.uint8)
        if raw[0] != 0xFB:
            raise ValueError("not a flatbush buffer (bad magic)")
        version, type_index = raw[1] >> 4, raw[1] & 0x0F
        if version != _VERSION:
            raise ValueError(f"unsupported flatbush version {version}")
        dtype = {8: np.dtype("f8"), 7: np.dtype("f4")}[int(type_index)]
        node_size = int(np.frombuffer(buf[2:4], dtype=np.uint16)[0])
        num_items = int(np.frombuffer(buf[4:8], dtype=np.uint32)[0])
        obj = cls.__new__(cls)
        obj.num_items = num_items
        obj.node_size = node_size
        obj.dtype = dtype
        obj.level_bounds = compute_level_bounds(num_items, node_size)
        num_nodes = obj.level_bounds[-1] // 4
        obj.num_nodes = num_nodes
        coord_bytes = num_nodes * 4 * dtype.itemsize
        obj.nodes = (
            np.frombuffer(buf[8 : 8 + coord_bytes], dtype=dtype).reshape(-1, 4).copy()
        )
        idx_dtype = np.uint16 if num_nodes < 16384 else np.uint32
        obj.indices = np.frombuffer(
            buf[8 + coord_bytes : 8 + coord_bytes + num_nodes * idx_dtype().itemsize],
            dtype=idx_dtype,
        ).astype(np.int64)
        if num_items > 0:
            root = obj.nodes[-1] if num_items > 1 else obj.nodes[0]
            obj._bounds = tuple(float(v) for v in root)
        else:
            obj._bounds = (np.inf, np.inf, -np.inf, -np.inf)
        return obj


def _ragged_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated — vectorized."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    out = np.ones(total, dtype=np.int64)
    out[0] = 0
    ends = np.cumsum(counts)[:-1]
    out[ends] = 1 - counts[:-1]
    return np.cumsum(out)


def f64_box_to_f32(
    min_x: float, min_y: float, max_x: float, max_y: float
) -> tuple[np.float32, np.float32, np.float32, np.float32]:
    """X7: cast an f64 box to f32 widening with nextafter so the f32 box
    always CONTAINS the f64 box (reference src/rtree/util.rs:26-51)."""
    nmx = np.float32(min_x)
    nmy = np.float32(min_y)
    nxx = np.float32(max_x)
    nxy = np.float32(max_y)
    if float(nmx) > min_x:
        nmx = np.nextafter(nmx, np.float32(-np.inf))
    if float(nmy) > min_y:
        nmy = np.nextafter(nmy, np.float32(-np.inf))
    if float(nxx) < max_x:
        nxx = np.nextafter(nxx, np.float32(np.inf))
    if float(nxy) < max_y:
        nxy = np.nextafter(nxy, np.float32(np.inf))
    return nmx, nmy, nxx, nxy


_EARTH_R = 6378137.0  # reference src/rtree/distance.rs (WGS84 semi-major)


def haversine(lon1, lat1, lon2, lat2):
    """Great-circle distance in meters (reference src/rtree/distance.rs:84-114).
    Same term order as ``join.haversine_pair_col`` — coordinate
    differences are taken in degrees — so numpy and Catalyst agree to
    the last few bits, also for near-coincident points."""
    lon1, lat1, lon2, lat2 = (np.asarray(a, np.float64) for a in (lon1, lat1, lon2, lat2))
    h = (
        np.sin(np.radians(lat2 - lat1) / 2) ** 2
        + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    )
    return 2.0 * _EARTH_R * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def haversine_box(x, y, boxes: np.ndarray, far: bool = False) -> np.ndarray:
    """Smallest (``far=True``: largest) haversine from (x, y) to any
    point of each lon/lat box; ``x``/``y`` may be (n, 1) columns, which
    broadcast to (n, len(boxes)). At a fixed latitude the distance grows
    with the wrapped longitude gap, so the nearest (farthest) point lies
    on the query's own meridian (its antipodal meridian) when the box
    spans it, else on a longitude edge. Along a meridian the distance
    has one minimum, at latitude atan2(sin lat_q, cos lat_q cos dlon),
    and its maximum opposite that, so over the box's latitude band the
    extreme is that latitude clamped to the band or a band edge. On a
    point box every candidate is the point itself, so the bound equals
    the point distance exactly."""
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    mnx, mny, mxx, mxy = boxes[:, 0], boxes[:, 1], boxes[:, 2], boxes[:, 3]
    sin_q, cos_q = np.sin(np.radians(y)), np.cos(np.radians(y))
    own = np.where(x > 0.0, x - 180.0, x + 180.0) if far else x
    spans = (mnx <= own) & (own <= mxx)
    pick = np.maximum if far else np.minimum
    lons = (mnx, mxx, np.where(spans, own, mnx)) if far else (mnx, mxx)
    best = None
    for lon in lons:
        crit = np.degrees(np.arctan2(sin_q, cos_q * np.cos(np.radians(lon - x))))
        if far:
            crit = np.where(crit > 0.0, crit - 180.0, crit + 180.0)
        for lat in (np.clip(crit, mny, mxy), mny, mxy):
            d = haversine(x, y, lon, lat)
            best = d if best is None else pick(best, d)
    if far:
        return best
    return np.where(spans, haversine(x, y, x, np.clip(y, mny, mxy)), best)


def _metric_block(x: float, y: float, boxes: np.ndarray, metric: str) -> np.ndarray:
    """Distance from query point to each box (0 when inside) — the
    bbox lower bound used for pruning AND the exact leaf distance, since
    leaf boxes are the items (reference src/rtree/trait.rs:570-579 axis
    distance). Haversine boxes use the wrap-aware :func:`haversine_box`:
    clamping the query into the box in degree space is no lower bound
    across +-180 or off the box's latitude band."""
    if metric == "euclidean":
        cx = np.clip(x, boxes[:, 0], boxes[:, 2])
        cy = np.clip(y, boxes[:, 1], boxes[:, 3])
        return np.hypot(cx - x, cy - y)
    if metric == "haversine":
        return haversine_box(x, y, boxes)
    raise ValueError(f"unknown metric {metric}")


def _metric_point(x: float, y: float, box: np.ndarray, metric: str) -> float:
    return float(_metric_block(x, y, box.reshape(1, 4), metric)[0])
