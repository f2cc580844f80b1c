"""k-nearest-neighbors with geo-index ordering semantics.

Reference contract (src/rtree/trait.rs:198-302): results ascend by
distance; ``max_distance`` prunes (inclusive); ``max_results`` caps.
Tie order in the reference is heap-internal, so we pin the deterministic
tiebreak ``(dist, row_id)`` (SURVEY.md §2.3.3).

Spark plan: distance is a pure Catalyst expression (hypot / haversine
built from JVM math functions — no Python), then
``orderBy(dist, row_id).limit(k)`` which Catalyst executes as
``TakeOrderedAndProject``: each partition computes a local top-k
map-side and only k rows per partition reach the driver-side merge.
That is exactly the reference's best-first "local candidates, global
merge" shape, and it scales linearly with partition count. On
Hilbert-clustered storage, an optional ``prefilter_radius`` turns the
scan into a pushed-down bbox filter first.
"""

from __future__ import annotations

import logging
import time
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6378137.0  # reference src/rtree/distance.rs (WGS84 semi-major)


def euclidean_dist_col(x: Column, y: Column, qx: float, qy: float) -> Column:
    dx = x - F.lit(float(qx))
    dy = y - F.lit(float(qy))
    return F.sqrt(dx * dx + dy * dy)


def haversine_dist_col(lon: Column, lat: Column, qlon: float, qlat: float) -> Column:
    """Great-circle meters to a literal query point, same formula as
    reference src/rtree/distance.rs:84-114 — all JVM built-ins."""
    from geo_index_spark.operators.join import haversine_pair_col

    return haversine_pair_col(F.lit(float(qlon)), F.lit(float(qlat)), lon, lat)


def box_distance_col(
    minx: Column, miny: Column, maxx: Column, maxy: Column, qx: float, qy: float
) -> Column:
    """Euclidean distance from point (qx, qy) to a box, 0 inside —
    the reference's axis_dist composition (src/rtree/trait.rs:570-579)."""
    dx = F.greatest(F.lit(0.0), F.greatest(minx - F.lit(float(qx)), F.lit(float(qx)) - maxx))
    dy = F.greatest(F.lit(0.0), F.greatest(miny - F.lit(float(qy)), F.lit(float(qy)) - maxy))
    return F.sqrt(dx * dx + dy * dy)


def knn_boxes(
    df: DataFrame,
    qx: float,
    qy: float,
    k: int,
    max_distance: float | None = None,
    cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
    id_col: str = "row_id",
) -> DataFrame:
    """Q3/Q5 over a BOX table: top-k boxes by point-to-box distance
    (the reference's native kNN operates on leaf boxes; geometry
    queries refine the same lower bound, src/rtree/trait.rs:397-500)."""
    mnx, mny, mxx, mxy = (F.col(c) for c in cols)
    out = df.withColumn("dist", box_distance_col(mnx, mny, mxx, mxy, qx, qy))
    if max_distance is not None:
        out = out.filter(F.col("dist") <= F.lit(float(max_distance)))
    return out.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(int(k))


# ---------------------------------------------------------------------------
# Q5 full: kNN by query GEOMETRY (reference neighbors_geometry,
# src/rtree/trait.rs:397-500 + GeometryAccessor trait.rs:43-52)
# ---------------------------------------------------------------------------


def _geom_edges(vertices: list[list[float]], geom_type: str) -> list[tuple[float, float, float, float]]:
    """(x1, y1, x2, y2) edge list; polygons close the ring (dropping a
    duplicated closing vertex first), polylines don't."""
    v = [(float(p[0]), float(p[1])) for p in vertices]
    if geom_type == "polygon" and len(v) >= 2 and v[0] == v[-1]:
        v = v[:-1]
    n = len(v)
    if n < 2:
        raise ValueError("geometry needs at least 2 vertices")
    last = n if geom_type == "polygon" else n - 1
    return [(v[i][0], v[i][1], v[(i + 1) % n][0], v[(i + 1) % n][1]) for i in range(last)]


def geom_bounds(vertices: list[list[float]]) -> tuple[float, float, float, float]:
    xs = [float(p[0]) for p in vertices]
    ys = [float(p[1]) for p in vertices]
    return (min(xs), min(ys), max(xs), max(ys))


def point_to_geom_np(px, py, vertices: list[list[float]], geom_type: str):
    """Vectorized exact point-to-geometry distance (numpy twin of
    :func:`geom_distance_col`; also the >32-edge Arrow fast path).
    Polyline: min point-to-segment distance. Polygon: 0 inside
    (even-odd ray cast), else min distance to the ring."""
    px = np.asarray(px, np.float64)[:, None]
    py = np.asarray(py, np.float64)[:, None]
    e = np.array(_geom_edges(vertices, geom_type), dtype=np.float64)
    x1, y1, x2, y2 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
    dx, dy = x2 - x1, y2 - y1
    l2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x1) * dx + (py - y1) * dy) / l2
    t = np.where(l2 == 0.0, 0.0, np.clip(t, 0.0, 1.0))
    cx = x1 + t * dx
    cy = y1 + t * dy
    d2 = (px - cx) ** 2 + (py - cy) ** 2
    d = np.sqrt(d2.min(axis=1))
    if geom_type == "polygon":
        from geo_index_spark.operators.pip import ray_cast_np

        ring = np.array([[p[0], p[1]] for p in vertices], dtype=np.float64)
        inside = ray_cast_np(px[:, 0], py[:, 0], ring)
        d = np.where(inside, 0.0, d)
    return d


def geom_distance_col(x: Column, y: Column, vertices: list[list[float]], geom_type: str = "polyline") -> Column:
    """Exact point-to-geometry distance as a PURE CATALYST expression —
    the geometry is a literal, so every edge's dx/dy/l2 folds to a
    Python-computed double and the whole thing stays in whole-stage
    codegen. Per edge: t = clamp(((p-a).(b-a))/|b-a|^2, 0, 1),
    d2 = |p - (a + t(b-a))|^2; distance = sqrt(min over edges);
    polygons short-circuit to 0 when the even-odd ray cast says inside.
    Use :func:`point_to_geom_np` via mapInPandas for geometries with
    thousands of edges (a flat least() over ~1e3 subtrees stops being
    a reasonable codegen unit)."""
    edges = _geom_edges(vertices, geom_type)
    d2s = []
    for (x1, y1, x2, y2) in edges:
        dx, dy = x2 - x1, y2 - y1
        l2 = dx * dx + dy * dy
        if l2 == 0.0:
            d2s.append((x - F.lit(x1)) * (x - F.lit(x1)) + (y - F.lit(y1)) * (y - F.lit(y1)))
            continue
        t_raw = ((x - F.lit(x1)) * F.lit(dx) + (y - F.lit(y1)) * F.lit(dy)) / F.lit(l2)
        t = F.least(F.lit(1.0), F.greatest(F.lit(0.0), t_raw))
        cx = F.lit(x1) + t * F.lit(dx)
        cy = F.lit(y1) + t * F.lit(dy)
        d2s.append((x - cx) * (x - cx) + (y - cy) * (y - cy))
    d = F.sqrt(F.least(*d2s) if len(d2s) > 1 else d2s[0])
    if geom_type == "polygon":
        # even-odd crossing parity, same test as pip.ray_cast_np
        crossings = None
        for (x1, y1, x2, y2) in edges:
            if y1 == y2:
                continue
            xin = F.lit(x2 - x1) * (y - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
            c = F.when(
                ((F.lit(y1) > y) != (F.lit(y2) > y)) & (x < xin), F.lit(1)
            ).otherwise(F.lit(0))
            crossings = c if crossings is None else crossings + c
        inside = (crossings % 2 == 1) if crossings is not None else F.lit(False)
        d = F.when(inside, F.lit(0.0)).otherwise(d)
    return d


MAX_CODEGEN_EDGES = 64


def _geom_dist_arrow(vertices: list[list[float]], geom_type: str):
    """Arrow-batched exact distance (pandas_udf over point_to_geom_np)
    for geometries too large to inline as one codegen expression."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def dist(px: pd.Series, py: pd.Series) -> pd.Series:
        return pd.Series(point_to_geom_np(px.to_numpy(), py.to_numpy(), vertices, geom_type))

    return dist


def knn_geometry(
    df: DataFrame,
    vertices: list[list[float]],
    k: int,
    geom_type: str = "polyline",
    max_distance: float | None = None,
    cols: tuple[str, str] = ("x", "y"),
    id_col: str = "row_id",
    two_phase: bool = True,
) -> DataFrame:
    """Exact top-k rows by distance to a query geometry — the
    reference's ``neighbors_geometry`` (candidate lower bound by bbox,
    exact geom refine on candidates; src/rtree/trait.rs:397-500).

    Two-phase exact plan: (1) seed top-k by the bbox lower bound
    (TakeOrderedAndProject — k rows to the driver) and read their MAX
    exact distance D; any true top-k row has exact <= D and bbox lower
    bound <= exact, so (2) ``filter(lb <= D)`` is a complete candidate
    set — the exact distance is then computed only on candidates and
    merged with the same (dist, id) tiebreak. The phase-1 collect is k
    SCALARS (not data rows) — driver-tiny at any scale — but it does
    serialize two jobs per query; ``two_phase=False`` trades the prune
    for a single full-scan job when query latency matters more than
    scan cost. Both phases are pure
    Catalyst for geometries up to ``MAX_CODEGEN_EDGES`` edges; larger
    geometries switch the exact distance to the Arrow-batched numpy
    kernel (same formula, so results agree to IEEE-double exactness —
    pytest-pinned), while the lower-bound prune stays Catalyst."""
    x, y = (F.col(c) for c in cols)
    gb = geom_bounds(vertices)
    # bbox lower bound: geometry is inside its bbox, so
    # dist(p, bbox) <= dist(p, geom) — the same axis_dist composition
    # as box_distance_col with the box literal and the point a column
    ddx = F.greatest(F.lit(0.0), F.greatest(F.lit(gb[0]) - x, x - F.lit(gb[2])))
    ddy = F.greatest(F.lit(0.0), F.greatest(F.lit(gb[1]) - y, y - F.lit(gb[3])))
    lb = F.sqrt(ddx * ddx + ddy * ddy)
    if len(_geom_edges(vertices, geom_type)) <= MAX_CODEGEN_EDGES:
        exact = geom_distance_col(x, y, vertices, geom_type)
    else:
        exact = _geom_dist_arrow(vertices, geom_type)(x, y)
    out = df
    if two_phase:
        seeds = (
            df.withColumn("_lb", lb)
            .withColumn("dist", exact)
            .orderBy(F.col("_lb").asc(), F.col(id_col).asc())
            .limit(int(k))
            .select("dist")
            .collect()
        )
        if len(seeds) >= int(k) and seeds:
            D = max(r["dist"] for r in seeds)
            if max_distance is not None:
                D = min(D, float(max_distance))
            out = out.filter(lb <= F.lit(float(D)))
    out = out.withColumn("dist", exact)
    if max_distance is not None:
        out = out.filter(F.col("dist") <= F.lit(float(max_distance)))
    return out.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(int(k))


# a left table of at most this many rows goes straight to the
# per-slice index probe of :func:`_knn_probe`, and the probe broadcasts
# its lefts (with their slice lists) in chunks of at most this many
CERT_UPFRONT_MAX_LEFTS = 65_536

# caps of the big-left density round's plan (:func:`_plan_buckets`): a level
# bucket broadcasts its exploded lefts only with <= BCAST_MAX_LEFTS
# lefts and <= BCAST_BUCKET_MAX_ROWS estimated exploded rows, and the
# whole broadcast stays <= BCAST_MAX_ROWS. The partitioned join builds
# its exploded lefts into an unspillable SHUFFLE_HASH relation only up
# to SHJ_MAX_ROWS_PER_PARTITION rows per shuffle partition (~2.5 MB,
# the budget the round-7 spatial_join A/B put on unspillable builds;
# ADVICE r6), else the spill-safe sort-merge join runs.
BCAST_MAX_LEFTS = 200_000
BCAST_BUCKET_MAX_ROWS = 2_000_000
BCAST_MAX_ROWS = 4_000_000
SHJ_MAX_ROWS_PER_PARTITION = 50_000

_log = logging.getLogger(__name__)


def _record(decision: str, t0: float, **inputs) -> None:
    """One INFO record (``knn_decision``, ``knn_inputs``) per knn_join
    scale decision, its inputs plus ``elapsed_s`` since the call's ``t0``."""
    inputs["elapsed_s"] = round(time.perf_counter() - t0, 3)
    extra = {"knn_decision": decision, "knn_inputs": inputs}
    _log.info("knn_join %s %s", decision, inputs, extra=extra)


class BucketPlan(NamedTuple):
    """The big-left density round's candidate joins (:func:`_plan_buckets`)."""

    bcast_levels: list[int]  # one broadcast join keyed on (level, cell)
    remap: dict[int, int]  # bucket level -> finer broadcast level it folds into
    part_levels: list[int]  # one partitioned join over these levels
    shuffle_hash: bool  # hint of the partitioned join; False = sort-merge
    bcast_rows: float  # estimated exploded rows of each join
    part_rows: float


def _plan_buckets(
    buckets: list[tuple[int, int, float]], ext_u: float, n_shuffle: int
) -> BucketPlan:
    """Pure plan of the big-left density round from its ``(level, lefts, max r)``
    buckets: which levels broadcast their exploded lefts in ONE
    multilevel join (right is scanned, not re-shuffled) and which run
    ONE partitioned join — the partition-or-not decision. A left at
    level l explodes into the cells its +-r box touches, at most
    (2 r / cell + 2)^2 of them (``ext_u`` is the domain extent in r's
    units); quantization keeps that <= ~3x3 except at the level-4 clamp
    (near-cover radii), where the factor grows."""

    def rows(cnt: int, rmx: float, lvl: int) -> float:
        return cnt * (2.0 * rmx / (ext_u / (1 << lvl)) + 2.0) ** 2

    small: list[list] = []  # [lvl, cnt, rmx, est. exploded rows]
    part: list[tuple[int, float]] = []  # (lvl, est)
    for lvl, cnt, rmx in sorted(buckets):
        est = rows(cnt, float(rmx), int(lvl))
        if cnt <= BCAST_MAX_LEFTS and est <= BCAST_BUCKET_MAX_ROWS:
            small.append([int(lvl), cnt, float(rmx), est])
        else:
            part.append((int(lvl), est))
    # LEVEL MERGE (round 7): the multilevel join explodes EVERY right
    # point once per present level, so each level is a probe pass over
    # right. Fold a coarser broadcast bucket into the next finer one when
    # ITS lefts re-estimated at the finer level fit BCAST_BUCKET_MAX_ROWS
    # (finer cells still cover the box). A heuristic, not a cap: the
    # merged bucket may exceed both per-bucket caps (16M bench shape:
    # level 16 holds 200,038 lefts / ~2.10M rows; gating on the combined
    # estimate splits it into 14 and 16, one more pass over right).
    remap: dict[int, int] = {}
    i = 0
    while i < len(small) - 1:
        lvl_s, cnt_s, rmx_s, _ = small[i]
        lvl_t, cnt_t, rmx_t, est_t = small[i + 1]
        est_s = rows(cnt_s, rmx_s, lvl_t)
        if est_s <= BCAST_BUCKET_MAX_ROWS:
            remap = {s: (lvl_t if d == lvl_s else d) for s, d in remap.items()}
            remap[lvl_s] = lvl_t
            small[i + 1] = [lvl_t, cnt_s + cnt_t, max(rmx_s, rmx_t), est_t + est_s]
            small.pop(i)
        else:
            i += 1
    # the bound that holds: the whole broadcast <= BCAST_MAX_ROWS, a
    # lone bucket included — demote the largest estimate until it does,
    # keeping the broadcast savings for the rest (ADVICE r4, r7)
    while sum(b[3] for b in small) > BCAST_MAX_ROWS:
        lvl_w, _, _, est_w = small.pop(max(range(len(small)), key=lambda j: small[j][3]))
        part.append((lvl_w, est_w))
    part_rows = sum(est for _, est in part)
    return BucketPlan(
        bcast_levels=[b[0] for b in small],
        remap=remap,
        part_levels=sorted(lvl for lvl, _ in part),
        shuffle_hash=part_rows <= SHJ_MAX_ROWS_PER_PARTITION * n_shuffle,
        bcast_rows=sum(b[3] for b in small),
        part_rows=part_rows,
    )


def _ring_certified_radii(
    P,
    nc_d: int,
    cell_d: float,
    bounds: tuple[float, float, float, float],
    px,
    py,
    k: int,
    metric: str,
    cover_r: float,
    r_floor: float,
):
    """Vectorized CERTIFIED-COMPLETE kth-NN radius bounds from the
    coarse 2-D prefix sum ``P`` ((nc_d+1)^2 int64) over the right-point
    cell counts: for each left, the smallest Chebyshev cell ring ``j``
    whose (grid-clamped) box holds >= k rights bounds the kth-NN
    distance by the farthest-corner distance of that box — euclidean
    ``sqrt(dx^2 + dy^2)``, haversine the meridian+parallel path bound
    ``R * (radians(dy) + radians(dx))`` (a parallel arc at latitude phi
    has length R*cos(phi)*dlon <= R*dlon, and a great circle is never
    longer than any path, so the bound is valid at every latitude).
    Grid clamping only LOOSENS the bound for antimeridian-adjacent
    lefts (their true ring wraps, ours doesn't — j comes out larger),
    never breaks it. Lefts whose full grid holds < k rights get
    ``cover_r`` (the unconditional-certify radius). Requires every
    right within ``bounds`` — the same contract cover-radius
    certification already relies on."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    n = len(px)
    lox, loy = bounds[0], bounds[1]
    cx = np.clip(((px - lox) / cell_d).astype(np.int64), 0, nc_d - 1)
    cy = np.clip(((py - loy) / cell_d).astype(np.int64), 0, nc_d - 1)

    def ring(j):  # grid-clamped cell range (x0, x1, y0, y1) of ring j
        return (
            np.maximum(0, cx - j),
            np.minimum(nc_d - 1, cx + j),
            np.maximum(0, cy - j),
            np.minimum(nc_d - 1, cy + j),
        )

    def boxsum(j):
        x0, x1, y0, y1 = ring(j)
        return P[x1 + 1, y1 + 1] - P[x0, y1 + 1] - P[x1 + 1, y0] + P[x0, y0]

    hi = np.full(n, nc_d - 1, dtype=np.int64)
    covered = boxsum(hi) < k  # < k rights anywhere: full-cover certify
    lo = np.zeros(n, dtype=np.int64)
    while True:  # vectorized lower-bound binary search over ring j
        active = lo < hi
        if not active.any():
            break
        mid = (lo + hi) // 2
        ge = boxsum(mid) >= k
        hi = np.where(active & ge, mid, hi)
        lo = np.where(active & ~ge, mid + 1, lo)
    x0, x1, y0, y1 = ring(lo)
    dx = np.maximum(px - (lox + x0 * cell_d), (lox + (x1 + 1) * cell_d) - px)
    dy = np.maximum(py - (loy + y0 * cell_d), (loy + (y1 + 1) * cell_d) - py)
    if metric == "haversine":
        rb = EARTH_RADIUS_M * (np.radians(dy) + np.radians(dx))
    else:
        rb = np.sqrt(dx * dx + dy * dy)
    rb = rb * (1.0 + 1e-9)  # headroom over Catalyst double rounding
    rb = np.where(covered, cover_r, rb)
    return np.clip(rb, r_floor, cover_r)


def _box_cells(boxes, lox: float, loy: float, cell: float, nc: int):
    """Sorted ids ``cx * nc + cy`` of the cells of the nc x nc grid at
    (lox, loy) with edge ``cell`` that the (minx, miny, maxx, maxy) rows
    of ``boxes`` touch, clamped to the grid: +-1 at each box's corners
    on a 2-D difference grid, then a prefix sum — O(boxes + grid),
    however many cells one box spans."""
    ij = np.clip(((boxes - [lox, loy, lox, loy]) / cell).astype(np.int64), 0, nc - 1)
    D = np.zeros((nc + 1, nc + 1), np.int32)
    for xi, yi, sign in ((0, 1, 1), (2, 1, -1), (0, 3, -1), (2, 3, 1)):
        np.add.at(D, (ij[:, xi] + (xi == 2), ij[:, yi] + (yi == 3)), sign)
    return np.flatnonzero(D.cumsum(axis=0).cumsum(axis=1)[:nc, :nc])


def _pair_dist_col(metric: str) -> Column:
    """Distance between left (px, py) and right (qx, qy) columns — the
    one expression every knn_join path emits and ranks by."""
    from geo_index_spark.operators.join import haversine_pair_col

    if metric == "haversine":
        return haversine_pair_col(F.col("px"), F.col("py"), F.col("qx"), F.col("qy"))
    dx = F.col("px") - F.col("qx")
    dy = F.col("py") - F.col("qy")
    return F.sqrt(dx * dx + dy * dy)


def _knn_candidates(
    rem: DataFrame,
    rpts: DataFrame,
    bounds: tuple[float, float, float, float],
    levels: list[int],
    lvl_col: Column,
    metric: str,
    hint: str | None,
) -> DataFrame:
    """Candidate (left_id, right_id, dist, r) pairs for knn_join's
    density round: every right point lying in a grid cell touched by
    the left's per-row radius box at the left's own level ``lvl_col``
    (one of ``levels``). Keyed on (level, cell): each left explodes into its
    box's cells, each right point once per level (<= 7 rows), so one
    pass over right serves every level; with ONE level both sides use
    the literal level and the key is the cell alone. ``hint`` is the
    left side's join hint: "broadcast", "SHUFFLE_HASH" or None.

    Point-specialized: the right side ships only (id, x, y, cell) — no
    box columns — roughly halving the shuffled bytes of the join's big
    side vs the generic box-box
    :func:`~geo_index_spark.operators.join.spatial_join`, and pair
    uniqueness is structural (a point is in exactly one cell per level)
    so no reference-cell dedup predicate is needed. Candidates are a
    SUPERSET of the box (whole touched cells) — harmless, the top-k
    window keeps the closest and certification only needs completeness.
    Haversine boxes may wrap into 2 disjoint lon segments; a
    lon-containment residual keeps a pair in its own segment's cells so
    it cannot be emitted once per segment."""
    from geo_index_spark.operators.join import haversine_candidate_boxes

    lox, loy, hix, hiy = bounds
    one = len(levels) == 1
    keep = ("r",) if one else ("r", "_lvl")
    # integer cells: a double 2^level adds per-row long/double casts of
    # the cell and a not-null filter that re-evaluates it on the right scan
    if one:
        nc = F.lit(1 << int(levels[0]))
    else:
        rem = rem.withColumn("_lvl", lvl_col)
        nc = F.call_function("shiftleft", F.lit(1).cast("long"), F.col("_lvl"))
    inv_x = nc * F.lit(1.0 / (hix - lox)) if hix > lox else F.lit(0.0)
    inv_y = nc * F.lit(1.0 / (hiy - loy)) if hiy > loy else F.lit(0.0)

    def _cc(v, lo, inv):  # grid cell of v at the row's level, clamped
        g = F.floor((v - F.lit(lo)) * inv)
        return F.greatest(F.lit(0), F.least(nc - 1, g)).cast("long")

    residual = None
    if metric == "haversine":
        lb = haversine_candidate_boxes(
            rem, F.col("r"), id_col="lid", lon_col="px", lat_col="py", keep=keep
        )
        le = lb.select(
            F.col("row_id").alias("left_id"),
            "px",
            "py",
            *keep,
            "minx",
            "maxx",
            _cc(F.col("minx"), lox, inv_x).alias("cx0"),
            _cc(F.col("maxx"), lox, inv_x).alias("cx1"),
            _cc(F.col("miny"), loy, inv_y).alias("cy0"),
            _cc(F.col("maxy"), loy, inv_y).alias("cy1"),
        )
        # segment-containment residual (lon only — the lat band is the
        # same for both wrap segments, so lon alone kills cross-segment
        # duplicates when the inter-segment gap fits inside one cell)
        residual = (F.col("qx") >= F.col("minx")) & (F.col("qx") <= F.col("maxx"))
    else:
        le = rem.select(
            F.col("lid").alias("left_id"),
            "px",
            "py",
            *keep,
            _cc(F.col("px") - F.col("r"), lox, inv_x).alias("cx0"),
            _cc(F.col("px") + F.col("r"), lox, inv_x).alias("cx1"),
            _cc(F.col("py") - F.col("r"), loy, inv_y).alias("cy0"),
            _cc(F.col("py") + F.col("r"), loy, inv_y).alias("cy1"),
        )
    le = (
        le.select("*", F.explode(F.sequence(F.col("cx0"), F.col("cx1"))).alias("cx"))
        .select("*", F.explode(F.sequence(F.col("cy0"), F.col("cy1"))).alias("cy"))
        .withColumn("cell", F.col("cx") * nc.cast("long") + F.col("cy"))
        .drop("cx0", "cx1", "cy0", "cy1", "cx", "cy")
    )
    re = rpts.select(
        F.col("rid").alias("right_id"),
        "qx",
        "qy",
        *([] if one else [F.explode(F.array(*[F.lit(int(v)) for v in levels])).alias("_lvl")]),
    ).withColumn(
        "cell", _cc(F.col("qx"), lox, inv_x) * nc.cast("long") + _cc(F.col("qy"), loy, inv_y)
    )
    # SHUFFLE_HASH on the exploded-lefts side: the partitioned join's
    # build side is the exploded lefts (~9 cells/left), far smaller than
    # the right table per partition — a sort-merge join would SORT all
    # of right by cell, the single most expensive part of the round-0
    # job (measured ~1/3 of the 32M top job). The hint is per-join, so
    # no session-wide preferSortMergeJoin change leaks to other
    # operators; the planner withholds it when the exploded lefts are
    # too big for an unspillable per-partition hash relation (ADVICE r6).
    j = (le.hint(hint) if hint else le).join(re, ["cell"] if one else ["_lvl", "cell"], "inner")
    if residual is not None:
        j = j.filter(residual)
    return j.select("left_id", "right_id", _pair_dist_col(metric).alias("dist"), "r")


def _knn_probe(
    lefts: pd.DataFrame,
    lschema,
    rpts: DataFrame,
    n_slices: int,
    bounds: tuple[float, float, float, float],
    k: int,
    metric: str,
    max_distance: float | None,
    t0: float,
) -> DataFrame:
    """Exact kNN of driver-resident lefts (``lid, px, py``, Spark schema
    ``lschema``) over ``rpts`` (``rid, qx, qy``), one pass per chunk —
    geo-index's partition boxes plus a best-first ``neighbors`` per tree
    (src/rtree/trait.rs:238-302). The rights are Hilbert-range
    partitioned into ``n_slices`` slices (knn_join passes
    ``spark.sql.shuffle.partitions``) and checkpointed; the driver
    collects each slice's box and count and runs the exact partition
    prune of :func:`~geo_index_spark.operators.localbuild.partition_prune`
    for every left. The lefts ride broadcasts of at most
    ``CERT_UPFRONT_MAX_LEFTS`` lefts each, with each slice's left list;
    every chunk is one ``mapInArrow`` over the same slices.
    Each slice task builds one Flatbush and returns, per listed left,
    every right within the slice's kth Flatbush distance grown by the
    numpy/Catalyst headroom — not a box search, whose box around a far
    slice's kth distance holds most of the slice — so ties at the kth
    distance and last-bit differences stay in. The emitted ``dist`` is
    the Catalyst expression of the candidate join (Flatbush ranks by
    ``np.hypot``, which differs in the last bit), and one ``row_number``
    per left by (dist, right_id) over every chunk keeps the top k. One
    ``probe`` record (:func:`_record`, since ``t0``) gives the lefts,
    chunks, slices, rights indexed and mean slices kept per left."""
    import pyarrow as pa
    from pyspark.sql import Window
    from pyspark.sql.types import StructField, StructType

    from geo_index_spark.localindex.flatbush import Flatbush
    from geo_index_spark.operators.localbuild import grow, partition_prune
    from geo_index_spark.operators.partitioning import hilbert_partition

    spark = rpts.sparkSession
    slices = (
        hilbert_partition(rpts, n_slices, bounds=bounds, cols=("qx", "qy"))
        .select("rid", "qx", "qy", F.spark_partition_id().alias("_s"))
        .localCheckpoint()
    )
    stats = (
        slices.groupBy("_s")
        .agg(F.min("qx"), F.min("qy"), F.max("qx"), F.max("qy"), F.count(F.lit(1)))
        .collect()
    )
    boxes = np.array([r[1:5] for r in stats], np.float64)
    counts = np.array([r[5] for r in stats], np.int64)
    px = lefts["px"].to_numpy(np.float64)
    py = lefts["py"].to_numpy(np.float64)
    lt = pa.Table.from_pandas(lefts[["lid", "px", "py"]], preserve_index=False)
    cap = None if max_distance is None else float(grow(max_distance))
    names = ("left_id", "px", "py", "right_id", "qx", "qy")
    fields = [lschema[c] for c in ("lid", "px", "py")] + [
        rpts.schema[c] for c in ("rid", "qx", "qy")
    ]
    schema = StructType([StructField(n, f.dataType) for n, f in zip(names, fields)])

    def probe_fn(bc):  # binds each chunk's broadcast: the plans run after the loop
        def probe(batches):
            batches = list(batches)
            if not batches:
                return
            lt_, sel_ = bc.value
            lx = lt_.column("px").to_numpy()
            ly = lt_.column("py").to_numpy()
            tbl = pa.Table.from_batches(batches)
            s_all = tbl.column("_s").to_numpy()
            for s in np.unique(s_all):
                part = tbl.filter(pa.array(s_all == s))
                x = part.column("qx").to_numpy().astype(np.float64)
                y = part.column("qy").to_numpy().astype(np.float64)
                fb = Flatbush(np.stack([x, y, x, y], axis=1))
                li: list[np.ndarray] = []
                ri: list[np.ndarray] = []
                for i in sel_.get(int(s), ()):
                    ids, d = fb.neighbors(
                        lx[i], ly[i], max_results=k + 1, max_distance=cap, metric=metric
                    )
                    if len(ids) > k:
                        # a (k+1)th right inside the grown kth distance: fetch
                        # every right within it (ties), else the first k
                        b = float(grow(d[k - 1]))
                        ids = ids[:k] if d[k] > b else fb.neighbors(
                            lx[i], ly[i], max_distance=b, metric=metric
                        )[0]
                    li.append(np.full(len(ids), i))
                    ri.append(ids)
                if li:
                    left = lt_.take(np.concatenate(li))
                    right = part.take(np.concatenate(ri))
                    cols = [*left.columns, *(right.column(c) for c in ("rid", "qx", "qy"))]
                    yield pa.RecordBatch.from_arrays(
                        [c.combine_chunks() for c in cols], names=list(names)
                    )

        return probe

    pairs = None
    n_kept = 0
    starts = range(0, max(len(px), 1), CERT_UPFRONT_MAX_LEFTS)
    for c0 in starts:
        cx = px[c0 : c0 + CERT_UPFRONT_MAX_LEFTS]
        cy = py[c0 : c0 + CERT_UPFRONT_MAX_LEFTS]
        sel: dict[int, np.ndarray] = {}
        if stats and len(cx):
            keep = []
            for i in range(0, len(cx), 4096):  # bounds the (lefts, slices) arrays
                lb, radius = partition_prune(
                    boxes, counts, cx[i : i + 4096], cy[i : i + 4096], k, metric, max_distance
                )
                keep.append(lb <= radius[:, None])
            keep = np.concatenate(keep)
            n_kept += int(keep.sum())
            sel = {int(r[0]): np.flatnonzero(keep[:, j]) for j, r in enumerate(stats)}
        bc = spark.sparkContext.broadcast((lt.slice(c0, CERT_UPFRONT_MAX_LEFTS), sel))
        chunk = slices.mapInArrow(probe_fn(bc), schema)
        pairs = chunk if pairs is None else pairs.unionAll(chunk)
    _record(
        "probe",
        t0,
        lefts=len(px),
        chunks=len(starts),
        slices=len(stats),
        rights_indexed=int(counts.sum()),
        mean_slices_per_left=round(n_kept / max(len(px), 1), 3),
    )
    scored = pairs.select("left_id", "right_id", _pair_dist_col(metric).alias("dist"))
    if max_distance is not None:
        scored = scored.filter(F.col("dist") <= F.lit(float(max_distance)))
    w = Window.partitionBy("left_id").orderBy(F.col("dist").asc(), F.col("right_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.lit(int(k)))
        .drop("rn")
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str = "row_id",
    right_id: str = "row_id",
    left_cols: tuple[str, str] = ("x", "y"),
    right_cols: tuple[str, str] = ("x", "y"),
    bounds: tuple[float, float, float, float] | None = None,
    init_radius: float | None = None,
    metric: str = "euclidean",
    max_distance: float | None = None,
    right_count: int | None = None,
) -> DataFrame:
    """EXACT distributed kNN join: for every left point, its ``k``
    nearest right points — (left_id, right_id, dist), per-left ascending
    (dist, right_id); left ids must be unique. ``max_distance`` prunes
    INCLUSIVELY like the reference's ``neighbors``
    (src/rtree/trait.rs:261): each left gets up to k rows with
    dist <= max_distance (possibly fewer, possibly zero). Internally it
    caps the certification radius — once the candidate box covers the
    max_distance ball, every eligible right is a candidate and all
    remaining lefts certify unconditionally. The workhorse the reference
    runs as a per-query loop over ``neighbors``
    (src/rtree/trait.rs:198-302), re-expressed as a bulk operator.

    Every left is answered by one of two executors, and the choice is
    the partition-or-not cost decision of *To Partition, or Not to
    Partition* (SIGMOD 2021) made explicit: a few lefts cannot amortize
    a candidate join, many lefts can. :func:`_knn_probe` partitions and
    indexes the rights once; each left probes a Flatbush in only the
    slices the exact partition prune keeps, and a row_number per left
    takes the top k — exact in one pass, no radius needed. A SMALL left
    side (<= ``CERT_UPFRONT_MAX_LEFTS`` rows, found by one bounded LIMIT
    probe before any density work) goes straight to it.

    A LARGE left side runs two fixed steps. (1) One density round, the
    Simba/Sedona candidate join in pure Catalyst: each left carries its
    own radius column ``r``, is candidate-joined against right within
    its +-r box (point-specialized grid join, :func:`_knn_candidates`),
    takes per-left top-k by window, and is CERTIFIED exact when it has
    k candidates with kth distance <= its r — no right outside the box
    can beat them — or when its r reaches the cover radius. (2) Every
    uncertified left, whatever their count, is collected to the driver
    and answered by :func:`_knn_probe`, over only the rights in the
    coarse cells that the survivors' certified boxes touch (a broadcast
    semi join on the cached right). A survivor's box radius is the
    ring-count bound of :func:`_ring_certified_radii` — the smallest
    coarse cell ring holding >= k rights, a true kth-NN upper bound —
    computed by one numpy call over the coarse prefix sum. The probe
    broadcasts the survivors in chunks of ``CERT_UPFRONT_MAX_LEFTS``.
    Passing ``bounds`` AND ``right_count`` (both free from table
    metadata at production scale) skips the up-front min/max/count pass
    over right entirely; ``right_count`` is a grid-sizing hint only —
    correctness never depends on its accuracy. Ring radii are
    deliberately NOT the big left side's start radii: the ring bound's
    resolution is the coarse grid (~64 rights/cell), so in uniform
    regions it overshoots the density estimate by ~sqrt(cell^2 * 2 /
    (pi k / rho)) — measured ~20x the candidate pairs at 64M/1M-left
    scale — while the density estimate certifies ~99% of lefts at
    ~12-36 candidates each. A grid fine enough (~k rights/cell) to make
    ring radii tight would itself cost a near-singleton-group count
    shuffle (~13M groups at 64M — the round-3 measured pre-loop
    pathology).

    The start radius is PER-LEFT density-adaptive, from two grid
    counts over right: a coarse grid (~64 rows/cell) dilated to a
    3x3-neighborhood sum S (r0 = cell_edge * min(1, sqrt(9k / S))),
    refined by the left's own FINE-cell count when that cell holds
    >= 9k points (r0 = fine_edge * sqrt(3k / count) — the fine
    level is sized for the densest region, so sub-coarse-cell clusters
    read their TRUE density instead of a diluted average; measured
    ~20x radius overshoot -> ~400x candidate blow-up without it). A
    global densest-cell start radius would make SPARSE-area lefts begin
    at the city NN scale.

    The density round buckets lefts by a QUANTIZED per-left grid level
    (cell edge >= the left's box, even levels, <= 7 buckets) — one
    level cannot serve mixed radii: tiny boxes joined at a coarse level
    cross-product whole dense cells, big boxes at a fine level explode
    to thousands of cells. The pure :func:`_plan_buckets` splits the
    buckets between AT MOST TWO candidate joins keyed on (level, cell):
    one broadcasts the exploded lefts of the buckets under its caps
    (coarser levels folded into finer ones) so right is scanned, not
    re-shuffled; one partitioned join takes the rest. The skinny right
    projection is persisted MEMORY_AND_DISK up front, so the bounds
    pass, both density counts, and every broadcast scan read one
    materialization. Each scale decision — the density grid, the round
    plan, the survivors, the tail cellset, the probe — is one INFO
    record on this module's logger (:func:`_record`).

    ``metric="haversine"``: radius in METERS over (lon, lat) degrees;
    candidate boxes use the provably-containing degree expansion of
    :func:`geo_index_spark.operators.join.haversine_candidate_boxes`
    (per-row Column radius), WITH antimeridian wrap — a window crossing
    +-180 becomes two disjoint lon segments — so the certification
    argument (outside the box union implies haversine distance > r)
    holds for any data in [-180, 180] x [-90, 90], and the full-cover
    radius (pi*R -> dlat = dlon = 180) genuinely covers the domain.
    Out-of-range latitudes raise (row-level check in the expansion)."""
    import math

    from pyspark.sql import Window

    from geo_index_spark.operators.join import _shuffle_partitions, choose_grid_level

    t0 = time.perf_counter()
    if metric not in ("euclidean", "haversine"):
        raise ValueError(f"metric must be euclidean|haversine, got {metric!r}")
    # meters per degree at the equator — only a SCALE GUESS for start
    # radii / level choices; certification never depends on it
    DEG_M = 111320.0
    unit = DEG_M if metric == "haversine" else 1.0

    lx, ly = left_cols
    rx, ry = right_cols
    from pyspark import StorageLevel as _SL

    lpts = left.select(
        F.col(left_id).alias("lid"), F.col(lx).alias("px"), F.col(ly).alias("py")
    )
    # persisted up front: the bounds pass, both density counts, and
    # every per-bucket candidate join (broadcast buckets SCAN right)
    # all read this skinny projection — one materialization serves all
    rpts = right.select(
        F.col(right_id).alias("rid"), F.col(rx).alias("qx"), F.col(ry).alias("qy")
    ).persist(_SL.MEMORY_AND_DISK)
    n_shuffle = _shuffle_partitions(lpts.sparkSession)

    def _empty_result() -> DataFrame:
        rpts.unpersist(blocking=False)
        return (
            lpts.limit(0)
            .crossJoin(rpts.limit(0))
            .select(
                F.col("lid").alias("left_id"),
                F.col("rid").alias("right_id"),
                F.lit(0.0).alias("dist"),
            )
        )

    if right_count is not None and bounds is None:
        # the metadata fast path needs BOTH; surface the miss instead of
        # silently recomputing the full min/max/count agg (ADVICE r6)
        import warnings

        warnings.warn(
            "knn_join: right_count is only used together with bounds — "
            "pass bounds too to skip the min/max/count pass over right",
            stacklevel=2,
        )
    if bounds is not None and right_count is not None and right_count > 0:
        # metadata fast path: when the caller knows the domain AND the
        # right cardinality (at production scale both come free from
        # table metadata), the min/max/count pass over right is skipped
        # — the density-count groupBy below becomes the first full pass
        # and materializes the cache while doing useful work. The value
        # only SIZES the density grid (gd is a ~64-rows/cell heuristic);
        # correctness never depends on it — an overstated count just
        # picks a finer grid, an understated one a coarser grid, and an
        # actually-empty right converges to zero rows through the
        # density round and the probe.
        n_right = int(right_count)
    else:
        ragg = rpts.agg(
            F.min("qx"), F.min("qy"), F.max("qx"), F.max("qy"), F.count(F.lit(1))
        ).first()
        n_right = ragg[4]
        if n_right == 0:
            # k nearest of nothing is nothing — every left yields zero rows
            return _empty_result()
        if bounds is None:
            lagg = lpts.agg(
                F.min("px"), F.min("py"), F.max("px"), F.max("py")
            ).first()
            if lagg[0] is None:  # empty left table
                return _empty_result()
            bounds = (
                min(ragg[0], lagg[0]),
                min(ragg[1], lagg[1]),
                max(ragg[2], lagg[2]),
                max(ragg[3], lagg[3]),
            )
    bounds = tuple(float(b) for b in bounds)
    ext = max(bounds[2] - bounds[0], bounds[3] - bounds[1], 1e-12)

    # radius covering the whole domain: every right point is a candidate.
    # With max_distance, covering the max_d ball is just as final: the
    # dist <= max_d residual makes the candidate set complete, so the
    # cover radius shrinks to max_distance (same unconditional certify).
    cover_r = math.pi * EARTH_RADIUS_M if metric == "haversine" else ext
    if max_distance is not None:
        cover_r = min(cover_r, float(max_distance))
    r_floor = cover_r / (1 << 20)

    # coarse density grid over right (~64 rows/cell on average)
    gd = min(12, max(2, round(math.log2(max(n_right, 1) / 64.0) / 2.0)))
    nc_d = 1 << gd
    cell_d = ext / nc_d

    def _grid_cell(nc, cell):
        # clamped cell index of coordinate c on an nc-cell axis from lo
        return lambda c, lo: F.least(
            F.lit(nc - 1),
            F.greatest(F.lit(0), F.floor((c - F.lit(lo)) / F.lit(cell))),
        ).cast("long")

    _coarse_cell = _grid_cell(nc_d, cell_d)

    def _coarse_counts() -> DataFrame:  # (ccx, ccy, cnt) per occupied cell
        return rpts.groupBy(
            _coarse_cell(F.col("qx"), bounds[0]).alias("ccx"),
            _coarse_cell(F.col("qy"), bounds[1]).alias("ccy"),
        ).agg(F.count(F.lit(1)).alias("cnt"))

    C_df = None  # coarse per-cell counts, when materialized below

    def _cell_prefix_np():
        # (nc_d+1)^2 2-D prefix sum of the coarse per-cell right counts
        # — reuses the checkpointed density table when it exists, else
        # one tiny count job on the cached skinny right projection. The
        # array is BOUNDED by the gd <= 12 cap ((4097)^2 int64 =
        # 134 MB worst, ~8 MB at the 64M shape) independent of |right|.
        src = C_df if C_df is not None else _coarse_counts()
        pdf = src.toPandas()  # Arrow path: ~1M cells at gd=10 in <1 s
        P = np.zeros((nc_d + 1, nc_d + 1), dtype=np.int64)
        P[pdf["ccx"].to_numpy() + 1, pdf["ccy"].to_numpy() + 1] = pdf["cnt"].to_numpy()
        return P.cumsum(axis=0).cumsum(axis=1)

    # the index probe's arguments after (lefts, their schema, rights)
    probe_args = (n_shuffle, bounds, k, metric, max_distance, t0)
    if init_radius is not None:
        r0 = F.lit(min(max(float(init_radius), r_floor), cover_r))
        remaining = lpts.select("lid", "px", "py", r0.alias("r"))
    else:
        # bounded probe instead of a full lpts.count() (ADVICE r5): a
        # LIMIT of threshold+1 rows decides the branch, and when the
        # left IS small the probe already holds every row — reuse it
        # and skip the second collect entirely.
        probe_pdf = lpts.limit(CERT_UPFRONT_MAX_LEFTS + 1).toPandas()
        if len(probe_pdf) <= CERT_UPFRONT_MAX_LEFTS:
            # small left side: one exact index-probe pass — no density
            # counts, no ring radii, no rounds
            out = _knn_probe(probe_pdf, lpts.schema, rpts, *probe_args)
            rpts.unpersist(blocking=False)
            return out
        else:
            # per-cell right counts, materialized once (reused by the max
            # agg AND the neighborhood dilation — one pass over right, and
            # the table is bounded by 4^12 cells regardless of |right|)
            C = C_df = _coarse_counts().localCheckpoint()
            # ONE tiny job on checkpointed C serves both the max-count
            # (densest-cell radius scale) and the dense-cell count that
            # previously ran as a second job
            crow = C.agg(
                F.max("cnt").alias("mx"),
                F.sum((F.col("cnt") >= 512).cast("long")).alias("nd"),
            ).first()
            mx = crow["mx"] or 1
            n_dense = int(crow["nd"] or 0)
            dense_r = cell_d * math.sqrt(float(k) / max(float(mx), 1.0)) * unit
            # 3x3-neighborhood sum: dilate C by the 9 offsets, re-aggregate,
            # then each left looks up its OWN cell — lefts stay un-exploded
            offs = F.array(
                *[
                    F.struct(
                        (F.col("ccx") + F.lit(dx)).alias("ncx"),
                        (F.col("ccy") + F.lit(dy)).alias("ncy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
            N = (
                C.select("cnt", F.explode(offs).alias("_o"))
                .groupBy(F.col("_o.ncx").alias("ncx"), F.col("_o.ncy").alias("ncy"))
                .agg(F.sum("cnt").alias("S"))
            )
            if nc_d <= 1024:
                # <= (1026)^2 dilated cells = a few MB — broadcast so the
                # per-left density lookup below never shuffles the lefts
                # (the planner has no row estimate for a post-explode
                # aggregate and falls back to a sort-merge join)
                N = F.broadcast(N)
            # FINE refinement: the coarse estimate dilutes clusters much
            # smaller than a coarse cell (a 0.2-degree city inside a
            # 1.4-degree cell reads ~20x too sparse -> radii ~20x too big ->
            # ~400x candidate blow-up, measured). A second count at the
            # fine level sized for the densest region fixes exactly that
            # case: when the left's OWN fine cell holds enough points the
            # fine-scale estimate wins; otherwise the dilated coarse
            # neighborhood estimate stands.
            f_level = choose_grid_level(bounds, 2 * dense_r / unit, 2 * dense_r / unit)
            nc_f = 1 << f_level
            cell_f = ext / nc_f
            _fine_cell = _grid_cell(nc_f, cell_f)

            # only DENSE coarse cells feed the fine count: elsewhere the
            # fine grid (sized for the densest region) holds ~0-1 points
            # per cell, and aggregating those would shuffle one near-
            # singleton group per right row (~13M groups at 64M, measured
            # as the dominant pre-loop cost and a poorly-scaling one). A
            # coarse cell averaging 64 rows by construction, 512+ marks a
            # genuine cluster; the mildly-dense cells this skips lose only
            # a mildly-diluted coarse estimate (a few more survivors for
            # the probe at worst).
            dense_cells = C.filter(F.col("cnt") >= 512).select("ccx", "ccy")
            if n_dense <= 500_000:
                dense_cells = F.broadcast(dense_cells)
            Cf = None
            # the fine count is a density HINT only (radius sizing —
            # certification never reads it), so at large |right| an
            # eighth-rate deterministic sample with counts scaled back
            # up gives the same radii to within a few percent while the
            # fine-count aggregation hashes 8x fewer rows (the dense
            # regions are >= 512 rows/coarse cell by construction, so a
            # trusted fine cell still samples >= ~100 rows). Small
            # rights keep exact counts — fixture-scale estimates would
            # otherwise be noise.
            cf_rate = 0.125 if n_right >= 4_000_000 else 1.0
            cf_src = rpts if cf_rate >= 1.0 else rpts.sample(
                fraction=cf_rate, seed=7
            )
            _record(
                "density_grid",
                t0,
                n_right=n_right,
                level=gd,
                cell=cell_d,
                max_cell_rights=mx,
                dense_cells=n_dense,
                dense_r=dense_r,
                fine_level=f_level,
                fine_sample=cf_rate,
            )
            if n_dense:  # no dense cells -> skip the fine pass entirely
                Cf = (
                    cf_src.join(
                        dense_cells,
                        (_coarse_cell(F.col("qx"), bounds[0]) == F.col("ccx"))
                        & (_coarse_cell(F.col("qy"), bounds[1]) == F.col("ccy")),
                        "left_semi",
                    )
                    .groupBy(
                        (
                            _fine_cell(F.col("qx"), bounds[0]) * F.lit(nc_f)
                            + _fine_cell(F.col("qy"), bounds[1])
                        ).alias("fcell")
                    )
                    .agg((F.count(F.lit(1)) / F.lit(cf_rate)).alias("fcnt"))
                )
            lcell = lpts.select(
                "lid",
                "px",
                "py",
                _coarse_cell(F.col("px"), bounds[0]).alias("_lcx"),
                _coarse_cell(F.col("py"), bounds[1]).alias("_lcy"),
                (
                    _fine_cell(F.col("px"), bounds[0]) * F.lit(nc_f)
                    + _fine_cell(F.col("py"), bounds[1])
                ).alias("_lfc"),
            )
            joined = lcell.join(
                N,
                (F.col("_lcx") == F.col("ncx")) & (F.col("_lcy") == F.col("ncy")),
                "left",
            )
            if Cf is not None:
                joined = joined.join(Cf, F.col("_lfc") == F.col("fcell"), "left")
            else:
                joined = joined.withColumn("fcnt", F.lit(None).cast("long"))
            # sizing math (Poisson): a radius r has expected ball count
            # m = rho*pi*r^2; certifying needs >= k in the ball, so aim for
            # m ~ pi*k (P(<k) < 1% at k=3) while keeping box candidates
            # (4/pi*m per left) small. fine: r = cell_f*sqrt(3k/S_f) gives
            # m = 3*pi*k (~28 at k=3, certifies, ~36 candidates/left).
            # coarse (S = 3x3 neighborhood sum, rho = S/(9*cell^2)):
            # r = cell*sqrt(9k/S) gives m = pi*k — the earlier sqrt(3k/S)
            # read m = pi*k/3 ~ 3 and FAILED ~60% of uniform lefts.
            s = F.coalesce(F.col("S"), F.lit(0)).cast("double")
            sf = F.coalesce(F.col("fcnt"), F.lit(0)).cast("double")
            three_k = F.lit(3.0 * float(k))
            r0_coarse = F.lit(cell_d) * F.least(
                F.lit(1.0), F.sqrt(F.lit(9.0 * float(k)) / F.greatest(s, F.lit(1.0)))
            )
            # trust the fine cell only from 9k points up: cells in the
            # 3k..9k band are mostly cluster EDGES, where the cell's count
            # is real but the left's k-th neighbor lies outside the cluster
            # — the tiny fine radius then fails the density round (measured)
            r0_fine = F.lit(cell_f) * F.sqrt(three_k / sf)
            r0 = F.when(
                sf >= F.lit(9.0 * float(k)), F.least(r0_fine, r0_coarse)
            ).otherwise(r0_coarse)
            r0 = F.least(F.greatest(r0 * F.lit(unit), F.lit(r_floor)), F.lit(cover_r))
            remaining = joined.select("lid", "px", "py", r0.alias("r"))
    # lazy checkpoint: the bucket-stats job below materializes it, so
    # init costs ONE barrier (checkpoint+stats fused), not two.
    # The skinny (lid, px, py, r) frame is coalesced to the scheduler's
    # default parallelism first: the density plan inherits the full
    # shuffle width from its exchanges, and every later consumer
    # (bucket stats, the candidate join, the survivors' anti join)
    # would otherwise launch that many near-empty tasks per job —
    # measured ~2 s per job of pure task launch at 256 partitions for a
    # 250k-row frame. defaultParallelism scales with the cluster, so
    # this is not a local-mode constant.
    dp = max(1, lpts.sparkSession.sparkContext.defaultParallelism)
    remaining = remaining.coalesce(dp).localCheckpoint(eager=False)

    # PER-LEFT grid level: one level cannot serve mixed radii (tiny
    # boxes in a coarse cell cross-product the whole cell's cluster; big
    # boxes at a fine level explode to thousands of cells). Quantize
    # each left's level (cell edge >= its box, even levels only -> <= 7
    # buckets); _plan_buckets splits the buckets between one broadcast
    # and one partitioned candidate join.
    ext_u = ext * unit
    lvl_col = F.least(
        F.lit(16),
        F.greatest(
            F.lit(4),
            F.lit(2)
            # try_divide: r = 0 (max_distance=0) reads NULL -> level 4
            * F.floor(F.log2(F.try_divide(F.lit(ext_u), F.col("r") * 2.0)) / F.lit(2.0)),
        ),
    ).cast("int")
    buckets = sorted(
        (row["_lvl"], row["cnt"], row["rmx"])
        for row in remaining.groupBy(lvl_col.alias("_lvl"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("r").alias("rmx"))
        .collect()
    )
    if not buckets:  # empty left table
        return _empty_result()

    try:
        plan = _plan_buckets(buckets, ext_u, n_shuffle)
        _record("round_plan", t0, buckets=buckets, **plan._asdict())
        lvl_mapped = lvl_col
        if plan.remap:
            lvl_mapped = F.coalesce(
                *[
                    F.when(lvl_col == F.lit(int(s_)), F.lit(int(d_)))
                    for s_, d_ in plan.remap.items()
                ],
                lvl_col,
            )
        cand = None
        for lvls, hint in (
            (plan.bcast_levels, "broadcast"),
            (plan.part_levels, "SHUFFLE_HASH" if plan.shuffle_hash else None),
        ):
            if lvls:
                c = _knn_candidates(
                    remaining.filter(lvl_mapped.isin(lvls)),
                    rpts,
                    bounds,
                    lvls,
                    lvl_mapped,
                    metric,
                    hint,
                )
                cand = c if cand is None else cand.unionAll(c)
        scored = cand
        if max_distance is not None:
            scored = scored.filter(F.col("dist") <= F.lit(float(max_distance)))
        # dist <= r prefilter: a left that certifies has dk <= r, so its
        # top-k all survive and c == k still fires; a left that does not
        # goes to the probe either way. The window input shrinks from
        # every candidate of the box cells (~10x the ball) to ~the
        # in-ball counts — measured at 32M: 163M -> ~the ball's rows, the
        # window sort ~8 s -> ~2 s. Full-cover lefts are exempt: their
        # true kth-NN may exceed r = cover_r (e.g. the domain diagonal),
        # and their box already holds everything.
        scored = scored.filter(
            (F.col("r") >= F.lit(cover_r)) | (F.col("dist") <= F.col("r"))
        )
        # one window shuffle does top-k AND certification: rn for the
        # top-k cut, then count/kth-dist over the same partitioning (no
        # extra exchange), certify row-local
        w_ord = Window.partitionBy("left_id").orderBy(
            F.col("dist").asc(), F.col("right_id").asc()
        )
        w_all = Window.partitionBy("left_id")
        top = (
            scored.withColumn("rn", F.row_number().over(w_ord))
            .filter(F.col("rn") <= F.lit(int(k)))
            .withColumn("c", F.count(F.lit(1)).over(w_all))
            .withColumn("dk", F.max("dist").over(w_all))
        )
        certified = (
            (F.col("c") == F.lit(int(k))) & (F.col("dk") <= F.col("r"))
        ) | (F.col("r") >= F.lit(cover_r))
        t_top = time.perf_counter()
        top = top.localCheckpoint()  # the ONE heavy job
        top_s = time.perf_counter() - t_top
        out = top.filter(certified).select("left_id", "right_id", "dist")
        done = top.filter(certified).select("left_id")
        if sum(c for _, c, _ in buckets) * k <= 2_000_000:
            # the certified-id list holds up to k rows per left —
            # broadcast it while lefts * k stays small, so the anti join
            # below probes a hash relation instead of exchanging BOTH
            # sides across the full shuffle width (two 256-task
            # exchanges measured ~2.7 s at 16M for ~250k-row inputs)
            done = F.broadcast(done)
        # full-cover lefts certify even with < k (or zero) candidates —
        # the r < cover filter drops them whether or not they produced
        # rows; everyone else that certified leaves via the anti join.
        # The survivors saw < k candidates within r (the prefilter makes
        # c == k imply dk <= r) and go to the exact probe.
        tail = (
            remaining.filter(F.col("r") < F.lit(cover_r))
            .join(done, F.col("lid") == F.col("left_id"), "left_anti")
            .select("lid", "px", "py")
            .toPandas()
        )
        _record("survivors", t0, survivors=len(tail), top_job_s=round(top_s, 3))
        if len(tail):
            # the probe reads only the rights in the coarse cells that
            # the survivors' CERTIFIED boxes touch (a broadcast semi join
            # on the cached right), so it indexes ~the survivors'
            # neighborhoods instead of all of right. Each radius is the
            # prefix-sum ring bound of _ring_certified_radii — the
            # smallest coarse cell ring holding >= k rights, a true
            # kth-NN upper bound — so every true neighbor lies inside its
            # left's box, and the cellset covers every box. Haversine
            # builds its cellset from the wrapped geo_query_window degree
            # segments — the SAME min-cos identity haversine_box_expand
            # uses — so the cellset covers every box, dateline wrap
            # included (VERDICT r5 Next #4).
            from geo_index_spark.operators.search import geo_query_window

            px, py = (tail[c].to_numpy(np.float64) for c in ("px", "py"))
            tail["r"] = r = _ring_certified_radii(
                _cell_prefix_np(), nc_d, cell_d, bounds, px, py, k, metric, cover_r, r_floor
            )
            if metric == "euclidean":
                boxes = np.column_stack([px - r, py - r, px + r, py + r])
            else:
                boxes = np.array(
                    [
                        (lo, y - dlat, hi, y + dlat)
                        for x, y, rr in zip(px, py, r)
                        for dlat, segs in [geo_query_window(x, y, rr)]
                        for lo, hi in segs
                    ]
                )
            cells = _box_cells(boxes, bounds[0], bounds[1], cell_d, nc_d)
            _record("tail_cellset", t0, lefts=len(tail), cells=len(cells), grid_cells=nc_d * nc_d)
            rpts_src = rpts
            if len(cells) <= 60_000:  # else too big to ship as a filter: read all rights
                # broadcast SEMI JOIN, not isin(): a >1k-element InSet
                # probes a boxed scala HashSet per row — measured ~10 s
                # of the tail's 12 s scan over 32M cached rights.
                # BroadcastHashJoin probes a native long-keyed relation
                # inside whole-stage codegen instead.
                ccell = (
                    _coarse_cell(F.col("qx"), bounds[0]) * F.lit(nc_d)
                    + _coarse_cell(F.col("qy"), bounds[1])
                )
                cells_df = rpts.sparkSession.createDataFrame(
                    [(int(c),) for c in cells], "ccell long"
                )
                rpts_src = rpts.join(
                    F.broadcast(cells_df), ccell == F.col("ccell"), "left_semi"
                )
            out = out.unionAll(_knn_probe(tail, lpts.schema, rpts_src, *probe_args))
    finally:
        rpts.unpersist(blocking=False)
    return out


def knn_join_sql(
    k: int,
    left_sql: str,
    right_sql: str,
    left_id: str = "left_id",
    right_id: str = "right_id",
    metric: str = "euclidean",
    max_distance: float | None = None,
) -> str:
    """DuckDB mirror of :func:`knn_join` (brute-force cross join +
    window — oracle scale only). ``left_sql``/``right_sql`` must yield
    (id, x, y). Same distance expression order and the same
    (dist, right_id) row_number tiebreak."""
    if metric == "haversine":
        dist = (
            "2.0 * 6378137.0 * asin(sqrt(least(1.0,"
            " pow(sin(radians(r.y - l.y)/2), 2)"
            " + cos(radians(l.y)) * cos(radians(r.y)) * pow(sin(radians(r.x - l.x)/2), 2)"
            ")))"
        )
    else:
        dist = "sqrt((l.x - r.x)*(l.x - r.x) + (l.y - r.y)*(l.y - r.y))"
    return f"""
    WITH l AS ({left_sql}), r AS ({right_sql}),
    scored AS (
      SELECT l.id AS {left_id}, r.id AS {right_id},
             {dist} AS dist,
             row_number() OVER (
               PARTITION BY l.id
               ORDER BY {dist} ASC, r.id ASC
             ) AS rn
      FROM l CROSS JOIN r
    )
    SELECT {left_id}, {right_id}, round(dist, 6) AS dist_r
    FROM scored WHERE rn <= {int(k)}{'' if max_distance is None else f' AND dist <= {float(max_distance)!r}'}
    """


def knn_geometry_sql(
    vertices: list[list[float]],
    k: int,
    points_sql: str,
    geom_type: str = "polyline",
    point_id: str = "event_id",
) -> str:
    """DuckDB mirror of :func:`knn_geometry`: identical per-edge clamp
    distance with dx/dy/l2 pre-folded to the same Python doubles, min
    via n-ary least(), polygon inside via the same ray-cast parity —
    expression order matches :func:`geom_distance_col` term for term,
    so IEEE doubles agree exactly."""
    edges = _geom_edges(vertices, geom_type)
    d2s = []
    for (x1, y1, x2, y2) in edges:
        dx, dy = x2 - x1, y2 - y1
        l2 = dx * dx + dy * dy
        if l2 == 0.0:
            d2s.append(f"((p.x - {x1!r})*(p.x - {x1!r}) + (p.y - {y1!r})*(p.y - {y1!r}))")
            continue
        t = f"least(1.0, greatest(0.0, ((p.x - {x1!r})*{dx!r} + (p.y - {y1!r})*{dy!r}) / {l2!r}))"
        cx = f"({x1!r} + {t}*{dx!r})"
        cy = f"({y1!r} + {t}*{dy!r})"
        d2s.append(f"((p.x - {cx})*(p.x - {cx}) + (p.y - {cy})*(p.y - {cy}))")
    mind2 = f"least({', '.join(d2s)})" if len(d2s) > 1 else d2s[0]
    dist = f"sqrt({mind2})"
    if geom_type == "polygon":
        cs = []
        for (x1, y1, x2, y2) in edges:
            if y1 == y2:
                continue
            xin = f"({x2 - x1!r} * (p.y - {y1!r}) / {y2 - y1!r} + {x1!r})"
            cs.append(
                f"(CASE WHEN (({y1!r} > p.y) <> ({y2!r} > p.y)) AND p.x < {xin}"
                f" THEN 1 ELSE 0 END)"
            )
        if cs:
            dist = f"(CASE WHEN ({' + '.join(cs)}) % 2 = 1 THEN 0.0 ELSE {dist} END)"
    return f"""
    WITH p AS ({points_sql})
    SELECT {point_id}, round({dist}, 6) AS dist_r
    FROM p ORDER BY {dist} ASC, {point_id} ASC LIMIT {int(k)}
    """


def knn(
    df: DataFrame,
    qx: float,
    qy: float,
    k: int,
    metric: str = "euclidean",
    max_distance: float | None = None,
    cols: tuple[str, str] = ("x", "y"),
    id_col: str = "row_id",
    prefilter_radius: float | None = None,
) -> DataFrame:
    """Top-k rows by (distance, id). Returns input columns + ``dist``.
    ``max_distance`` / ``prefilter_radius`` are in the metric's units
    (coordinate units for euclidean, METERS for haversine); either one
    turns the scan into a pushed-down window prune (haversine uses the
    antimeridian-wrapped degree box)."""
    x, y = (F.col(c) for c in cols)
    if metric == "euclidean":
        d = euclidean_dist_col(x, y, qx, qy)
    elif metric == "haversine":
        d = haversine_dist_col(x, y, qx, qy)
    else:
        raise ValueError(f"unknown metric {metric}")
    out = df
    radius = prefilter_radius
    if max_distance is not None:
        radius = max_distance if radius is None else min(radius, max_distance)
    if radius is not None:
        # pushed-down window — prunes Hilbert-clustered row groups.
        # euclidean: coordinate-unit bbox; haversine: the literal
        # degree-box (meters radius, antimeridian-wrapped OR) shared
        # with within_geo — the prune that makes radius-capped geo kNN
        # a partial scan instead of a full one.
        if metric == "euclidean":
            out = out.filter(
                (x >= F.lit(qx - radius))
                & (x <= F.lit(qx + radius))
                & (y >= F.lit(qy - radius))
                & (y <= F.lit(qy + radius))
            )
        else:
            from geo_index_spark.operators.search import geo_prefilter_pred

            out = out.filter(geo_prefilter_pred(x, y, qx, qy, radius))
    out = out.withColumn("dist", d)
    if max_distance is not None:
        out = out.filter(F.col("dist") <= F.lit(float(max_distance)))
    return out.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(int(k))
