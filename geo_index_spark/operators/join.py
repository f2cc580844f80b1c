"""Spatial intersection-candidate join — the distributed re-expression
of the reference's dual-tree join (reference
src/rtree/traversal.rs:262-370, python/src/rtree/intersection.rs:14-38).

Output contract (X4): DataFrame ``(left_id: long, right_id: long)`` —
every pair whose boxes overlap inclusively; row-set equality is the
parity contract (the reference compares as a set,
src/rtree/traversal.rs:476-482).

Plan (pure Catalyst — zero Python at any scale):

1. Overlay a uniform grid (2^level x 2^level cells) over the combined
   bounds. Each box is assigned to every cell it overlaps via
   ``explode(sequence(cx0, cx1)) x explode(sequence(cy0, cy1))`` —
   JVM-side generators, no UDF.
2. Equi-join on ``cell`` plus the residual inclusive-overlap predicate.
   Catalyst picks BroadcastHashJoin when one exploded side is small
   (or when ``broadcast_side`` forces it) and ShuffledHashJoin /
   SortMergeJoin otherwise; AQE splits skewed cells at runtime
   (dense-city tiles) — set ``salt`` for extra-hot cells.
3. De-dup without a shuffle: a pair meeting in several cells is emitted
   only from its *reference cell* — the cell containing the lower-left
   corner of the boxes' intersection ``(max(l.minx,r.minx),
   max(l.miny,r.miny))``. That corner lies in both boxes, so exactly
   one surviving copy exists; the rule is a cheap row-local predicate
   instead of a ``dropDuplicates`` shuffle.

The dual-tree descent of the reference is an *algorithmic* pruning of
the same candidate set; the grid + residual predicate computes the
identical set with Spark's shuffle machinery doing the pruning. A
local packed-tree probe (localindex.Flatbush.search_batch) remains
available for the broadcast path when one side fits in memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BOX = ("minx", "miny", "maxx", "maxy")

# spatial_join auto-hint scale guard: estimated build-side bytes per
# shuffle partition above which the SHUFFLE_HASH hint is withheld (the
# per-partition hash relation cannot spill; sort-merge wins past this —
# see the measurement note at the hint site)
SHUFFLE_HASH_BUILD_BUDGET = 2 * 1024 * 1024


def _cell_coord(v: Column, lo: float, inv_w: float, nc: int) -> Column:
    """Grid cell index of coordinate v, clamped to [0, nc-1]."""
    g = F.floor((v - F.lit(lo)) * F.lit(inv_w))
    return F.greatest(F.lit(0), F.least(F.lit(nc - 1), g)).cast("long")


def _with_cells(
    df: DataFrame,
    id_col: str,
    bounds: tuple[float, float, float, float],
    nc: int,
    cols: tuple[str, str, str, str],
    prefix: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    lox, loy, hix, hiy = bounds
    inv_wx = nc / (hix - lox) if hix > lox else 0.0
    inv_wy = nc / (hiy - loy) if hiy > loy else 0.0
    mnx, mny, mxx, mxy = (F.col(c) for c in cols)
    out = df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        mnx.alias(f"{prefix}_minx"),
        mny.alias(f"{prefix}_miny"),
        mxx.alias(f"{prefix}_maxx"),
        mxy.alias(f"{prefix}_maxy"),
        *[F.col(k).alias(f"{prefix}_{k}") for k in keep],
        _cell_coord(mnx, lox, inv_wx, nc).alias("cx0"),
        _cell_coord(mxx, lox, inv_wx, nc).alias("cx1"),
        _cell_coord(mny, loy, inv_wy, nc).alias("cy0"),
        _cell_coord(mxy, loy, inv_wy, nc).alias("cy1"),
    )
    out = out.select(
        "*",
        F.explode(F.sequence(F.col("cx0"), F.col("cx1"))).alias("cx"),
    ).select(
        "*",
        F.explode(F.sequence(F.col("cy0"), F.col("cy1"))).alias("cy"),
    )
    return out.withColumn("cell", F.col("cx") * F.lit(nc) + F.col("cy")).drop(
        "cx0", "cx1", "cy0", "cy1"
    )


def _side_stats(
    df: DataFrame, cols, need_avg: bool = True
) -> tuple[float, float, float, float, float, float]:
    mnx, mny, mxx, mxy = (F.col(c) for c in cols)
    aggs = [
        F.min(mnx).alias("a"),
        F.min(mny).alias("b"),
        F.max(mxx).alias("c"),
        F.max(mxy).alias("d"),
    ]
    if need_avg:  # avg box edge only feeds choose_grid_level — skip when
        # the caller fixed grid_level (smaller agg, same one job)
        aggs += [F.avg(mxx - mnx).alias("w"), F.avg(mxy - mny).alias("h")]
    r = df.agg(*aggs).first()
    if not need_avg:
        return (r["a"], r["b"], r["c"], r["d"], 0.0, 0.0)
    return (r["a"], r["b"], r["c"], r["d"], r["w"] or 0.0, r["h"] or 0.0)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own driver-side size estimate of a frame (no job).
    None when the JVM call fails (estimate unavailable)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions``; 200 (Spark's default) when the
    conf is not a number ("auto" on some platforms)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 200


def _auto_broadcast_threshold(spark) -> int:
    try:
        raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")).lower()
        raw = raw.rstrip("b")
        if raw and raw[-1] in "kmg":
            mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}[raw[-1]]
            return int(float(raw[:-1]) * mult)
        return int(raw)
    except Exception:
        return 10 * 1024 * 1024


def choose_grid_level(
    bounds: tuple[float, float, float, float], avg_w: float, avg_h: float
) -> int:
    """Planner heuristic: cell edge ~ 4x the mean box edge, so a box
    lands in 1-2 cells per axis while dense clusters still split across
    many cells (the per-cell nested-loop stays small). Clamped to
    [4, 16]."""
    import math

    ext = max(bounds[2] - bounds[0], bounds[3] - bounds[1])
    target = max(avg_w, avg_h) * 4.0
    if ext <= 0:
        return 4
    if target <= 0:
        # degenerate/point inputs: aim for ~1e-4 of the extent per cell
        return 13
    return max(4, min(16, round(math.log2(ext / target))))


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "row_id",
    right_id: str = "row_id",
    left_cols: tuple[str, str, str, str] = BOX,
    right_cols: tuple[str, str, str, str] = BOX,
    bounds: tuple[float, float, float, float] | None = None,
    grid_level: int | None = None,
    broadcast_side: str | None = None,  # 'left' | 'right' | None (let Catalyst/AQE pick)
    salt: int = 1,
    keep_left: tuple[str, ...] = (),
    keep_right: tuple[str, ...] = (),
    join_hint: str | None = "auto",
) -> DataFrame:
    """All (left_id, right_id) pairs with inclusively-overlapping boxes.
    ``grid_level=None`` auto-sizes the grid from one stats pass per side.

    ``salt > 1`` splits every join key ``salt`` ways for mega-hot cells
    (beyond what AQE skew-split handles): the left side gets a
    deterministic salt ``xxhash64(id) % salt`` and the right side is
    replicated ``salt`` times, so a cell's cross product spreads over
    ``salt`` reducers at the cost of replicating the right rows.

    ``join_hint`` picks the cell equi-join strategy when no side is
    broadcast (guide §3.1): ``"auto"`` (default) applies a
    ``SHUFFLE_HASH`` hint on the right side ONLY when Catalyst's own
    driver-side size estimates say BOTH raw inputs exceed the session
    autoBroadcastJoinThreshold — a sort-merge join would then sort both
    exploded sides by cell, measured ~1.4-2x slower than building
    per-partition hash maps at the 16M self-join, while any
    broadcastable side keeps the planner's BroadcastHashJoin (a
    strategy hint would otherwise preempt size-based broadcast).
    ``"shuffle_hash"`` forces the hint; ``None``/``"sort_merge"`` leaves
    the planner default. The hash build is per-partition (AQE skew
    split still applies); pass ``None`` if a single cell's rows may not
    fit executor memory."""
    if bounds is None or grid_level is None:
        # self-joins compute side stats once; two-sided inputs run one
        # small agg per side (a fused union+groupBy variant was A/B'd
        # in r7 and lost ~0.1 s warm to extra codegen at bench scale)
        same_side = left is right and left_cols == right_cols
        ls = _side_stats(left, left_cols, need_avg=grid_level is None)
        rs = ls if same_side else _side_stats(
            right, right_cols, need_avg=grid_level is None
        )
        if bounds is None:
            bounds = (
                min(ls[0], rs[0]),
                min(ls[1], rs[1]),
                max(ls[2], rs[2]),
                max(ls[3], rs[3]),
            )
        if grid_level is None:
            grid_level = choose_grid_level(
                bounds, max(ls[4], rs[4]), max(ls[5], rs[5])
            )
    nc = 1 << grid_level
    lox, loy, hix, hiy = (float(b) for b in bounds)
    inv_wx = nc / (hix - lox) if hix > lox else 0.0
    inv_wy = nc / (hiy - loy) if hiy > loy else 0.0

    le = _with_cells(left, left_id, bounds, nc, left_cols, "l", keep_left)
    re = _with_cells(right, right_id, bounds, nc, right_cols, "r", keep_right)
    if broadcast_side == "left":
        le = F.broadcast(le)
    elif broadcast_side == "right":
        re = F.broadcast(re)
    elif join_hint == "shuffle_hash":
        re = re.hint("SHUFFLE_HASH")
    elif join_hint == "auto":
        thr = _auto_broadcast_threshold(left.sparkSession)
        lsz = _plan_size_bytes(left)
        rsz = lsz if right is left else _plan_size_bytes(right)
        n_part = _shuffle_partitions(left.sparkSession)
        if (
            lsz is not None
            and rsz is not None
            and lsz > thr
            and rsz > thr
            and rsz * salt <= SHUFFLE_HASH_BUILD_BUDGET * n_part
        ):
            # neither raw side can broadcast, so the planner would fall
            # back to sorting both exploded sides; build hash maps from
            # the right (point/smaller-by-convention) side instead.
            # Scale guard: the shuffled-hash build side is an
            # UNSPILLABLE per-partition hash relation — only hint while
            # the estimated build bytes per shuffle partition stay
            # small; salt > 1 replicates the right side salt times, so
            # the build is rsz * salt. Interleaved min-of-4 A/B on the
            # synth self-join (clean windows): 16M rows (1.5 MB/partition)
            # SHJ 3.34 s vs SMJ 3.78 s; 32M (3 MB) SMJ 7.9 vs SHJ 8.8; 64M
            # (6 MB) SMJ 19.1 vs SHJ 26.4 with heavy GC variance — past
            # the budget, sort-merge spills gracefully and wins.
            re = re.hint("SHUFFLE_HASH")

    le = le.withColumnRenamed("cx", "l_cx").withColumnRenamed("cy", "l_cy")
    re = re.drop("cx", "cy")

    join_keys = ["cell"]
    if salt > 1:
        le = le.withColumn("_salt", F.pmod(F.xxhash64(F.col("l_id")), F.lit(salt)))
        re = re.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0).cast("long"), F.lit(salt - 1).cast("long"))),
        )
        join_keys = ["cell", "_salt"]

    overlap = (
        (F.col("l_minx") <= F.col("r_maxx"))
        & (F.col("l_maxx") >= F.col("r_minx"))
        & (F.col("l_miny") <= F.col("r_maxy"))
        & (F.col("l_maxy") >= F.col("r_miny"))
    )
    # reference-cell rule: the joined cell must contain the lower-left
    # corner of the intersection of the two boxes
    ref_cx = _cell_coord(F.greatest(F.col("l_minx"), F.col("r_minx")), lox, inv_wx, nc)
    ref_cy = _cell_coord(F.greatest(F.col("l_miny"), F.col("r_miny")), loy, inv_wy, nc)
    dedup = (F.col("l_cx") == ref_cx) & (F.col("l_cy") == ref_cy)

    joined = le.join(re, on=join_keys, how="inner").filter(overlap & dedup)
    out_cols = (
        ["l_id", "r_id"]
        + [f"l_{k}" for k in keep_left]
        + [f"r_{k}" for k in keep_right]
    )
    return joined.select(*out_cols).withColumnsRenamed(
        {"l_id": "left_id", "r_id": "right_id"}
    )


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_id: str = "row_id",
    right_id: str = "row_id",
    left_cols: tuple[str, str] = ("x", "y"),
    right_cols: tuple[str, str] = ("x", "y"),
    bounds: tuple[float, float, float, float] | None = None,
    grid_level: int | None = None,
    metric: str = "euclidean",
) -> DataFrame:
    """All point pairs within ``radius`` (inclusive, <=) — the two-phase
    candidate->refine composition: grid candidate join on +-radius
    boxes, then the exact distance predicate as a codegen'd residual —
    the distributed form of the reference's within-on-every-point
    (src/kdtree/trait.rs:118-174).

    ``metric="haversine"``: radius in METERS over (lon, lat) degrees
    (WGS84 sphere R=6378137, reference src/rtree/distance.rs:84-114).
    Candidate boxes use a provably-containing degree expansion:
    dlat = theta (the central angle r/R) directly, and
    dlon = 2*asin(sin(theta/2) / sqrt(cos(lat) * cos(|lat|+theta)))
    from the haversine identity with the band's minimum cos — widening
    to the full lon range when the band reaches a pole. ANTIMERIDIAN
    WRAP: a degree window crossing +-180 emits the wrapped remainder as
    a second candidate box (:func:`haversine_candidate_boxes`), so
    dateline-straddling pairs are returned; the two lon segments are
    disjoint, so no pair is emitted twice. Longitudes must be in
    [-180, 180] and latitudes in [-90, 90] (out-of-range latitudes
    raise — the expansion's completeness proof needs cos >= 0)."""
    if metric not in ("euclidean", "haversine"):
        raise ValueError(f"metric must be euclidean|haversine, got {metric!r}")
    if metric == "haversine":
        return _haversine_distance_join(
            left, right, float(radius), left_id, right_id, left_cols, right_cols,
            bounds, grid_level,
        )
    r = float(radius)
    lx, ly = left_cols
    rx, ry = right_cols
    lb = left.select(
        F.col(left_id).alias("row_id"),
        (F.col(lx) - F.lit(r)).alias("minx"),
        (F.col(ly) - F.lit(r)).alias("miny"),
        (F.col(lx) + F.lit(r)).alias("maxx"),
        (F.col(ly) + F.lit(r)).alias("maxy"),
        F.col(lx).alias("px"),
        F.col(ly).alias("py"),
    )
    rb = right.select(
        F.col(right_id).alias("row_id"),
        F.col(rx).alias("minx"),
        F.col(ry).alias("miny"),
        F.col(rx).alias("maxx"),
        F.col(ry).alias("maxy"),
        F.col(rx).alias("px"),
        F.col(ry).alias("py"),
    )
    # point coords ride through the candidate join (keep_*), so the
    # exact-distance refine is a residual filter — no re-join shuffle
    cand = spatial_join(
        lb,
        rb,
        bounds=bounds,
        grid_level=grid_level,
        keep_left=("px", "py"),
        keep_right=("px", "py"),
    )
    dx = F.col("l_px") - F.col("r_px")
    dy = F.col("l_py") - F.col("r_py")
    return cand.filter(dx * dx + dy * dy <= F.lit(r * r)).select("left_id", "right_id")


def haversine_pair_col(lx: Column, ly: Column, rx: Column, ry: Column) -> Column:
    """Great-circle meters between two column points (lon, lat degrees);
    same formula and term order as the knn haversine oracle SQL, so the
    inclusive <= boundary agrees across engines."""
    h = (
        F.pow(F.sin(F.radians(ry - ly) / 2), 2)
        + F.cos(F.radians(ly)) * F.cos(F.radians(ry)) * F.pow(F.sin(F.radians(rx - lx) / 2), 2)
    )
    return F.lit(2.0 * 6378137.0) * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


def haversine_box_expand(
    lat: Column, radius_m: float | Column
) -> tuple[Column, Column]:
    """(dlat_deg, dlon_deg) columns of the smallest lon/lat box
    guaranteed to contain the haversine ``radius_m`` ball around a point
    at latitude ``lat``. ``radius_m`` may be a per-row Column (per-left
    adaptive radii in :func:`geo_index_spark.operators.knn.knn_join`) or
    a scalar, in which case the trig terms pre-fold to literals.
    Completeness: any point within haversine r
    satisfies |dlat| <= theta (= r/R), and from the haversine identity
    sin^2(theta/2) >= cos(lat0)cos(lat)sin^2(dlon/2) with
    cos(lat) >= cos(|lat0| + theta) inside the lat band; a band touching
    a pole widens to the full lon range. The dlon bound is on the
    WRAPPED longitude difference (sin^2(dlon/2) is 360-periodic), so
    callers crossing +-180 must emit the wrapped remainder too
    (:func:`haversine_candidate_boxes`). Requires |lat| <= 90 — the
    identity's cos terms must be nonnegative — enforced with a row-level
    raise_error."""
    import math

    R = 6378137.0
    if isinstance(radius_m, Column):
        theta = radius_m / F.lit(R)  # central angle, radians
        dlat_deg = F.degrees(theta)
        sin_half = F.sin(theta / F.lit(2.0))
    else:
        t = float(radius_m) / R
        theta = F.lit(t)
        dlat_deg = F.lit(math.degrees(t))
        sin_half = F.lit(math.sin(t / 2.0))
    denom = F.cos(F.radians(lat)) * F.cos(
        F.least(F.lit(math.pi / 2), F.abs(F.radians(lat)) + theta)
    )
    dlon_deg = F.when(
        # isnan disjunct: NaN compares false everywhere, so without it a
        # NaN latitude would skate past the domain raise and silently
        # produce NaN boxes that vanish from results (ADVICE r3). NULL
        # latitudes still propagate NULL and drop at the join — run
        # sanitize_lonlat first if that must be an error.
        (F.abs(lat) > 90.0) | F.isnan(lat),
        F.raise_error(
            F.lit("haversine degree-box expansion requires |lat| <= 90")
        ).cast("double"),
    ).when(
        (F.abs(lat) + dlat_deg >= 90.0) | (denom <= F.lit(0.0)),
        F.lit(180.0),
    ).otherwise(
        F.degrees(
            2.0 * F.asin(F.least(F.lit(1.0), sin_half / F.sqrt(denom)))
        )
    )
    return dlat_deg, dlon_deg


def haversine_candidate_boxes(
    df: DataFrame,
    radius_m: float | Column,
    id_col: str = "row_id",
    lon_col: str = "x",
    lat_col: str = "y",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per row: 1-2 candidate boxes (row_id, minx, miny, maxx, maxy,
    px, py[, *keep]) whose union provably contains the haversine
    ``radius_m`` ball around (lon, lat) — antimeridian-safe.
    ``radius_m`` may be a per-row Column; ``keep`` columns pass through
    unchanged (both serve knn_join's per-left adaptive radii).

    When the degree window [lon - dlon, lon + dlon] crosses +-180, the
    wrapped remainder re-enters from the other side and is emitted as a
    second box; the two lon segments are DISJOINT, so a right point
    matches at most one box and downstream joins need no pair dedup.
    A window of width >= 360 (dlon >= 180, e.g. near-pole bands or a
    full-cover radius) collapses to the single segment [-180, 180]."""
    dlat_deg, dlon_deg = haversine_box_expand(F.col(lat_col), radius_m)
    lo = F.col(lon_col) - dlon_deg
    hi = F.col(lon_col) + dlon_deg
    # at most one of (lo < -180), (hi > 180) holds when dlon < 180 and
    # lon in [-180, 180]: both would need 2*dlon > 360
    segs = (
        F.when(
            dlon_deg >= 180.0,
            F.array(F.struct(F.lit(-180.0).alias("mnx"), F.lit(180.0).alias("mxx"))),
        )
        .when(
            # inclusive <=/>=: an endpoint landing EXACTLY on +-180
            # emits the wrapped remainder as a DEGENERATE segment
            # ([180,180] / [-180,-180]) so points stored as the other
            # sign of the same meridian still match (ADVICE r3); the
            # segments stay disjoint because dlon < 180 here
            lo <= -180.0,
            F.array(
                F.struct(F.lit(-180.0).alias("mnx"), hi.alias("mxx")),
                F.struct((lo + 360.0).alias("mnx"), F.lit(180.0).alias("mxx")),
            ),
        )
        .when(
            hi >= 180.0,
            F.array(
                F.struct(lo.alias("mnx"), F.lit(180.0).alias("mxx")),
                F.struct(F.lit(-180.0).alias("mnx"), (hi - 360.0).alias("mxx")),
            ),
        )
        .otherwise(F.array(F.struct(lo.alias("mnx"), hi.alias("mxx"))))
    )
    out = df.select(
        F.col(id_col).alias("row_id"),
        F.col(lon_col).alias("px"),
        F.col(lat_col).alias("py"),
        (F.col(lat_col) - dlat_deg).alias("miny"),
        (F.col(lat_col) + dlat_deg).alias("maxy"),
        *[F.col(c) for c in keep],
        F.explode(segs).alias("_seg"),
    )
    return out.select(
        "row_id",
        F.col("_seg.mnx").alias("minx"),
        "miny",
        F.col("_seg.mxx").alias("maxx"),
        "maxy",
        "px",
        "py",
        *keep,
    )


def _haversine_distance_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_id: str,
    right_id: str,
    left_cols: tuple[str, str],
    right_cols: tuple[str, str],
    bounds: tuple[float, float, float, float] | None,
    grid_level: int | None,
) -> DataFrame:
    lx, ly = left_cols
    rx, ry = right_cols
    lb = haversine_candidate_boxes(
        left, radius_m, id_col=left_id, lon_col=lx, lat_col=ly
    )
    rb = right.select(
        F.col(right_id).alias("row_id"),
        F.col(rx).alias("minx"),
        F.col(ry).alias("miny"),
        F.col(rx).alias("maxx"),
        F.col(ry).alias("maxy"),
        F.col(rx).alias("px"),
        F.col(ry).alias("py"),
    )
    cand = spatial_join(
        lb,
        rb,
        bounds=bounds,
        grid_level=grid_level,
        keep_left=("px", "py"),
        keep_right=("px", "py"),
    )
    d = haversine_pair_col(F.col("l_px"), F.col("l_py"), F.col("r_px"), F.col("r_py"))
    return cand.filter(d <= F.lit(float(radius_m))).select("left_id", "right_id")
