"""Similarity search over an embedding column (array<float>).

* :func:`cosine_topk` — exact brute-force top-k: the dot product is a
  JVM-side ``aggregate(zip_with(...))`` fold in doubles (no Python),
  then ``orderBy(score desc).limit(k)`` = TakeOrderedAndProject, the
  same distributed top-k shape as operators/knn.py. This is the
  oracle-checkable baseline and the correctness anchor.
* :func:`cosine_near_dup_pairs` — exact all-pairs near-duplicate
  detection above a cosine threshold (oracle-checkable; quadratic —
  the small-dim / validation path).
* :func:`lsh_cosine_topk` — the scale path: random-hyperplane (SimHash
  for vectors) bucketing with multi-probe, so candidate generation is
  an equi-join on bucket keys instead of a cross join. Approximate vs
  brute force (recall pytest-pinned) but DETERMINISTIC given the fixed
  hyperplane seed, so :func:`lsh_cosine_topk_sql` replays the identical
  bucket key + bit_count probe + cosine top-k in DuckDB — exact parity.

Scores are rounded to 6 decimals in outputs so Spark/DuckDB float
folds cannot produce hash-unstable trailing digits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``;
    (id, score) with score = round(cos, 6), ties by id."""
    q = [float(v) for v in query_vec]
    qn = float(np.sqrt(sum(v * v for v in q)))
    qcol = F.array(*[F.lit(v) for v in q])
    v = F.col(vec_col)
    cos = _dot(v, qcol) / (_norm(v) * F.lit(qn))
    out = emb.select(F.col(id_col).alias("id"), F.round(cos, 6).alias("score"))
    return out.orderBy(F.col("score").desc(), F.col("id").asc()).limit(int(k))


def cosine_topk_sql(
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    q = "[" + ", ".join(repr(float(v)) for v in query_vec) + "]::DOUBLE[]"
    qn = float(np.sqrt(sum(float(v) ** 2 for v in query_vec)))
    return f"""
    SELECT {id_col} AS id,
           round(list_dot_product({vec_col}::DOUBLE[], {q})
                 / (sqrt(list_dot_product({vec_col}::DOUBLE[], {vec_col}::DOUBLE[])) * {qn!r}), 6) AS score
    FROM {table}
    ORDER BY score DESC, id ASC LIMIT {int(k)}
    """


def cosine_near_dup_pairs(
    emb: DataFrame,
    tau: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact (a_id, b_id) pairs with cosine >= tau. All-pairs — the
    validation-scale oracle twin; the production path at corpus scale
    is :func:`lsh_cosine_near_dup_pairs` (banded candidates, exact
    refine — no cross join)."""
    a = emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("a_id") < F.col("b_id"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return pairs.filter(F.round(cos, 6) >= F.lit(float(tau))).select("a_id", "b_id")


def cosine_near_dup_pairs_sql(
    tau: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    return f"""
    SELECT x.{id_col} AS a_id, y.{id_col} AS b_id
    FROM {table} x JOIN {table} y ON x.{id_col} < y.{id_col}
    WHERE round(list_dot_product(x.{vec_col}::DOUBLE[], y.{vec_col}::DOUBLE[])
          / (sqrt(list_dot_product(x.{vec_col}::DOUBLE[], x.{vec_col}::DOUBLE[]))
             * sqrt(list_dot_product(y.{vec_col}::DOUBLE[], y.{vec_col}::DOUBLE[]))), 6) >= {float(tau)!r}
    """


def cosine_topk_fast(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path of :func:`cosine_topk`: Arrow-batched numpy matmul
    instead of interpreted higher-order functions (~100x per-row at
    10M+ vectors), then the same TakeOrdered merge. Same ordering
    contract; scores identical to 1e-6 rounding (pytest-pinned)."""
    from pyspark.sql.types import DoubleType

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @F.pandas_udf(DoubleType())
    def cos(v: pd.Series) -> pd.Series:
        m = np.asarray(v.tolist(), dtype=np.float64)
        dots = m @ q
        norms = np.linalg.norm(m, axis=1)
        return pd.Series(np.round(dots / (norms * qn), 6))

    out = emb.select(F.col(id_col).alias("id"), cos(F.col(vec_col)).alias("score"))
    return out.orderBy(F.col("score").desc(), F.col("id").asc()).limit(int(k))


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def with_lsh_bucket(
    emb: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 7,
    vec_col: str = "embedding",
    out: str = "bucket",
) -> DataFrame:
    """Random-hyperplane bucket key: bit j = sign(v . h_j). Pure
    Catalyst (hyperplanes inlined as literal arrays) — at 100 TB the
    bucketing is a projection, and same-bucket candidate joins are
    equi-joins on a long key."""
    H = _hyperplanes(dim, n_planes, seed)
    v = F.col(vec_col)
    key = F.lit(0).cast("long")
    for j in range(n_planes):
        hcol = F.array(*[F.lit(float(x)) for x in H[j]])
        bit = F.when(_dot(v, hcol) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        key = key + bit
    return emb.withColumn(out, key.cast("long"))


def _band_planes(dim: int, n_bands: int, n_planes: int, seed: int = 7) -> np.ndarray:
    """(n_bands, n_planes, dim) hyperplanes drawn from ONE rng stream so
    the SQL mirror regenerates the identical literals."""
    return _hyperplanes(dim, n_bands * n_planes, seed).reshape(n_bands, n_planes, dim)


def with_lsh_band_keys(
    emb: DataFrame,
    dim: int,
    n_bands: int = 8,
    n_planes: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    out: str = "bands",
) -> DataFrame:
    """``array<long>`` of per-band random-hyperplane bucket keys (band b
    bit j = sign(v . H[b,j])) — the vector analogue of MinHash banding
    (textops/dedup.py). Pure Catalyst: hyperplanes are literal arrays,
    so at 100 TB this is a projection computed once at ingest."""
    H = _band_planes(dim, n_bands, n_planes, seed)
    v = F.col(vec_col)
    keys = []
    for b in range(n_bands):
        key = F.lit(0).cast("long")
        for j in range(n_planes):
            hcol = F.array(*[F.lit(float(x)) for x in H[b, j]])
            key = key + F.when(_dot(v, hcol) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        keys.append(key.cast("long"))
    return emb.withColumn(out, F.array(*keys))


def lsh_cosine_near_dup_pairs(
    emb: DataFrame,
    tau: float = 0.99,
    dim: int = 64,
    n_bands: int = 8,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed (LSH-band) embedding near-duplicate PAIRS — the
    production path that replaces :func:`cosine_near_dup_pairs`'s
    all-pairs cross join with candidates-then-refine, the same
    discipline as MinHash banding for text (dedup.py:137) and the
    reference's dual-tree candidate pruning
    (/root/reference/src/rtree/traversal.rs:262-370).

    Plan: (1) band keys = one Catalyst projection; (2) posexplode to a
    (id, band, bucket) table; (3) candidates = same-(band, bucket)
    equi-join with a < b, DISTINCT on the pair key; (4) refine = join
    the two vectors back and keep exact ``round(cos, 6) >= tau``. Only
    same-bucket pairs are ever materialized, so cost is sum of squared
    bucket sizes, not |emb|^2.

    PRECISION is exact (refine step); RECALL is the standard LSH bound
    ``1 - (1 - p^n_planes)^n_bands`` with p = 1 - arccos(cos)/pi — at
    tau = 0.99, 8 bands x 8 planes give recall > 0.9999 (pytest-pinned
    recall 1.0 on clustered fixtures). DETERMINISTIC given ``seed``, so
    :func:`lsh_cosine_near_dup_pairs_sql` replays the identical
    candidate set + refine in DuckDB — exact parity."""
    # (id, band, bucket) is tiny — checkpoint it so the self-join below
    # reads a materialized table instead of re-running the
    # n_bands*n_planes higher-order-function dot products per join side
    bands = (
        with_lsh_band_keys(emb, dim, n_bands, n_planes, seed, vec_col)
        .select(F.col(id_col).alias("id"), F.posexplode("bands").alias("band", "bucket"))
        .localCheckpoint()
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), on=["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id"))
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb"))
    pairs = cand.join(va, "a_id").join(vb, "b_id")
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return pairs.filter(F.round(cos, 6) >= F.lit(float(tau))).select("a_id", "b_id")


def with_lsh_band_keys_fast(
    emb: DataFrame,
    dim: int,
    n_bands: int = 8,
    n_planes: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    out: str = "bands",
) -> DataFrame:
    """Arrow fast twin of :func:`with_lsh_band_keys`: all
    ``n_bands * n_planes`` dot products per batch as ONE numpy matmul
    (~100x the interpreted higher-order-function fold). Same planes,
    same bit layout; numpy's pairwise summation can differ from the
    fold at ~1e-16, so a dot product EXACTLY at zero could flip a bit —
    immaterial off razor-edge data (keys pytest-pinned equal on random
    vectors). Production ingest kernel; the HOF variant stays the
    oracle-grade twin."""
    from pyspark.sql.types import ArrayType, LongType

    H = _band_planes(dim, n_bands, n_planes, seed).reshape(n_bands * n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def keys(v: pd.Series) -> pd.Series:
        m = np.asarray(v.tolist(), dtype=np.float64)
        bits = (m @ H.T) > 0
        ks = bits.reshape(len(m), n_bands, n_planes).astype(np.int64) @ weights
        return pd.Series(list(ks))

    return emb.withColumn(out, keys(F.col(vec_col)))


def lsh_cosine_near_dup_pairs_fast(
    emb: DataFrame,
    tau: float = 0.99,
    dim: int = 64,
    n_bands: int = 8,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production fast path of :func:`lsh_cosine_near_dup_pairs`: Arrow
    matmul band keys, then BUCKET-LOCAL blocked-matmul refine via a
    ``mapInArrow`` segment walk over the (band, bucket)-sorted rows.

    Round-4 rework: the previous plan materialized every candidate PAIR
    (a DISTINCT over ~Σ bucket² rows) and joined each pair's TWO full
    vectors back in — at 1M x 32d that is ~65M pair rows and ~20 GB of
    vector shuffle, and the 1M-vector bench measured local[32] SLOWER
    than local[8] (297 s vs 182 s; shuffle-volume-bound). The refine is
    an all-pairs cosine WITHIN each bucket, so compute it there: one
    shuffle of the banded vectors (n_bands copies of the table, ~1 GB
    at this size), upper-triangle blocked matmuls per group (2048-row
    blocks bound memory on hot buckets), DISTINCT only over the tiny
    passing-pair output. Same float ops as the row-wise refine
    (np.round(dot/(na*nb), 6) >= tau), so the output is pytest-pinned
    equal to the oracle-grade twin; same Σ bucket² flop count, executed
    as matmul instead of per-pair rows."""
    if n_planes >= 48:
        raise ValueError("n_planes must be < 48 (combined group key is a long)")
    bands = (
        with_lsh_band_keys_fast(emb, dim, n_bands, n_planes, seed, vec_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.posexplode("bands").alias("band", "bucket"),
        )
        .select(
            "id",
            "v",
            (F.col("band") * F.lit(1 << n_planes) + F.col("bucket")).alias("gk"),
        )
    )
    # one shuffle: co-locate each (band, bucket) group and sort so groups
    # are contiguous; mapInPandas then walks group segments numpy-side.
    # (groupBy().applyInPandas would build a pandas frame + make a Python
    # call PER GROUP — with ~n_bands * 2^n_planes tiny groups that
    # per-group machinery dominated the runtime.)
    # Width is sized from Catalyst's estimate of the banded bytes
    # (~32 MB/partition target) instead of inheriting the session
    # shuffle width: every task of this stage is an Arrow round trip
    # through a Python worker, so hundreds of near-empty tasks cost
    # real wall-clock; floor = defaultParallelism (scales with the
    # cluster), ceiling = the session shuffle width.
    sess = emb.sparkSession
    dp = max(1, sess.sparkContext.defaultParallelism)
    from geo_index_spark.operators.join import _plan_size_bytes, _shuffle_partitions

    sess_width = _shuffle_partitions(sess)
    est = _plan_size_bytes(emb)
    if est is not None and est > 0:
        n_ref = max(dp, min(sess_width, (est * n_bands) // (32 << 20) + 1))
    else:
        n_ref = sess_width
    parts = bands.repartition(int(n_ref), "gk").sortWithinPartitions("gk")
    t = float(tau)
    BLK = 2048

    def _refine_group(ids: np.ndarray, m: np.ndarray, out_a: list, out_b: list) -> None:
        n = len(ids)
        order = np.argsort(ids, kind="stable")  # ids unique -> a_id < b_id
        ids = ids[order]
        m = m[order]
        norms = np.linalg.norm(m, axis=1)
        for i0 in range(0, n, BLK):  # blocked upper triangle: bounded memory
            a, na, ia = m[i0 : i0 + BLK], norms[i0 : i0 + BLK], ids[i0 : i0 + BLK]
            for j0 in range(i0, n, BLK):
                b, nb, jb = m[j0 : j0 + BLK], norms[j0 : j0 + BLK], ids[j0 : j0 + BLK]
                cs = np.round((a @ b.T) / np.outer(na, nb), 6)
                mask = cs >= t
                if i0 == j0:
                    mask &= np.triu(np.ones(mask.shape, dtype=bool), 1)
                # duplicate vec_ids: the stable argsort + strict upper
                # triangle could still pair a row with its own id — keep
                # the row-wise path's a_id < b_id exclusion (ADVICE r4)
                mask &= ia[:, None] != jb[None, :]
                ai, bj = np.nonzero(mask)
                if ai.size:
                    out_a.append(ia[ai])
                    out_b.append(jb[bj])

    def _process(gk: np.ndarray, ids: np.ndarray, m: np.ndarray):
        import pyarrow as pa

        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        starts = np.concatenate(([0], np.flatnonzero(np.diff(gk)) + 1, [len(gk)]))
        for s, e in zip(starts[:-1], starts[1:]):
            if e - s >= 2:
                _refine_group(ids[s:e], m[s:e], out_a, out_b)
        if not out_a:
            return None
        return pa.record_batch(
            [pa.array(np.concatenate(out_a)), pa.array(np.concatenate(out_b))],
            names=["a_id", "b_id"],
        )

    def refine(batches):
        # mapInArrow, not mapInPandas: the list<double> column flattens
        # to the (n, dim) refine matrix without the per-row
        # Series.tolist() Python conversion (16M rows at the 4M-vector
        # bench). Arrow batches can SPLIT a group: rows of the
        # partition's current last gk are carried into the next batch
        # (sorted -> contiguous), so cross-batch pairs are never missed.
        carry = None  # (gk, ids, m) of the pending (possibly split) last group
        for rb in batches:
            if rb.num_rows == 0:
                continue
            schema = rb.schema
            ids = rb.column(schema.get_field_index("id")).to_numpy()
            gk = rb.column(schema.get_field_index("gk")).to_numpy()
            v = rb.column(schema.get_field_index("v"))
            m = v.flatten().to_numpy().reshape(len(ids), -1)
            if carry is not None:
                gk = np.concatenate([carry[0], gk])
                ids = np.concatenate([carry[1], ids])
                m = np.concatenate([carry[2], m])
            cut = int(np.searchsorted(gk, gk[-1], side="left"))
            carry = (gk[cut:], ids[cut:], m[cut:])
            if cut:
                out = _process(gk[:cut], ids[:cut], m[:cut])
                if out is not None:
                    yield out
        if carry is not None and len(carry[0]):
            out = _process(*carry)
            if out is not None:
                yield out

    pairs = parts.mapInArrow(refine, "a_id long, b_id long")
    # explicit repartition on the pair key feeds the dedup groupBy its
    # partitioning (one exchange at the refine width, not a second
    # session-width exchange)
    return pairs.repartition(int(n_ref), "a_id", "b_id").dropDuplicates()


def lsh_cosine_near_dup_pairs_sql(
    tau: float = 0.99,
    dim: int = 64,
    n_bands: int = 8,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """DuckDB mirror of :func:`lsh_cosine_near_dup_pairs`: identical
    literal hyperplanes (same rng stream), identical band keys,
    same-(band, bucket) candidate join, same DISTINCT + exact-cosine
    refine — parity is exact, not statistical."""
    H = _band_planes(dim, n_bands, n_planes, seed)

    def bandkey(b: int) -> str:
        terms = []
        for j in range(n_planes):
            lit = "[" + ", ".join(repr(float(x)) for x in H[b, j]) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {lit}) > 0"
                f" THEN {1 << j}::BIGINT ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")::BIGINT"

    keysel = ", ".join(f"{bandkey(b)} AS k{b}" for b in range(n_bands))
    unions = " UNION ALL ".join(
        f"SELECT id, {b} AS band, k{b} AS bucket FROM keys" for b in range(n_bands)
    )
    return f"""
    WITH vecs AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v FROM {table}),
    keys AS (SELECT id, {keysel} FROM vecs),
    bands AS ({unions}),
    cand AS (
      SELECT DISTINCT x.id AS a_id, y.id AS b_id
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
    )
    SELECT c.a_id, c.b_id
    FROM cand c JOIN vecs a ON a.id = c.a_id JOIN vecs b ON b.id = c.b_id
    WHERE round(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))), 6) >= {float(tau)!r}
    """


def lsh_cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    dim: int | None = None,
    n_planes: int = 12,
    probe_hamming: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors whose bucket key is within
    ``probe_hamming`` bits of the query's bucket (multi-probe LSH).
    Candidate filter is a bit_count on a long — JVM-side."""
    dim = dim or len(query_vec)
    H = _hyperplanes(dim, n_planes, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    qkey = int(sum((1 << j) for j in range(n_planes) if float(H[j] @ q) > 0))
    bucketed = with_lsh_bucket(emb, dim, n_planes, seed, vec_col)
    cand = bucketed.filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qkey))) <= F.lit(int(probe_hamming))
    )
    return cosine_topk(cand, [float(v) for v in q], k, id_col, vec_col)


def _py_dot(a, b) -> float:
    """Strict left-to-right double fold — the same op order as the
    Catalyst ``aggregate(zip_with(...))`` fold and DuckDB's
    ``list_dot_product`` (parity pinned by the round-2 oracle greens),
    so Python-computed centroid scores are bit-identical to both."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the ``n_centroids`` lowest-id
    embeddings, collected ONCE (tiny — this is the only job the
    quantizer ever runs; production swaps in k-means rows and the rest
    of the IVF machinery is unchanged)."""
    rows = (
        emb.orderBy(F.col(id_col).asc())
        .limit(int(n_centroids))
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec"))
        .collect()
    )
    return [(int(r["cent_id"]), [float(x) for x in r["cvec"]]) for r in rows]


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 10,
    seed: int = 7,
    sample_n: int = 16384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Spherical k-means coarse quantizer (Lloyd's) — the quality
    upgrade over :func:`ivf_centroids` for real (clustered) embeddings,
    feeding the SAME ``with_ivf_cell`` / ``write_ivf_partitioned`` /
    ``ivf_cosine_topk`` machinery (quantizer-agnostic by design).

    100 TB shape: training runs on a DETERMINISTIC hash-ordered sample
    (``TakeOrdered`` over ``xxhash64(id)`` — per-partition top-n +
    merge, no full sort) of ``sample_n`` rows; Lloyd's iterations are
    vectorized numpy over that in-driver sample — the standard IVF
    recipe (FAISS trains its quantizer on a sample too), so training
    cost is O(sample_n * dim * iters) regardless of table size. The
    full-table assignment stays the distributed ``with_ivf_cell``
    projection.

    Deterministic end to end: hash-ordered sample (ties by id),
    seeded init (first k sample rows in a seeded shuffle), argmax ties
    to the lowest centroid id, empty clusters reseeded to the sample
    row worst-served by the surviving centroids (lowest id on ties).
    Returns ``[(cent_id 0..k-1, unit-norm centroid)]``."""
    k = int(n_centroids)
    rows = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.pmod(F.xxhash64(F.col("id")), F.lit(1 << 31)).asc(), F.col("id").asc())
        .limit(int(sample_n))
        .collect()
    )
    X = np.asarray([[float(x) for x in r["v"]] for r in rows], dtype=np.float64)
    if X.shape[0] == 0:
        raise ValueError("kmeans_centroids: empty input")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    n = X.shape[0]
    k = min(k, n)
    rng = np.random.default_rng(seed)
    init = rng.permutation(n)[:k]
    C = X[np.sort(init)].copy()  # sorted: stable under rng impl details
    for _ in range(int(iters)):
        sims = X @ C.T  # (n, k) cosine — both sides unit norm
        assign = np.argmax(sims, axis=1)  # ties -> lowest centroid id
        newC = np.zeros_like(C)
        np.add.at(newC, assign, X)
        counts = np.bincount(assign, minlength=k)
        empty = np.flatnonzero(counts == 0)
        if empty.size:
            # reseed each empty cluster at the worst-served sample row
            worst = np.argsort(sims.max(axis=1), kind="stable")
            newC[empty] = X[worst[: empty.size]]
            counts[empty] = 1
        norms = np.linalg.norm(newC, axis=1, keepdims=True)
        C = newC / np.maximum(norms, 1e-300)
    return [(i, [float(x) for x in C[i]]) for i in range(k)]


_KMQ = 1000000000.0  # kmeans_centroids_exact grid: 1e-9 coordinate quanta


def kmeans_centroids_exact(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    sample_n: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """SQL-MIRRORABLE spherical k-means quantizer (round-5 verdict #3):
    the same Lloyd's shape as :func:`kmeans_centroids` but with every
    step chosen to be exactly replayable by an sf-AGNOSTIC static SQL
    string (:func:`ivf_kmeans_topk_sql` unrolls the iterations as CTE
    blocks), so the driver can hash-verify the whole pipeline instead
    of recording a rows-only row.

    Determinism recipe (each piece mirrors one SQL expression):

    * sample = ``ORDER BY md5(cast(id as string)), id LIMIT sample_n``
      over rows with ``dot(v, v) > 0`` — md5 is the cross-engine hash
      (DuckDB has no xxhash64).
    * unit vectors are QUANTIZED to int64 at 1e-9
      (``floor(x / ||v|| * 1e9 + 0.5)``): per-cluster sums become
      INTEGER sums — exact and summation-order-independent, which is
      what makes cross-engine mean parity possible at all.
    * init = first ``k`` sample rows in sample order (cid = rn - 1).
    * assign = argmax dot(u_q, c) with ties to the lowest cid
      (SQL: ``row_number() OVER (ORDER BY dot DESC, cid ASC)``).
    * update = integer-sum / count / 1e9, renormalize, re-quantize;
      empty clusters keep their previous centroid (SQL ``COALESCE``).

    All float ops are elementwise with fixed order (dots fold left-to-
    right over dimensions — numpy vectorizes across rows, never across
    the fold), so driver-side numpy, Catalyst, and DuckDB produce
    bit-identical doubles. Training cost is O(sample_n * dim * iters)
    in the driver regardless of table size — the standard sample-
    trained IVF recipe; the full-table assignment stays the
    distributed :func:`with_ivf_cell` projection.

    Returns ``[(cent_id 0..k-1, grid-quantized unit centroid)]``."""
    rows = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .filter(_dot(F.col("v"), F.col("v")) > F.lit(0.0))
        .withColumn("h", F.md5(F.col("id").cast("string")))
        .orderBy(F.col("h").asc(), F.col("id").asc())
        .limit(int(sample_n))
        .select("h", "id", "v")
        .collect()
    )
    if not rows:
        raise ValueError("kmeans_centroids_exact: empty input")
    rows = sorted((r["h"], r["id"], r["v"]) for r in rows)  # belt & braces
    V = np.asarray([[float(x) for x in v] for _, _, v in rows], dtype=np.float64)
    n, d = V.shape
    acc = np.zeros(n)
    for j in range(d):  # left-to-right fold == list_dot_product
        acc = acc + V[:, j] * V[:, j]
    Uint = np.floor(V / np.sqrt(acc)[:, None] * _KMQ + 0.5).astype(np.int64)
    U = Uint.astype(np.float64) / _KMQ
    k = min(int(n_centroids), n)
    Cint = Uint[:k].copy()
    C = Cint.astype(np.float64) / _KMQ
    for _ in range(int(iters)):
        sims = np.zeros((n, k))
        for j in range(d):
            sims = sims + np.multiply.outer(U[:, j], C[:, j])
        assign = np.argmax(sims, axis=1)  # first max = lowest cid tiebreak
        S = np.zeros((k, d), dtype=np.int64)
        np.add.at(S, assign, Uint)  # integer: order-independent, exact
        counts = np.bincount(assign, minlength=k)
        nz = counts > 0
        M = np.zeros((k, d))
        M[nz] = (S[nz].astype(np.float64) / counts[nz].astype(np.float64)[:, None]) / _KMQ
        macc = np.zeros(k)
        for j in range(d):
            macc = macc + M[:, j] * M[:, j]
        newCint = Cint.copy()
        newCint[nz] = np.floor(
            M[nz] / np.sqrt(macc[nz])[:, None] * _KMQ + 0.5
        ).astype(np.int64)
        Cint = newCint
        C = Cint.astype(np.float64) / _KMQ
    return [(i, [float(x) for x in C[i]]) for i in range(k)]


def ivf_kmeans_topk_sql(
    query_vec: list[float],
    k: int,
    n_centroids: int = 16,
    iters: int = 5,
    sample_n: int = 256,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """sf-AGNOSTIC DuckDB mirror of the full
    :func:`kmeans_centroids_exact` -> :func:`with_ivf_cell` ->
    :func:`ivf_cosine_topk` pipeline: Lloyd's iterations UNROLLED as
    chained CTE blocks over the md5-ordered sample, per-cluster means
    as INTEGER sums of the 1e-9-quantized unit vectors (exact, order-
    independent), then the same assignment / probe / top-k body as
    :func:`ivf_cosine_topk_sql`. No data literals anywhere — the
    string holds at every sf, so the driver can hash-check the kmeans
    slot (round-5 verdict #3)."""
    q = [float(x) for x in query_vec]
    qn = float(np.sqrt(sum(x * x for x in q)))
    qlit = "[" + ", ".join(repr(x) for x in q) + "]::DOUBLE[]"
    blocks = []
    prev = "c0"
    for i in range(1, int(iters) + 1):
        blocks.append(f""",
    a{i} AS (
      SELECT rn, uq_int, cid FROM (
        SELECT s.rn, s.uq_int, c.cid,
               row_number() OVER (PARTITION BY s.rn
                 ORDER BY list_dot_product(s.uq, c.cvec) DESC, c.cid ASC) AS r
        FROM samp s CROSS JOIN {prev} c
      ) WHERE r = 1
    ),
    m{i} AS (
      SELECT cid, j, SUM(ui) AS s, COUNT(*) AS n FROM (
        SELECT cid, unnest(uq_int) AS ui, generate_subscripts(uq_int, 1) AS j
        FROM a{i}
      ) GROUP BY cid, j
    ),
    n{i} AS (
      SELECT cid,
             list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0 ORDER BY j) AS m
      FROM m{i} GROUP BY cid
    ),
    u{i} AS (
      SELECT cid,
             list_transform(m, x -> CAST(floor(x / sqrt(list_dot_product(m, m))
                                              * 1000000000.0 + 0.5) AS BIGINT)) AS cint
      FROM n{i}
    ),
    c{i} AS (
      SELECT p.cid, COALESCE(u.cint, p.cint) AS cint,
             list_transform(COALESCE(u.cint, p.cint),
                            x -> CAST(x AS DOUBLE) / 1000000000.0) AS cvec
      FROM {prev} p LEFT JOIN u{i} u USING (cid)
    )""")
        prev = f"c{i}"
    it_blocks = "".join(blocks)
    return f"""
    WITH vecs AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v FROM {table}),
    samp AS (
      SELECT rn, id, uq_int,
             list_transform(uq_int, x -> CAST(x AS DOUBLE) / 1000000000.0) AS uq
      FROM (
        SELECT row_number() OVER (ORDER BY h ASC, id ASC) AS rn, id,
               list_transform(v, x -> CAST(floor(x / sqrt(list_dot_product(v, v))
                                                * 1000000000.0 + 0.5) AS BIGINT)) AS uq_int
        FROM (
          SELECT id, v, md5(CAST(id AS VARCHAR)) AS h FROM vecs
          WHERE list_dot_product(v, v) > 0
          ORDER BY h ASC, id ASC LIMIT {int(sample_n)}
        )
      )
    ),
    c0 AS (
      SELECT rn - 1 AS cid, uq_int AS cint, uq AS cvec
      FROM samp WHERE rn <= {int(n_centroids)}
    ){it_blocks},
    assigned AS (
      SELECT id, v, cell FROM (
        SELECT x.id, x.v, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY x.id
                 ORDER BY list_dot_product(x.v, c.cvec)
                          / (sqrt(list_dot_product(x.v, x.v))
                             * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                          c.cid ASC
               ) AS rn
        FROM vecs x CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT cid AS cell FROM {prev}
      ORDER BY list_dot_product(cvec, {qlit})
               / (sqrt(list_dot_product(cvec, cvec)) * {qn!r}) DESC,
               cid ASC
      LIMIT {int(nprobe)}
    ),
    cand AS (SELECT a.id, a.v FROM assigned a JOIN probes p ON a.cell = p.cell)
    SELECT id,
           round(list_dot_product(v, {qlit})
                 / (sqrt(list_dot_product(v, v)) * {qn!r}), 6) AS score
    FROM cand ORDER BY score DESC, id ASC LIMIT {int(k)}
    """


def with_ivf_cell(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out: str = "cell",
) -> DataFrame:
    """INGEST-TIME IVF assignment as a PURE PROJECTION: centroids are
    literals, each cosine is a codegen'd fold, and the argmax is
    ``array_min`` over (−cos, cent_id) structs — lexicographic struct
    order IS the (cosine desc, cent_id asc) tiebreak. No window, no
    shuffle, no join: at 100 TB this runs inside the ingest scan and
    the cell lands as a partition column (:func:`write_ivf_partitioned`),
    making every query a partition-pruned read of nprobe cells."""
    v = F.col(vec_col)
    items = []
    for cid, cvec in centroids:
        ccol = F.array(*[F.lit(float(x)) for x in cvec])
        cn = float(np.sqrt(_py_dot(cvec, cvec)))
        cos = _dot(v, ccol) / (_norm(v) * F.lit(cn))
        items.append(
            F.struct((-cos).alias("nc"), F.lit(int(cid)).cast("long").alias("cid"))
        )
    return emb.withColumn(out, F.array_min(F.array(*items))["cid"])


def write_ivf_partitioned(
    emb: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> None:
    """Materialize the inverted file: assignment projection + parquet
    partitioned by cell. Queries over ``spark.read.parquet(path)`` with
    ``cell_col="cell"`` prune to nprobe directories at plan time."""
    with_ivf_cell(emb, centroids, vec_col).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def ivf_probe_cells(
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    nprobe: int,
) -> list[int]:
    """The ``nprobe`` cells nearest the query by (cosine desc, cent_id
    asc) — driver-side over the tiny centroid list, same fold order as
    the engines (:func:`_py_dot`)."""
    q = [float(x) for x in query_vec]
    qn = float(np.sqrt(_py_dot(q, q)))
    scored = []
    for cid, cvec in centroids:
        cn = float(np.sqrt(_py_dot(cvec, cvec)))
        scored.append((-(_py_dot(cvec, q) / (cn * qn)), cid))
    scored.sort()
    return [cid for _, cid in scored[: int(nprobe)]]


def ivf_cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    cell_col: str | None = None,
) -> DataFrame:
    """IVF-flat ANN: probe only the ``nprobe`` cells nearest the query,
    brute-force cosine inside them. Assignment tiebreak: (cosine desc,
    centroid id asc); probe ordering likewise.

    Plan (round-3 rework — the round-2 version re-derived the centroid
    lineage 3x, one full ``emb`` scan each): ``centroids`` are collected
    ONCE (or passed in from ingest), probe cells are picked driver-side
    over that tiny list, the assignment is the :func:`with_ivf_cell`
    projection (skipped entirely when ``cell_col`` names a precomputed
    ingest column), and the cell filter is a LITERAL ``isin`` — on
    cell-partitioned parquet that is static partition pruning, so the
    query scans nprobe cells and nothing else."""
    q = [float(x) for x in query_vec]
    if centroids is None:
        centroids = ivf_centroids(emb, n_centroids, id_col, vec_col)
    probe = ivf_probe_cells(centroids, q, nprobe)
    if cell_col is None:
        emb = with_ivf_cell(emb, centroids, vec_col, out="cell")
        cell_col = "cell"
    cand = emb.filter(F.col(cell_col).isin([int(c) for c in probe]))
    return cosine_topk(cand, q, k, id_col, vec_col)


def ivf_cosine_topk_sql(
    query_vec: list[float],
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """DuckDB mirror of :func:`ivf_cosine_topk` — same deterministic
    centroid set (lowest ids), same (cos desc, cent_id asc) assignment
    and probe ordering, same cosine expression, so parity is exact."""
    q = [float(x) for x in query_vec]
    qn = float(np.sqrt(sum(x * x for x in q)))
    qlit = "[" + ", ".join(repr(x) for x in q) + "]::DOUBLE[]"
    return f"""
    WITH vecs AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v FROM {table}),
    cents AS (
      SELECT id AS cent_id, v AS cvec FROM vecs ORDER BY id ASC LIMIT {int(n_centroids)}
    ),
    assigned AS (
      SELECT id, v, cent_id AS cell FROM (
        SELECT x.id, x.v, c.cent_id,
               row_number() OVER (
                 PARTITION BY x.id
                 ORDER BY list_dot_product(x.v, c.cvec)
                          / (sqrt(list_dot_product(x.v, x.v))
                             * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                          c.cent_id ASC
               ) AS rn
        FROM vecs x CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT cent_id AS cell FROM cents
      ORDER BY list_dot_product(cvec, {qlit})
               / (sqrt(list_dot_product(cvec, cvec)) * {qn!r}) DESC,
               cent_id ASC
      LIMIT {int(nprobe)}
    ),
    cand AS (SELECT a.id, a.v FROM assigned a JOIN probes p ON a.cell = p.cell)
    SELECT id,
           round(list_dot_product(v, {qlit})
                 / (sqrt(list_dot_product(v, v)) * {qn!r}), 6) AS score
    FROM cand ORDER BY score DESC, id ASC LIMIT {int(k)}
    """


def ivf_cosine_topk_sql_literal(
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """DuckDB mirror of :func:`ivf_cosine_topk` for an EXPLICIT
    quantizer (e.g. :func:`kmeans_centroids` output) inlined as
    literals — same (cos desc, cent_id asc) assignment and probe
    ordering, same cosine fold, so parity is exact GIVEN the centroid
    list. The centroids are data-dependent, so this replay is only
    valid against the sf-dir they were trained on — the pytest sweep
    builds it per-dir; the static driver registry instead carries the
    sf-agnostic :func:`ivf_kmeans_topk_sql` over the quantized
    trainer."""
    q = [float(x) for x in query_vec]
    qn = float(np.sqrt(sum(x * x for x in q)))
    if qn == 0.0:
        # a zero query would make every score 0/0 — both mirrors would
        # diverge on NULL/NaN handling; fail loudly instead (ADVICE r5)
        raise ValueError("ivf_cosine_topk_sql_literal: query_vec has zero norm")
    qlit = "[" + ", ".join(repr(x) for x in q) + "]::DOUBLE[]"
    rows = ", ".join(
        "(" + str(int(cid)) + ", ["
        + ", ".join(repr(float(x)) for x in cvec)
        + "]::DOUBLE[])"
        for cid, cvec in centroids
    )
    return f"""
    WITH vecs AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v FROM {table}),
    cents AS (SELECT * FROM (VALUES {rows}) AS t(cent_id, cvec)),
    assigned AS (
      SELECT id, v, cent_id AS cell FROM (
        SELECT x.id, x.v, c.cent_id,
               row_number() OVER (
                 PARTITION BY x.id
                 ORDER BY list_dot_product(x.v, c.cvec)
                          / (sqrt(list_dot_product(x.v, x.v))
                             * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                          c.cent_id ASC
               ) AS rn
        FROM vecs x CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT cent_id AS cell FROM cents
      ORDER BY list_dot_product(cvec, {qlit})
               / (sqrt(list_dot_product(cvec, cvec)) * {qn!r}) DESC,
               cent_id ASC
      LIMIT {int(nprobe)}
    ),
    cand AS (SELECT a.id, a.v FROM assigned a JOIN probes p ON a.cell = p.cell)
    SELECT id,
           round(list_dot_product(v, {qlit})
                 / (sqrt(list_dot_product(v, v)) * {qn!r}), 6) AS score
    FROM cand ORDER BY score DESC, id ASC LIMIT {int(k)}
    """


def lsh_cosine_topk_sql(
    query_vec: list[float],
    k: int,
    dim: int | None = None,
    n_planes: int = 12,
    probe_hamming: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """DuckDB mirror of :func:`lsh_cosine_topk`: the hyperplanes are
    fixed literals (same ``_hyperplanes`` seed), so the bucket key,
    the bit_count multi-probe filter, and the cosine top-k replay
    exactly. ``repr(float)`` round-trips IEEE doubles, so the plane
    literals are bit-identical on both engines."""
    dim = dim or len(query_vec)
    H = _hyperplanes(dim, n_planes, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    qkey = int(sum((1 << j) for j in range(n_planes) if float(H[j] @ q) > 0))
    qn = float(np.linalg.norm(q))
    qlit = "[" + ", ".join(repr(float(v)) for v in q) + "]::DOUBLE[]"

    def plane(j: int) -> str:
        lit = "[" + ", ".join(repr(float(x)) for x in H[j]) + "]::DOUBLE[]"
        return (
            f"(CASE WHEN list_dot_product(v, {lit}) > 0"
            f" THEN {1 << j}::BIGINT ELSE 0 END)"
        )

    bucket = " + ".join(plane(j) for j in range(n_planes))
    return f"""
    WITH vecs AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v FROM {table}),
    bucketed AS (SELECT id, v, ({bucket})::BIGINT AS bucket FROM vecs),
    cand AS (
      SELECT id, v FROM bucketed
      WHERE bit_count(xor(bucket, {qkey}::BIGINT)) <= {int(probe_hamming)}
    )
    SELECT id,
           round(list_dot_product(v, {qlit})
                 / (sqrt(list_dot_product(v, v)) * {qn!r}), 6) AS score
    FROM cand ORDER BY score DESC, id ASC LIMIT {int(k)}
    """
