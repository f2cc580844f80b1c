"""The benchmark workloads, built from parts.

A part builds its inputs from the seed (``setup``), may warm up its
calls on a sample of them (``warmup``, untimed), makes its timed calls
(``run``) and afterwards, outside the timed region, checks their
outputs against independent in-repo references (``check``). Calls go
through public library functions only; each is forced by the Spark
action named where it is made: caching and counting its result, a
``noop`` write, or ``collect``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F

import gen


class CheckFailed(Exception):
    """An output differs from its reference."""


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _cached(spark, pdf: pd.DataFrame, schema: str | None = None):
    df = spark.createDataFrame(pdf, schema) if schema else spark.createDataFrame(pdf)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _knn_brute(rx, ry, rid, qx, qy, k):
    """(ids, dists) of the k nearest rights, ordered by (dist, id), with
    the library's distance expression sqrt(dx*dx + dy*dy)."""
    dx = rx - qx
    dy = ry - qy
    d = np.sqrt(dx * dx + dy * dy)
    order = np.lexsort((rid, d))[:k]
    return rid[order], d[order]


class Part:
    """A group of calls into some layers of the library, with their
    inputs. A batch call is forced by caching its result and counting
    it (``materialize``) or by a ``noop`` write (``write_noop``): the
    first pass keeps the result for ``check``, later passes must
    reproduce the first pass's counts. ``work_dir`` is this part's
    scratch directory for files the calls write."""

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark, self.seed, self.work_dir = spark, seed, work_dir
        self.frames: list = []
        self.outputs: dict = {}
        self.counts: dict = {}

    def release(self) -> None:
        for df in self.frames + list(self.outputs.values()):
            df.unpersist(blocking=True)
        self.frames, self.outputs, self.counts = [], {}, {}

    def warmup(self) -> None:
        """Untimed calls made once before the timed passes."""

    def cache(self, pdf, schema=None):
        df = _cached(self.spark, pdf, schema)
        self.frames.append(df)
        return df

    def materialize(self, span: str, build):
        def op():
            out = build().persist(StorageLevel.MEMORY_AND_DISK)
            n = out.count()
            if span in self.counts:
                out.unpersist()
                return n, n == self.counts[span]
            self.outputs[span], self.counts[span] = out, n
            return n, True
        return op

    def write_noop(self, span: str, build):
        """Force ``build()`` with a ``noop`` write; ``check`` gets the
        unevaluated result and evaluates it again."""
        def op():
            out = build()
            out.write.format("noop").mode("overwrite").save()
            self.outputs.setdefault(span, out)
            self.counts.setdefault(span, None)
            return None, True
        return op

    def check(self, run_check) -> None:
        """Check the first pass's output of every call that produced one."""
        for span, fn in self.checks().items():
            if span in self.outputs:
                run_check(span, lambda fn=fn, span=span: fn(self.outputs[span], self.counts[span]))

    def checks(self) -> dict:
        return {}


class GeoBatch(Part):
    """Skewed points through the grid join, point-in-polygon, Hilbert
    partitioning and tiling."""

    N = 50_000
    EPS = 1e-4
    TILE_LEVEL = 12

    def setup(self) -> None:
        self.release()
        self.pdf = gen.points(self.N, self.seed)
        self.zones = gen.city_zones(self.seed)
        self.pts = self.cache(self.pdf)
        self.polys = self.cache(
            self.zones,
            "poly_id long, vertices array<array<double>>, minx double, miny double,"
            " maxx double, maxy double",
        )
        e = self.EPS
        self.boxes = self.pts.select(
            "row_id",
            (F.col("x") - e).alias("minx"),
            (F.col("y") - e).alias("miny"),
            (F.col("x") + e).alias("maxx"),
            (F.col("y") + e).alias("maxy"),
        )
        # join sample: a 0.03-degree window on the busiest city; pip
        # sample: the bounding box of that city's first zone
        cx, cy, _ = gen.city_centres()
        z = self.zones.iloc[0]
        self.join_ids, self.join_sdf = self._window((cx[0] - 0.015, cy[0] - 0.015, cx[0] + 0.015, cy[0] + 0.015))
        self.pip_ids, self.pip_sdf = self._window((z.minx, z.miny, z.maxx, z.maxy))

    def _window(self, win):
        x, y = self.pdf.x.to_numpy(), self.pdf.y.to_numpy()
        m = (x >= win[0]) & (x <= win[2]) & (y >= win[1]) & (y <= win[3])
        ids = self.pdf.row_id.to_numpy()[m]
        return ids, self.spark.createDataFrame(pd.DataFrame({"sid": ids.astype(np.int64)}))

    def run(self, record) -> None:
        from geo_index_spark.operators.join import spatial_join
        from geo_index_spark.operators.partitioning import hilbert_partition
        from geo_index_spark.operators.pip import point_in_polygon_join
        from geo_index_spark.operators.tiling import tile_assign

        m = self.materialize
        record("join.spatial_join", self.N, m("join.spatial_join",
               lambda: spatial_join(self.boxes, self.boxes)))
        record("pip.point_in_polygon_join", self.N, m("pip.point_in_polygon_join",
               lambda: point_in_polygon_join(self.pts, self.polys)))
        record("partitioning.hilbert_partition", self.N, self.write_noop(
               "partitioning.hilbert_partition", lambda: hilbert_partition(self.pts, 8, cols=("x", "y"))))
        record("tiling.tile_assign", self.N, m("tiling.tile_assign",
               lambda: tile_assign(self.pts, level=self.TILE_LEVEL).groupBy("cell_id").count()))

    def checks(self) -> dict:
        return {
            "join.spatial_join": self._check_join,
            "pip.point_in_polygon_join": self._check_pip,
            "partitioning.hilbert_partition": self._check_hilbert,
            "tiling.tile_assign": self._check_tiles,
        }

    @staticmethod
    def _sample_rows(out, col, sdf):
        return out.join(F.broadcast(sdf), F.col(col) == F.col("sid")).drop("sid").toPandas()

    def _check_join(self, out, n):
        from geo_index_spark.localindex.flatbush import Flatbush

        got = self._sample_rows(out, "left_id", self.join_sdf)
        got = set(zip(got.left_id.tolist(), got.right_id.tolist()))
        e = self.EPS
        x, y = self.pdf.x.to_numpy(), self.pdf.y.to_numpy()
        fb = Flatbush(np.stack([x - e, y - e, x + e, y + e], axis=1))
        want = set()
        for i in self.join_ids.tolist():
            for j in fb.search(x[i] - e, y[i] - e, x[i] + e, y[i] + e).tolist():
                want.add((i, j))
        _expect(len(want) > 0, "join sample window is empty")
        _expect(got == want, f"join pairs differ in the sample window: {len(got)} vs {len(want)}")

    def _check_pip(self, out, n):
        from geo_index_spark.operators.pip import ray_cast_np

        got = self._sample_rows(out, "row_id", self.pip_sdf)
        got = set(zip(got.row_id.tolist(), got.poly_id.tolist()))
        sx = self.pdf.x.to_numpy()[self.pip_ids]
        sy = self.pdf.y.to_numpy()[self.pip_ids]
        want = set()
        for pid, ring, mnx, mny, mxx, mxy in self.zones.itertuples(index=False):
            inb = (sx >= mnx) & (sx <= mxx) & (sy >= mny) & (sy <= mxy)
            if not inb.any():
                continue
            inside = ray_cast_np(sx[inb], sy[inb], np.array(ring))
            want.update((int(i), int(pid)) for i in self.pip_ids[inb][inside])
        _expect(len(want) > 0, "no sampled point falls in a zone")
        _expect(got == want, f"pip pairs differ in the sample window: {len(got)} vs {len(want)}")

    def _check_hilbert(self, out, n):
        from geo_index_spark.hilbert import grid_coord, hilbert_u32

        got = out.select("row_id", "hilbert", F.spark_partition_id().alias("pid")).toPandas()
        _expect(len(got) == self.N and got.row_id.nunique() == self.N,
                f"hilbert_partition kept {got.row_id.nunique()} of {self.N} rows")
        x, y = self.pdf.x.to_numpy(), self.pdf.y.to_numpy()
        lox, loy, hix, hiy = x.min(), y.min(), x.max(), y.max()
        want = hilbert_u32(grid_coord(x, lox, hix - lox), grid_coord(y, loy, hiy - loy))
        _expect(np.array_equal(got.hilbert.to_numpy(), want[got.row_id.to_numpy()]),
                "hilbert keys differ from hilbert_u32")
        # range-partitioned and sorted within each partition
        pid, h = got.pid.to_numpy(), got.hilbert.to_numpy()
        _expect(bool(np.all(np.diff(pid) >= 0)), "partitions out of order")
        same = pid[1:] == pid[:-1]
        _expect(bool(np.all(np.diff(h)[same] >= 0)), "rows not sorted within a partition")
        _expect(bool(np.all(np.diff(h)[~same] >= 0)), "partition key ranges overlap")

    def _check_tiles(self, out, n):
        from geo_index_spark.operators.tiling import quad_cell_np

        got = out.toPandas().sort_values("cell_id")
        cells, counts = np.unique(
            quad_cell_np(self.pdf.x.to_numpy(), self.pdf.y.to_numpy(), self.TILE_LEVEL),
            return_counts=True,
        )
        _expect(np.array_equal(got.cell_id.to_numpy().astype(np.uint64), cells)
                and np.array_equal(got["count"].to_numpy(), counts),
                "tile rollup differs from quad_cell_np")


class KnnJoin(Part):
    """kNN join, k=3, of few lefts over clustered rights: the path that
    computes certified ring radii for every left up front."""

    K = 3
    RIGHTS = 20_000
    LEFTS = 200
    SAMPLE = 48

    def setup(self) -> None:
        self.release()
        # the lefts are skewed geotags; every right sits on a city
        self.rights = gen.city_points(self.RIGHTS, self.seed, stream=4)
        self.lefts = gen.points(self.LEFTS, self.seed, stream=5)
        self.right_df = self.cache(self.rights)
        self.left_df = self.cache(self.lefts)

    def run(self, record) -> None:
        from geo_index_spark.operators.knn import knn_join

        record("knn.knn_join.smallleft", self.RIGHTS, self.materialize(
            "knn.knn_join.smallleft", lambda: knn_join(self.left_df, self.right_df, self.K)))

    def checks(self) -> dict:
        return {"knn.knn_join.smallleft": lambda out, n: self._check(out, n, self.lefts, self.rights)}

    def _check(self, out, n, lefts, rights):
        _expect(n == len(lefts) * self.K, f"knn_join returned {n} rows for {len(lefts)} lefts")
        rng = np.random.default_rng([self.seed, 11])
        sample = rng.choice(len(lefts), size=min(self.SAMPLE, len(lefts)), replace=False)
        sdf = self.spark.createDataFrame(pd.DataFrame({"sid": sample.astype(np.int64)}))
        got = (out.join(F.broadcast(sdf), F.col("left_id") == F.col("sid")).drop("sid")
               .toPandas().sort_values(["left_id", "dist", "right_id"]))
        rx, ry, rid = rights.x.to_numpy(), rights.y.to_numpy(), rights.row_id.to_numpy()
        for lid, grp in got.groupby("left_id"):
            ids, d = _knn_brute(rx, ry, rid, lefts.x[lid], lefts.y[lid], self.K)
            _expect(np.array_equal(grp.right_id.to_numpy(), ids)
                    and np.array_equal(grp.dist.to_numpy(), d),
                    f"knn_join (dist, id) sequence differs for left {lid}")
        _expect(got.left_id.nunique() == len(sample), "knn_join lost sampled lefts")


class WebIngest(Part):
    """Pages through the web-geo pipeline (checkpointed extraction,
    Hilbert-clustered points snapshot, per-partition flatbush blobs,
    tile rollup), then a closed loop of point queries, one client, over
    the committed tables: Catalyst scans against the packed-index
    path."""

    PAGES = 1_000
    PIPELINE = {"num_partitions": 4, "n_buckets": 1}
    TILE_LEVEL = 8  # the pipeline's default
    # one cycle of the query mix: a quarter of the queries probe the
    # blob indexes, about 4x slower than a scan, so p50 falls among the
    # scans and p80 among the blob probes
    MIX = (
        "search.kd_range", "search.within", "knn.knn", "localbuild.search_partition_indexes",
        "search.kd_range", "search.within", "knn.knn", "localbuild.knn_partition_indexes",
    )
    QUERIES = 7 * len(MIX)  # 56: 11 samples beyond p80
    HALF = 1.0  # window half-width and radius, degrees
    K = 10

    def setup(self) -> None:
        self.release()
        self.pages_pdf, self.tags = gen.pages(self.PAGES, self.seed)
        self.pages = self.cache(self.pages_pdf)
        q = gen.points(self.QUERIES, self.seed, stream=7)
        self.qx, self.qy = q.x.to_numpy(), q.y.to_numpy()
        self.passes = 0
        self.answers: dict[int, list] = {}

    def _query(self, i: int, pts, idx):
        from geo_index_spark.operators.knn import knn
        from geo_index_spark.operators.localbuild import (
            knn_partition_indexes,
            search_partition_indexes,
        )
        from geo_index_spark.operators.search import kd_range, within

        qx, qy, h = float(self.qx[i]), float(self.qy[i]), self.HALF
        span = self.MIX[i % len(self.MIX)]
        build = {
            "search.kd_range": lambda: kd_range(pts, qx - h, qy - h, qx + h, qy + h).select("row_id"),
            "search.within": lambda: within(pts, qx, qy, h).select("row_id"),
            "knn.knn": lambda: knn(pts, qx, qy, self.K).select("row_id", "dist"),
            "localbuild.search_partition_indexes":
                lambda: search_partition_indexes(idx, qx - h, qy - h, qx + h, qy + h),
            "localbuild.knn_partition_indexes": lambda: knn_partition_indexes(idx, qx, qy, self.K),
        }[span]

        def op():
            rows = [tuple(r) for r in build().collect()]
            if i not in self.answers:
                self.answers[i] = rows
                return len(rows), True
            return len(rows), sorted(rows) == sorted(self.answers[i])
        return span, op

    def run(self, record) -> None:
        from geo_index_spark.pipeline.catalog import ParquetSnapshotCatalog
        from geo_index_spark.pipeline.webgeo import run_webgeo_pipeline

        # a pass writes into a fresh directory: the pipeline resumes
        # committed stages found in its work directory
        self.passes += 1
        workdir = os.path.join(self.work_dir, f"pass{self.passes}")
        if self.passes == 1:
            self.first_workdir = workdir

        def pipeline():
            res = run_webgeo_pipeline(self.spark, self.pages, workdir, **self.PIPELINE)
            if self.passes == 1:
                self.result = res
            return res.points, res.points == len(self.tags)
        if not record("pipeline.run_webgeo_pipeline", self.PAGES, pipeline):
            return  # no committed tables to query

        # the query side loads the committed tables once, as a server
        # would, then answers the queries one after another
        cat = ParquetSnapshotCatalog(os.path.join(workdir, "catalog"))
        pts = cat.read(self.spark, "points").persist(StorageLevel.MEMORY_AND_DISK)
        idx = cat.read(self.spark, "point_index").persist(StorageLevel.MEMORY_AND_DISK)
        pts.count()
        idx.count()
        for i in range(self.QUERIES):
            span, op = self._query(i, pts, idx)
            record(span, 0, op, query=True)
        pts.unpersist()
        idx.unpersist()

    def check(self, run_check) -> None:
        if self.passes:
            run_check("pipeline.run_webgeo_pipeline", self._check_pipeline)
            for i, rows in self.answers.items():
                span = self.MIX[i % len(self.MIX)]
                run_check(span, lambda i=i, rows=rows, span=span: self._check_query(i, span, rows))

    def _check_pipeline(self):
        from geo_index_spark.operators.tiling import quad_cell_np
        from geo_index_spark.pipeline.catalog import ParquetSnapshotCatalog
        from geo_index_spark.pipeline.checkpoint import CheckpointedPipeline
        from geo_index_spark.webtext.extract import extract_text

        r = self.result
        _expect(r.pages == self.PAGES and r.points == len(self.tags),
                f"pipeline counted {r.pages} pages, {r.points} points")
        ext = (CheckpointedPipeline(self.spark, os.path.join(self.first_workdir, "stages"))
               .read_stage("extract").select("url", "text_extracted", "x", "y").toPandas())
        ext = ext.set_index("url").loc[self.pages_pdf.url]
        want = [extract_text(h) for h in self.pages_pdf.html]
        bad = sum(a != b for a, b in zip(ext.text_extracted.tolist(), want))
        _expect(len(ext) == self.PAGES and bad == 0, f"{bad} extracted texts differ from extract_text")
        tagged = ext.loc[self.tags.url]
        _expect(np.array_equal(tagged.x.to_numpy(), self.tags.x.to_numpy())
                and np.array_equal(tagged.y.to_numpy(), self.tags.y.to_numpy())
                and int(ext.x.notna().sum()) == len(self.tags), "geotags differ from the pages")

        cat = ParquetSnapshotCatalog(os.path.join(self.first_workdir, "catalog"))
        pts = cat.read(self.spark, "points").select("row_id", "url", "x", "y").toPandas()
        got = pts.set_index("url").sort_index()
        want = self.tags.set_index("url").sort_index()
        _expect(got.index.equals(want.index) and pts.row_id.is_unique
                and np.array_equal(got.x.to_numpy(), want.x.to_numpy())
                and np.array_equal(got.y.to_numpy(), want.y.to_numpy()),
                "points snapshot differs from the pages' geotags")
        self.row_id = dict(zip(pts.url, pts.row_id))
        n_idx = cat.read(self.spark, "point_index").agg(F.sum("num_items")).first()[0]
        _expect(n_idx == len(self.tags), f"point_index holds {n_idx} of {len(self.tags)} points")
        tiles = cat.read(self.spark, "tiles").toPandas().sort_values("cell_id")
        cells, counts = np.unique(
            quad_cell_np(self.tags.x.to_numpy(), self.tags.y.to_numpy(), self.TILE_LEVEL),
            return_counts=True,
        )
        _expect(np.array_equal(tiles.cell_id.to_numpy().astype(np.uint64), cells)
                and np.array_equal(tiles.n_pages.to_numpy(), counts),
                "tile snapshot differs from quad_cell_np")

    def _check_query(self, i: int, span: str, rows: list):
        _expect(hasattr(self, "row_id"), "pipeline output unchecked")
        x, y = self.tags.x.to_numpy(), self.tags.y.to_numpy()
        ids = np.array([self.row_id[u] for u in self.tags.url], dtype=np.int64)
        qx, qy, h = float(self.qx[i]), float(self.qy[i]), self.HALF
        if span.startswith("knn.") or span.endswith("knn_partition_indexes"):
            want_ids, want_d = _knn_brute(x, y, ids, qx, qy, self.K)
            got_ids = np.array([r[0] for r in rows], dtype=np.int64)
            got_d = np.array([r[1] for r in rows])
            exact = span.startswith("knn.")  # flatbush computes its own distances
            _expect(np.array_equal(got_ids, want_ids)
                    and (np.array_equal(got_d, want_d) if exact else np.allclose(got_d, want_d, rtol=1e-12)),
                    f"query {i}: (dist, id) sequence differs from brute force")
            return
        if span == "search.within":
            m = (x - qx) * (x - qx) + (y - qy) * (y - qy) <= h * h
        else:
            m = (x >= qx - h) & (x <= qx + h) & (y >= qy - h) & (y <= qy + h)
        got = sorted(r[0] for r in rows)
        _expect(got == sorted(ids[m].tolist()), f"query {i}: {len(got)} rows vs {int(m.sum())} by brute force")


class Dedup(Part):
    """MinHash (md5 and xxhash64) and cosine-LSH near-duplicate search
    on planted near-duplicates; no geo code runs."""

    DOCS = 1_000
    VECS = 20_000
    TAU = 0.99
    WARMUP_SHARE = 16  # the warm-up calls see 1/16 of the rows

    def setup(self) -> None:
        self.release()
        self.docs_pdf = gen.documents(self.DOCS, self.seed)
        self.emb_pdf = gen.embeddings(self.VECS, self.seed)
        self.docs = self.cache(self.docs_pdf)
        self.emb = self.cache(self.emb_pdf, "vec_id long, embedding array<double>")

    def _calls(self, docs, emb):
        from geo_index_spark.textops.ann import lsh_cosine_near_dup_pairs_fast
        from geo_index_spark.textops.dedup import (
            minhash_near_dup_pairs,
            minhash_near_dup_pairs_fast,
        )

        return (
            ("textops.dedup.minhash_near_dup_pairs", self.DOCS, lambda: minhash_near_dup_pairs(docs)),
            ("textops.dedup.minhash_near_dup_pairs_fast", self.DOCS,
             lambda: minhash_near_dup_pairs_fast(docs)),
            ("textops.ann.lsh_cosine_near_dup_pairs_fast", self.VECS,
             lambda: lsh_cosine_near_dup_pairs_fast(emb, tau=self.TAU)),
        )

    def warmup(self) -> None:
        """Each call once on a sample. At these sizes a call's first run
        in a JVM (class loading, JIT, Python worker start) costs more
        than its hashing, and swings with host load."""
        docs = self.docs.limit(self.DOCS // self.WARMUP_SHARE)
        emb = self.emb.limit(self.VECS // self.WARMUP_SHARE)
        for _, _, build in self._calls(docs, emb):
            build().count()

    def run(self, record) -> None:
        for span, rows, build in self._calls(self.docs, self.emb):
            record(span, rows, self.materialize(span, build))

    def checks(self) -> dict:
        return {
            "textops.dedup.minhash_near_dup_pairs": self._check_md5,
            "textops.dedup.minhash_near_dup_pairs_fast": self._check_fast,
            "textops.ann.lsh_cosine_near_dup_pairs_fast": self._check_lsh,
        }

    @staticmethod
    def _pairs(out) -> set:
        p = out.select("a_id", "b_id").toPandas()
        return set(zip(p.a_id.tolist(), p.b_id.tolist()))

    def _check_md5(self, out, n):
        import duckdb

        from geo_index_spark.textops.dedup import minhash_near_dup_pairs_sql

        con = duckdb.connect()
        try:
            con.register("documents", self.docs_pdf)
            want = {(int(a), int(b)) for a, b in con.sql(minhash_near_dup_pairs_sql()).fetchall()}
        finally:
            con.close()
        got = self._pairs(out)
        _expect(len(want) > 0, "no near-duplicate pairs planted")
        _expect(got == want, f"minhash pairs differ from the DuckDB oracle: {len(got)} vs {len(want)}")

    def _check_fast(self, out, n):
        got = self._pairs(out)
        text = dict(zip(self.docs_pdf.doc_id, self.docs_pdf.text))

        def sh(t):
            return {t[i:i + 4] for i in range(len(t) - 3)}
        for a, b in got:
            sa, sb = sh(text[a]), sh(text[b])
            _expect(2 * len(sa & sb) >= len(sa | sb), f"pair ({a}, {b}) has Jaccard < 1/2")
        _expect(len(got) > 0, "fast minhash found no pairs")

    def _check_lsh(self, out, n):
        got = self._pairs(out)
        v = np.stack(self.emb_pdf.embedding.to_numpy())
        for a, b in got:
            cos = float(v[a] @ v[b] / (np.linalg.norm(v[a]) * np.linalg.norm(v[b])))
            _expect(round(cos, 6) >= self.TAU, f"pair ({a}, {b}) has cosine {cos:.6f} < {self.TAU}")
        _expect(len(got) > 0, "LSH found no pairs")


# workload name -> the parts it runs, in order, in one Spark process
WORKLOADS = {
    "geojoin": (GeoBatch, WebIngest, KnnJoin),
    "dedup": (Dedup,),
}
