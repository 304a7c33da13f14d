"""The benchmark's workloads: inputs made from the seed, one operation each,
and the check of every operation's output against expectations computed
outside the timed region.

Every operation is issued by one client (this process) and waits for its
result before the next one starts: a closed loop with one client.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.operators import assign, encode, knn, pip
from mapnik_vector_tile_spark.operators import decode as D
from mapnik_vector_tile_spark.operators import geom_tiles as GT
from mapnik_vector_tile_spark.sources import images as IMG
from tracing import Tracer

PROPS = ["image_id", "caption", "fmt"]
FULL_ROWS = 1_000_000  # FIXTURES.md bench size; operator thresholds scale from it
ROWS = 50_000  # the benchmark's table: the first ROWS of the FIXTURES.md table
FIXTURE_SCHEMA = [
    ("image_id", "string"), ("bytes", "binary"), ("w", "int32"), ("h", "int32"),
    ("fmt", "string"), ("caption", "string"), ("phash", "int64"),
]
now = time.perf_counter


def _digest(cols):
    """Order-free digest of the rows' values (sum of per-row hashes)."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("digest")


class Op:
    """One operation: its timed parts, whether its output checked out, and
    the output statistics the metrics need."""

    def __init__(self):
        self.parts: dict[str, float] = {}
        self.stats: dict[str, float] = {}
        self.errors: list[str] = []
        self.span_id: int | None = None
        self.extra = False  # another workload's operation, run for its layers
        self.cpu_s = float("nan")  # op_cpu_s of this operation, set by run.py
        self.driver_cpu_s = 0.0  # this process's CPU time over the timed parts

    @property
    def total_s(self) -> float:
        return sum(self.parts.values())

    @property
    def ok(self) -> bool:
        return not self.errors

    def expect(self, what: str, got, want) -> None:
        if got != want:
            self.errors.append(f"{what}: got {got!r}, expected {want!r}")


class Workload:
    name = ""
    rows = ROWS
    # CPU clock of this (driver) process; run.py swaps in one that leaves
    # out its memory sampler
    driver_cpu = staticmethod(time.process_time)

    def __init__(self, spark, seed: int, work: str, cores: int):
        self.spark, self.seed, self.work, self.cores = spark, seed, work, cores
        self.out_dir = os.path.join(work, "out")
        self.n_ops = 0
        self.extra_ops: list[Op] = []  # traced operations of other workloads

    # -- input ---------------------------------------------------------------

    def fixture_path(self) -> str:
        return IMG.fixture_path(self.rows, os.environ["SPARK_GRAFT_FIXTURE_DIR"])

    def check_fixture(self) -> None:
        """Row count and schema from the parquet footers; a partly deleted or
        foreign table fails here instead of being measured."""
        path = self.fixture_path()
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise RuntimeError(f"fixture {path} holds no parquet files")
        n = 0
        for p in parts:
            meta = pq.ParquetFile(p)
            schema = [(f.name, str(f.type)) for f in meta.schema_arrow]
            if schema != FIXTURE_SCHEMA:
                raise RuntimeError(f"fixture part {p} has schema {schema}, expected {FIXTURE_SCHEMA}")
            n += meta.metadata.num_rows
        if n != self.rows:
            raise RuntimeError(f"fixture {path} holds {n} rows, expected {self.rows}")

    def load(self) -> None:
        self.check_fixture()
        self.located = (
            IMG.with_location(self.spark.read.parquet(self.fixture_path()))
            .select(*PROPS, "lon", "lat")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self.located.count()

    def prepare(self) -> None:
        """Expectations, computed once per run outside any timed region."""

    def warm_up(self, tr) -> Op:
        """One untimed, unchecked operation: it starts the Python workers and
        compiles what the first measured operation would otherwise pay for."""
        return self.op(tr)

    # -- operation -------------------------------------------------------------

    def op(self, tracer) -> Op:
        raise NotImplementedError

    def headline(self, ops: list[Op]) -> dict[str, tuple[list[float], str]]:
        """Per-operation values of the workload's own metrics."""
        raise NotImplementedError

    def traced_extras(self, tracer, ops: list[Op]) -> dict[str, float]:
        """Layer metrics measured beside the operations (noop sinks, kernels)."""
        return {}


def _np_images(path: str):
    t = pq.read_table(path, columns=["image_id", "phash"])
    ids = np.asarray(t.column("image_id").to_pylist(), dtype=object)
    return ids, t.column("phash").to_numpy()


class PointTiles(Workload):
    """assign -> encode -> parquet (build); parquet -> explode -> decode (read)."""

    def __init__(self, *a, zoom: int):
        super().__init__(*a)
        self.zoom = zoom
        scale = self.rows / FULL_ROWS
        # The operators' skew thresholds are sized for the 1M-row table; they
        # scale with the table so the hotspot tile takes the same salted
        # encode path and the same decode split as at full size.
        self.hot_threshold = max(1, int(120_000 * scale))
        self.hot_bytes = max(1, int((1 << 21) * scale))
        self.chunk_bytes = max(1, int((1 << 20) * scale))

    def prepare(self) -> None:
        ids, phash = _np_images(self.fixture_path())
        lon, lat = IMG.location_np(ids, phash)
        tx, ty = tilemath.lonlat_to_tile_np(lon, lat, self.zoom)
        _, counts = np.unique(tx * (1 << 32) + ty, return_counts=True)
        self.want_tiles = int(len(counts))
        self.want_hot = int((counts > self.hot_threshold).sum())
        self.want_digest = self.located.agg(_digest(PROPS)).collect()[0]["digest"]

    def op(self, tr) -> Op:
        op, spark = Op(), self.spark
        out = os.path.join(self.out_dir, f"tiles_z{self.zoom}")
        with tr.span("op", workload=self.name) as root:
            t0, c0 = now(), self.driver_cpu()
            with tr.span("assign.plan", layer="operators.assign"):
                assigned = assign.assign_tiles(self.located, self.zoom)
            with tr.span("encode.plan", layer="operators.encode"):
                tiles = encode.build_point_tiles(
                    assigned, prop_cols=PROPS, order_col="image_id",
                    hot_threshold=self.hot_threshold,
                )
            with tr.span("encode.run", layer="operators.encode"):
                tiles.write.mode("overwrite").parquet(out)
            t1 = now()
            with tr.span("decode.plan", layer="operators.decode"):
                stored = spark.read.parquet(out)
                decoded = D.decode_tiles_columnar(
                    D.explode_hot_tiles(
                        stored, chunk_bytes=self.chunk_bytes, hot_bytes=self.hot_bytes
                    ),
                    PROPS,
                )
            with tr.span("decode.run", layer="operators.decode"):
                got = decoded.agg(F.count("*").alias("n"), _digest(PROPS)).collect()[0]
            t2, c2 = now(), self.driver_cpu()
        op.parts = {"build": t1 - t0, "read": t2 - t1}
        op.driver_cpu_s = c2 - c0
        op.span_id = root["id"] if root else None
        stored_t = pq.read_table(out, columns=["tile", "n_features"])
        feats = stored_t.column("n_features").to_numpy()
        built = {
            "tiles": len(feats),
            "feats": int(feats.sum()),
            "bytes": int(pc.sum(pc.binary_length(stored_t.column("tile"))).as_py() or 0),
            "hot": int((feats > self.hot_threshold).sum()),
        }
        op.expect("build tiles", built["tiles"], self.want_tiles)
        op.expect("build features", built["feats"], self.rows)
        op.expect("build hot tiles", built["hot"], self.want_hot)
        op.expect("read features", got["n"], self.rows)
        op.expect("read digest", got["digest"], self.want_digest)
        op.stats = {"stored_bytes": float(built["bytes"]), "hot": built["hot"],
                    "tiles": built["tiles"]}
        self.last_out = out
        return op

    def headline(self, ops):
        return {
            "build.rows_per_s": ([self.rows / o.parts["build"] for o in ops], "1/s"),
            "read.features_per_s": ([self.rows / o.parts["read"] for o in ops], "1/s"),
            "stored_bytes_per_feature": ([o.stats["stored_bytes"] / self.rows for o in ops], "B"),
        }

    def traced_extras(self, tr, ops):
        t0 = now()
        with tr.span("assign.run", layer="operators.assign"):
            assign.assign_tiles(self.located, self.zoom).write.format("noop").mode(
                "overwrite"
            ).save()
        res = {"assign.rows_per_s": self.rows / (now() - t0)}
        last = ops[-1]
        res["encode.hot_tiles"] = float(last.stats["hot"])
        res["encode.cold_tiles"] = float(last.stats["tiles"] - last.stats["hot"])
        res.update(point_kernels(self.last_out, PROPS))
        return res


class SpatialJoin(Workload):
    """pip_join_rect against the z3 grid, then one 100-query k=5 kNN batch."""

    K, QUERIES, HOT_SHARE = 5, 100, 0.3

    def prepare(self) -> None:
        pdf = self.located.select("image_id", "lon", "lat").toPandas()
        order = np.argsort(pdf["image_id"].to_numpy())
        self.ids = pdf["image_id"].to_numpy().astype(str)[order]
        self.lon = pdf["lon"].to_numpy()[order]
        self.lat = pdf["lat"].to_numpy()[order]
        idx = np.array([int(s[3:]) for s in self.ids], dtype=np.int64)
        hot = (idx % 10) < 3  # FIXTURES.md §1 hotspot clause
        self.hot_rows, self.cold_rows = np.flatnonzero(hot), np.flatnonzero(~hot)
        self.boundaries = IMG.tile_boundaries(self.spark, zooms=(3,), buffer_px=0)

    def warm_up(self, tr) -> Op:
        """On a tenth of the rows: these job-bound operators warm up as well
        as on the whole table (the first measured operation is no slower),
        ~10 s sooner. The point workload's first operation stays slow after
        a partial warm-up, so it keeps the full one."""
        full = self.located
        self.located = full.sample(fraction=0.1, seed=self.seed).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            return self.op(tr)
        finally:
            self.located.unpersist()
            self.located = full
            self.n_ops = 0

    def _batch(self):
        """Seeded query batch with the table's own hotspot share, plus the
        expected neighbours from a numpy brute force (ties broken by id)."""
        rng = np.random.default_rng([self.seed, self.n_ops])
        n_hot = int(round(self.QUERIES * self.HOT_SHARE))
        rows = np.concatenate([
            rng.choice(self.hot_rows, n_hot, replace=False),
            rng.choice(self.cold_rows, self.QUERIES - n_hot, replace=False),
        ])
        want = set()
        for r in rows:
            dlon = self.lon[r] - self.lon
            dlat = self.lat[r] - self.lat
            d2 = dlon * dlon + dlat * dlat  # the operator's euclid d2, same order
            d2[r] = np.inf  # a query is not its own neighbour
            kth = np.partition(d2, self.K - 1)[self.K - 1]
            near = np.flatnonzero(d2 <= kth)  # every row tied with the k-th
            best = near[np.lexsort((self.ids[near], d2[near]))][: self.K]
            for rank, c in enumerate(best, 1):
                want.add((self.ids[r], self.ids[c], rank))
        q = self.spark.createDataFrame(
            [(str(self.ids[r]), float(self.lon[r]), float(self.lat[r])) for r in rows],
            "image_id string, lon double, lat double",
        )
        return q, want

    def op(self, tr) -> Op:
        op = Op()
        queries, want = self._batch()
        self.n_ops += 1
        with tr.span("op", workload=self.name) as root:
            t0, c0 = now(), self.driver_cpu()
            with tr.span("pip.plan", layer="operators.pip"):
                joined = pip.pip_join_rect(self.located, self.boundaries, z=3)
            with tr.span("pip.run", layer="operators.pip"):
                got = joined.agg(
                    F.count("*").alias("rows"),
                    F.sum(F.col("inside").cast("long")).alias("inside"),
                ).collect()[0]
            t1 = now()
            with tr.span("knn.plan", layer="operators.knn"):
                res = knn.knn_ring_expansion(
                    self.located, queries, k=self.K, z=9, query_count=self.QUERIES
                )
            with tr.span("knn.run", layer="operators.knn"):
                rows = res.select("query_id", "neighbor_id", "rank").collect()
            t2, c2 = now(), self.driver_cpu()
        op.parts = {"pip": t1 - t0, "knn": t2 - t1}
        op.driver_cpu_s = c2 - c0
        op.span_id = root["id"] if root else None
        op.expect("pip inside rows", got["inside"], self.rows)
        op.expect("pip joined rows", got["rows"], self.rows)
        got_knn = {(r["query_id"], r["neighbor_id"], int(r["rank"])) for r in rows}
        if got_knn != want:
            op.errors.append(
                f"knn: {len(got_knn ^ want)} (query, neighbour, rank) rows differ "
                "from the brute force"
            )
        op.stats = {"joined": float(got["rows"]), "inside": float(got["inside"] or 0)}
        return op

    def headline(self, ops):
        return {
            "pip.rows_per_s": ([self.rows / o.parts["pip"] for o in ops], "1/s"),
            "knn.batch_s": ([o.parts["knn"] for o in ops], "s"),
        }

    def traced_extras(self, tr, ops):
        """geom_z6's operation, traced after this workload's own: the
        geometry layers are measured on spatial_join's traced runs (the
        untraced runs leave them out to fit the run budget)."""
        g = GeomTiles(self.spark, self.seed, self.work, self.cores)
        g.name = "geom_z6"
        g.driver_cpu = self.driver_cpu
        g.load()
        g.prepare()
        g.warm_up(Tracer("", enabled=False))
        op = g.op(tr)
        op.extra = True
        self.extra_ops.append(op)
        res = g.traced_extras(tr, [op])
        res["geom.geoms_per_s"] = g.n_geoms / op.parts["geom"]
        return res


HALF = tilemath.HALF_OF_EQUATOR


def make_geoms(seed: int, n: int):
    """bench.py's geom_tiles generator; the seed picks a disjoint id range.
    Returns (gid, wkt) lists plus the coordinates the WKT spells exactly."""
    i = np.arange(n, dtype=np.int64) + np.int64(seed) * n
    u = i.astype(np.uint64)
    hx = ((u * np.uint64(2654435761)) % np.uint64(2**32)).astype(np.float64)
    hy = ((u * np.uint64(2246822519)) % np.uint64(2**32)).astype(np.float64)
    cx = -HALF * 0.9 + hx / 2**32 * HALF * 1.8
    cy = -HALF * 0.6 + hy / 2**32 * HALF * 1.2
    s = HALF / 64 * np.where(i % 10 != 0, 0.02, 1.5)  # 10% span tiles
    line = i % 2 == 0
    x1, x2, y1 = cx + s, cx + 2 * s, cy + s
    wkts = [
        f"LINESTRING({a} {b},{c} {d},{e} {b})" if ln
        else f"POLYGON(({a} {b},{c} {b},{c} {d},{a} {d},{a} {b}))"
        for a, b, c, d, e, ln in zip(
            cx.tolist(), cy.tolist(), x1.tolist(), y1.tolist(), x2.tolist(), line.tolist()
        )
    ]
    gids = [f"g{v:09d}" for v in i.tolist()]
    return gids, wkts, (cx, cy, x1, x2, y1, line)


def _clip_len(ax, ay, bx, by, lo=0.0, hi=4096.0):
    """Length of segment a->b inside the box [lo, hi]^2 (Liang-Barsky)."""
    dx, dy = bx - ax, by - ay
    t0, t1 = np.zeros_like(ax), np.ones_like(ax)
    with np.errstate(divide="ignore", invalid="ignore"):
        for p, q in ((-dx, ax - lo), (dx, hi - ax), (-dy, ay - lo), (dy, hi - ay)):
            r = q / p
            par = p == 0
            t0 = np.where(~par & (p < 0), np.maximum(t0, r), t0)
            t1 = np.where(~par & (p > 0), np.minimum(t1, r), t1)
            t1 = np.where(par & (q < 0), -1.0, t1)
    return np.maximum(t1 - t0, 0.0) * np.hypot(dx, dy)


class GeomTiles(Workload):
    """build_geom_tiles over seeded lines and polygons at z6."""

    ZOOM, EXTENT, SIMPLIFY = 6, 4096, 2.0
    n_geoms = 200_000  # the bench.py geom_tiles leg
    # a clipped piece this many px long (or wide) survives quantization and
    # simplification for sure; thinner slivers are counted as "may or may not
    # be painted" by the independent count
    SURE_PX = 4.0

    def load(self) -> None:
        import pandas as pd

        gids, wkts, self.coords = make_geoms(self.seed, self.n_geoms)
        self.sample_wkts = wkts[:: max(1, self.n_geoms // 2000)]
        pdf = pd.DataFrame({"gid": gids, "geom_wkt": wkts})
        self.geoms = self.spark.createDataFrame(pdf, "gid string, geom_wkt string").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        self.geoms.count()

    def prepare(self) -> None:
        """Independent tile and feature counts: every (geometry, tile) pair of
        the envelope fan-out, with the clipped piece measured in tile px."""
        cx, cy, x1, x2, y1, line = self.coords
        n = 2**self.ZOOM
        ts = tilemath.EARTH_CIRCUMFERENCE / n
        ex1 = np.where(line, x2, x1)
        tx0 = np.clip(np.floor((cx + HALF) / ts), 0, n - 1).astype(np.int64)
        tx1 = np.clip(np.floor((ex1 + HALF) / ts), 0, n - 1).astype(np.int64)
        ty0 = np.clip(np.floor((HALF - y1) / ts), 0, n - 1).astype(np.int64)
        ty1 = np.clip(np.floor((HALF - cy) / ts), 0, n - 1).astype(np.int64)
        nx, ny = tx1 - tx0 + 1, ty1 - ty0 + 1
        per = nx * ny
        self.fanout = float(per.sum()) / self.n_geoms
        g = np.repeat(np.arange(self.n_geoms), per)
        k = np.arange(len(g)) - np.repeat(np.cumsum(per) - per, per)
        tx = tx0[g] + k % nx[g]
        ty = ty0[g] + k // nx[g]
        minx, _, maxx, maxy = tilemath.tile_mercator_bbox_np(tx, ty, self.ZOOM)
        sx = self.EXTENT / (maxx - minx)

        def px(x):
            return (x[g] - minx) * sx

        def py(y):
            return (maxy - y[g]) * sx

        sure = np.zeros(len(g), dtype=bool)
        maybe = np.zeros(len(g), dtype=bool)
        # polygons: axis-aligned squares, so the clipped piece is a rectangle
        ox = np.minimum(px(x1), self.EXTENT) - np.maximum(px(cx), 0.0)
        oy = np.minimum(py(cy), self.EXTENT) - np.maximum(py(y1), 0.0)
        side = np.minimum(ox, oy)
        poly = ~line[g]
        sure |= poly & (side >= self.SURE_PX)
        maybe |= poly & (side > 0) & (side < self.SURE_PX)
        # lines: the two legs of the V, clipped to the tile
        length = _clip_len(px(cx), py(cy), px(x1), py(y1)) + _clip_len(
            px(x1), py(y1), px(x2), py(cy)
        )
        sure |= ~poly & (length >= self.SURE_PX)
        maybe |= ~poly & (length > 0) & (length < self.SURE_PX)
        key = tx * n + ty
        self.want_feats = (int(sure.sum()), int(sure.sum() + maybe.sum()))
        self.want_tiles = (
            len(np.unique(key[sure])), len(np.unique(key[sure | maybe]))
        )

    def build(self, tr, op: Op) -> None:
        """The timed geometry-tile build, added to ``op``."""
        t0, c0 = now(), self.driver_cpu()
        with tr.span("geom_tiles.plan", layer="operators.geom_tiles"):
            tiles = GT.build_geom_tiles(
                self.geoms, ["gid"], z=self.ZOOM,
                simplify_distance=self.SIMPLIFY, id_col="gid",
            )
        with tr.span("geom_tiles.run", layer="operators.geom_tiles"):
            got = tiles.agg(
                F.sum((F.col("n_features") > 0).cast("long")).alias("tiles"),
                F.sum("n_features").alias("feats"),
            ).collect()[0]
        op.parts["geom"] = now() - t0
        op.driver_cpu_s += self.driver_cpu() - c0
        for what, val, (lo, hi) in (
            ("geom tiles", got["tiles"], self.want_tiles),
            ("geom features", got["feats"], self.want_feats),
        ):
            if val is None or not lo <= val <= hi:
                op.errors.append(f"{what}: got {val}, independent count {lo}..{hi}")

    def op(self, tr) -> Op:
        op = Op()
        with tr.span("op", workload=self.name) as root:
            self.build(tr, op)
        op.span_id = root["id"] if root else None
        return op

    def headline(self, ops):
        return {"geom.geoms_per_s": ([self.n_geoms / o.parts["geom"] for o in ops], "1/s")}

    def traced_extras(self, tr, ops):
        return {
            "geom_tiles.rows_per_geom": self.fanout,
            "geometry.clip_simplify_geoms_per_s": geometry_kernel(self.sample_wkts, self.ZOOM),
        }


# --------------------------------------------------------------------------
# single-process kernels, run on the workload's own payloads


def point_kernels(tiles_dir: str, props: list[str]) -> dict[str, float]:
    """zlib and the columnar decode kernel on the tiles the workload stored."""
    parts = sorted(glob.glob(os.path.join(tiles_dir, "*.parquet")))
    stored = [
        bytes(t) for p in parts
        for t in pq.read_table(p, columns=["tile"]).column("tile").to_pylist() if t
    ]
    t0 = now()
    raw = [Z.decompress(t) for t in stored]
    t_dec = now() - t0
    t0 = now()
    for r in raw:
        Z.compress(r)
    t_comp = now() - t0
    res = {
        "compression.compress_tiles_per_s": len(raw) / t_comp,
        "compression.decompress_tiles_per_s": len(raw) / t_dec,
        "compression.saved_share": 1.0 - sum(map(len, stored)) / sum(map(len, raw)),
    }
    # one stored partition through the decode kernel, in this process
    part = max(parts, key=os.path.getsize)
    pdf = pq.read_table(part, columns=["z", "x", "y", "tile"]).to_pandas()
    kernel = D.columnar_kernel(props)
    t0 = now()
    n = sum(len(out) for out in kernel(iter([pdf])))
    res["decode.kernel_feats_per_s_core"] = n / (now() - t0)
    return res


def geometry_kernel(wkts: list[str], z: int, extent: int = 4096) -> float:
    """simplify_geom + clip (clip_geom_inside where the feature lies inside
    its tile, as the encoder decides) on a sample of the workload's
    geometries, in tile px space."""
    ts = tilemath.EARTH_CIRCUMFERENCE / 2**z
    box = tilemath.buffered_tile_px_box(extent, 0)
    prepared = []
    for w in wkts:
        geom = G.from_wkt(w)
        x0, y0 = (float(v) for v in w.split("(")[-1].split(",")[0].split())
        tx, ty = int((x0 + HALF) // ts), int((HALF - y0) // ts)
        minx, miny, maxx, maxy = tilemath.tile_mercator_bbox_np(tx, ty, z)
        vt = G.ViewTransform(float(minx), float(miny), float(maxx), float(maxy), extent, extent)
        tg = G.transform_geom(geom, vt)
        bb = G._geom_px_bbox(tg)
        inside = bb is not None and bb[0] >= box[0] and bb[1] >= box[1] \
            and bb[2] <= box[2] and bb[3] <= box[3]
        prepared.append((tg, inside))
    t0 = now()
    for tg, inside in prepared:
        sg = G.simplify_geom(tg, GeomTiles.SIMPLIFY)
        if inside:
            G.clip_geom_inside(sg)
        else:
            G.clip_geom(sg, box)
    return len(prepared) / (now() - t0)


WORKLOADS = {
    "points_z13_sparse": lambda *a: PointTiles(*a, zoom=13),
    "points_z6_dense": lambda *a: PointTiles(*a, zoom=6),
    "spatial_join": SpatialJoin,
    "geom_z6": GeomTiles,
}
