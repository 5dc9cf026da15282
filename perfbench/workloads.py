"""The four workloads: set-up, one operation, its output check, its replay.

Every call into the library goes through a public function of
``lasutility_spark.engine`` (or ``datagen``/``gridlib``); the replays
drive a stage's per-tile loop directly.  Expected outputs come from
``expected.json`` (pinned per grid offset by ``pin.py``) and from an
in-process run of the same per-tile loop on a fixed sample of tiles.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from lasutility_spark import datagen
from lasutility_spark.engine import checkpoint, pip_stage, points, tin_stage
from lasutility_spark.engine.tiling import cell_id_from_caption
from lasutility_spark.gridlib import phash, png, tilenamer, topodb
from lasutility_spark.gridlib import wkb as wkb_mod
from lasutility_spark.gridlib.tin import Tin

from . import fixture
from .trace import Replay

PX = 128
SIZE_NORTH = 1000
CLASSMAP = {**topodb.ALL_POLYGON, **topodb.ALL_LINE}
TILE_SUMS = ("n_points", "n_triangles", "filled_cells")
PIXEL_ATOL = 1e-3  # below one 16-bit quantum (500 m / 65534)
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def load_expected(index: int) -> dict:
    with open(EXPECTED) as f:
        return json.load(f)["offsets"][str(index)]


@dataclass
class Context:
    """Per-run state a workload may use: the session, the work dir, and
    in the traced run the status reader and tracer."""

    spark: object = None
    workdir: str = ""
    reader: object = None          # StatusReader, traced run only
    tracer: object = None          # Tracer, traced run only
    layers: dict = field(default_factory=dict)   # per-op layer values

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


def cache_tiles(ctx: Context, fx: fixture.Fixture, quarter: bool = False):
    """The image table, cached and partitioned as bench.py prepares it
    (cell_id + parent_id columns, hash-partitioned on parent_id)."""
    spark = ctx.spark
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = points.read_images(spark, fx.path).withColumn(
        "cell_id", cell_id_from_caption(SIZE_NORTH))
    if quarter:
        df = df.filter(F.crc32(F.col("caption")) % 4 == 0)
    df = (df.withColumn("parent_id", pip_stage.parent_cell_col(3))
          .repartition(n_part, "parent_id").cache())
    with ctx.span("scan.cache_build"):
        t0 = time.perf_counter()
        df.count()
        ctx.layers["scan.cache_build_s"] = time.perf_counter() - t0
    return df


def cell_of(caption: str) -> int:
    _, minx, miny, *_ = datagen.parse_caption(caption)
    return int(tilenamer.cell_id(np.array([minx]), np.array([miny]), SIZE_NORTH)[0])


def decoded(data) -> np.ndarray:
    return png.png16_to_dem(bytes(data), datagen.Z_MIN, datagen.Z_MAX)


def pixel_errors(got: dict, want: dict) -> list[str]:
    """Compare decoded pixels (never encoded bytes) tile by tile."""
    errs = []
    for name, ref in want.items():
        if got.get(name) is None:
            errs.append(f"{name}: sample tile missing from output")
        elif not np.allclose(decoded(got[name]), decoded(ref), rtol=0,
                             atol=PIXEL_ATOL, equal_nan=True):
            errs.append(f"{name}: decoded pixels differ from the reference")
    return errs


def feature_lists(feats: pd.DataFrame, cells: set[int] | None = None) -> dict:
    """{cell_id: [(seq, luokka, wkb), ...]} from the feature envelopes,
    with the tile-cover arithmetic of ``pip_stage.explode_feature_covers``
    evaluated in numpy (an in-process stand-in for the Spark dimension)."""
    c0 = np.floor((feats["minx"] - tilenamer.ORIGIN_EAST) / SIZE_NORTH).to_numpy(np.int64)
    c1 = np.floor((feats["maxx"] - tilenamer.ORIGIN_EAST) / SIZE_NORTH).to_numpy(np.int64)
    r0 = np.floor((feats["miny"] - tilenamer.ORIGIN_NORTH) / SIZE_NORTH).to_numpy(np.int64)
    r1 = np.floor((feats["maxy"] - tilenamer.ORIGIN_NORTH) / SIZE_NORTH).to_numpy(np.int64)
    out: dict[int, list] = {}
    for i, (seq, luokka, g) in enumerate(zip(feats["seq"], feats["luokka"], feats["geom_wkb"])):
        for r in range(r0[i], r1[i] + 1):
            for c in range(c0[i], c1[i] + 1):
                cell = (r << 32) + c
                if cells is None or cell in cells:
                    out.setdefault(cell, []).append((int(seq), int(luokka), bytes(g)))
    return out


def tile_totals(tiles: pd.DataFrame) -> dict:
    return {"rows": len(tiles), **{k: int(tiles[k].sum()) for k in TILE_SUMS}}


def pip_totals(rows: pd.DataFrame) -> dict:
    hist = rows.groupby("value")["n_points"].sum()
    return {"rows": len(rows), "n_points": int(rows["n_points"].sum()),
            "hist": {str(int(v)): int(n) for v, n in hist.items()}}


def rows_of(rows: pd.DataFrame, names: set[str]) -> list[tuple]:
    """The (image_id, value, n_points) rows of tiles ``names``, sorted."""
    sel = rows[rows["image_id"].isin(names)]
    return sorted(zip(sel["image_id"], sel["value"].astype(int), sel["n_points"].astype(int)))


def mismatches(got: dict, want: dict) -> list[str]:
    return [f"{k}: got {got.get(k)!r}, pinned {v!r}" for k, v in want.items()
            if got.get(k) != v]


TIN_TARGETS = {
    "gridlib.png.decode_ms": (png, "png16_to_dem"),
    "datagen.sample_points_ms": (datagen, "sample_points_from_tile"),
    "gridlib.tin.delaunay_ms": (Tin, "__init__"),
    "gridlib.tin.fill_ms": (Tin, "rasterize_dem"),
    "gridlib.png.encode_ms": (png, "dem_to_png16"),
    "gridlib.phash.ms": (phash, "phash64"),
}


class Workload:
    name = ""

    def __init__(self, fx: fixture.Fixture, cpus: int):
        self.fx = fx
        self.cpus = cpus
        self.pins = load_expected(fx.index).get(self.name, {})

    def prepare(self) -> None:
        """Reference outputs for the check; runs before any timing."""

    def setup(self, ctx: Context) -> None:
        raise NotImplementedError

    def op(self, ctx: Context):
        raise NotImplementedError

    def items(self, result) -> int:
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def replay(self) -> Replay | None:
        return None


class TinFused(Workload):
    """rasterize_images_fused over the cached 4,096-tile table."""

    name = "tin_fused"

    def tile_names(self) -> list[str]:
        return self.fx.names

    def prepare(self) -> None:
        self.sample = fixture.Fixture.sample(self.tile_names())
        self.sample_rows = self.fx.rows(self.sample)
        ref = tin_stage._rasterize_tiles_pdf(
            self.sample_rows["caption"], self.sample_rows["bytes"], PX)
        self.reference = dict(zip(ref["image_id"], ref["bytes"]))

    def setup(self, ctx: Context) -> None:
        self.images = cache_tiles(ctx, self.fx)

    def stage(self):
        return tin_stage.rasterize_images_fused(self.images, px=PX)

    def op(self, ctx: Context) -> pd.DataFrame:
        with ctx.span(f"engine.{self.name}"):
            df = self.stage()
            # per-tile metric columns, plus the tile bytes of the sample
            return df.select(
                "image_id", *TILE_SUMS,
                F.when(F.col("image_id").isin(self.sample), F.col("bytes")).alias("bytes"),
            ).toPandas()

    def items(self, result: pd.DataFrame) -> int:
        # points, not tiles: points per tile vary by up to 10% between
        # grid offsets and the operation's time follows the points
        return int(result["n_points"].sum())

    def check(self, result: pd.DataFrame) -> list[str]:
        errs = mismatches(tile_totals(result), self.pins)
        if result["image_id"].nunique() != len(result):
            errs.append("duplicate tiles in output")
        got = dict(zip(result["image_id"], result["bytes"]))
        return errs + pixel_errors(got, self.reference)

    def replay(self) -> Replay:
        caps, datas = self.sample_rows["caption"], self.sample_rows["bytes"]
        return Replay(lambda: tin_stage._rasterize_tiles_pdf(caps, datas, PX),
                      TIN_TARGETS, len(caps))


class TinShuffle(TinFused):
    """decode_points_packed + rasterize_tin_tiles_packed over the quarter
    subset, with the points shuffled to their tiles."""

    name = "tin_shuffle"

    def tile_names(self) -> list[str]:
        return self.fx.quarter_names()

    def setup(self, ctx: Context) -> None:
        self.images = cache_tiles(ctx, self.fx, quarter=True)

    def stage(self):
        packed = points.decode_points_packed(self.images.repartition(4 * self.cpus))
        return tin_stage.rasterize_tin_tiles_packed(packed, px=PX)

    def replay(self) -> Replay:
        """The row kernel ``_tile_row`` on each sample tile's points."""
        rows = self.sample_rows

        def run():
            for cap, data in zip(rows["caption"], rows["bytes"]):
                name, minx, miny, _, _, cs, _ = datagen.parse_caption(cap)
                dem = png.png16_to_dem(bytes(data), datagen.Z_MIN, datagen.Z_MAX)
                x, y, z, cls = datagen.sample_points_from_tile(name, dem, minx, miny, cs)
                tin_stage._tile_row(cell_of(cap), x, y, z, cls, PX, SIZE_NORTH, False)

        return Replay(run, TIN_TARGETS, len(rows))


class PipClassify(Workload):
    """classify_images_prebroadcast over all tiles; the per-cell feature
    broadcast is built in set-up."""

    name = "pip_classify"

    def prepare(self) -> None:
        self.sample = set(fixture.Fixture.sample(self.fx.names))
        self.sample_rows = self.fx.rows(sorted(self.sample))
        feats = pd.concat([pd.read_parquet(p) for p in self.fx.features])
        self.sample_lists = feature_lists(
            feats, {cell_of(c) for c in self.sample_rows["caption"]})
        self.reference = self.classify(self.sample_rows, {})

    def classify(self, rows: pd.DataFrame, memo: dict) -> pd.DataFrame:
        return pip_stage._classify_tiles_pdf(
            rows["caption"], rows["bytes"], self.sample_lists, memo,
            CLASSMAP, PX, SIZE_NORTH)

    def setup(self, ctx: Context) -> None:
        self.images = cache_tiles(ctx, self.fx)
        spark = ctx.spark
        feats = spark.read.parquet(self.fx.features[0]).union(
            spark.read.parquet(self.fx.features[1]))
        mark = ctx.reader.mark() if ctx.reader else None
        with ctx.span("driver.broadcast"):
            t0 = time.perf_counter()
            self.b_per_cell = pip_stage.per_cell_broadcast(
                spark, pip_stage.per_cell_feature_lists(feats))
            ctx.layers["driver.broadcast_s"] = time.perf_counter() - t0
        if ctx.reader:
            ctx.layers["driver.collect_bytes"] = ctx.reader.since(mark).result_bytes

    def op(self, ctx: Context) -> pd.DataFrame:
        with ctx.span(f"engine.{self.name}"):
            return pip_stage.classify_images_prebroadcast(
                self.images, self.b_per_cell, CLASSMAP, px=PX).toPandas()

    def items(self, result: pd.DataFrame) -> int:
        return int(result["n_points"].sum())

    def check(self, result: pd.DataFrame) -> list[str]:
        errs = mismatches(pip_totals(result), self.pins)
        if rows_of(result, self.sample) != rows_of(self.reference, self.sample):
            errs.append("sample tiles: class histogram differs from the reference")
        return errs

    def replay(self) -> Replay:
        refs = sum(len(self.sample_lists.get(cell_of(c), ()))
                   for c in self.sample_rows["caption"])
        targets = {
            "gridlib.png.decode_ms": (png, "png16_to_dem"),
            "datagen.sample_points_ms": (datagen, "sample_points_from_tile"),
            "gridlib.wkb.decode_ms": (wkb_mod, "decode"),
            "pip_stage.feature_raster_ms": (pip_stage, "_rasterize_tile_raster"),
        }
        return Replay(lambda: self.classify(self.sample_rows, {}), targets,
                      len(self.sample_rows), refs)


class CheckpointWrite(Workload):
    """checkpoint.write_stage of the cached 4,096-row DEM tile table into
    a fresh directory, then checkpoint.pending_keys for every cell."""

    name = "checkpoint_write"
    COLUMNS = ["cell_id", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    PARAMS = {"px": PX}

    def prepare(self) -> None:
        sample = fixture.Fixture.sample(self.fx.names)
        self.reference = dict(zip(sample, self.fx.rows(sample)["bytes"]))
        self.n_ops = 0

    def setup(self, ctx: Context) -> None:
        self.table = cache_tiles(ctx, self.fx).select(*self.COLUMNS)

    def op(self, ctx: Context):
        self.n_ops += 1
        path = os.path.join(ctx.workdir, "checkpoints", f"op{self.n_ops}")
        shutil.rmtree(path, ignore_errors=True)
        mark = ctx.reader.mark() if ctx.reader else None
        with ctx.span("engine.checkpoint.write_stage"):
            t0 = time.perf_counter()
            manifest = checkpoint.write_stage(
                self.table, path, "dem_tiles", [self.fx.images], self.PARAMS)
            ctx.layers["checkpoint.write_s"] = time.perf_counter() - t0
        if ctx.reader:
            t0 = time.perf_counter()
            ctx.layers["checkpoint.sql_execs"] = ctx.reader.mark() - mark
            ctx.layers["trace.in_op_s"] = time.perf_counter() - t0
        with ctx.span("engine.checkpoint.pending_keys"):
            t0 = time.perf_counter()
            pending = checkpoint.pending_keys(
                ctx.spark, self.table.select("cell_id"), path, self.PARAMS).count()
            ctx.layers["checkpoint.resume_s"] = time.perf_counter() - t0
        return {"manifest": manifest, "pending": pending, "path": path}

    def items(self, result) -> int:
        return int(result["manifest"]["row_count"])

    def check(self, result) -> list[str]:
        import pyarrow.parquet as pq

        m, path = result["manifest"], result["path"]
        n = len(self.fx.names)
        errs = mismatches({"row_count": m["row_count"], "n_completed_keys": m["n_completed_keys"],
                           "pending": result["pending"]},
                          {"row_count": n, "n_completed_keys": n, "pending": 0})
        data = [os.path.join(path, f) for f in os.listdir(path)
                if not f.startswith(("_", ".")) and f.endswith(".parquet")]
        t = pq.read_table(data, columns=["image_id", "bytes"],
                          filters=[("image_id", "in", list(self.reference))])
        errs += pixel_errors(dict(zip(t.column("image_id").to_pylist(),
                                      t.column("bytes").to_pylist())), self.reference)
        disk = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(path) for f in fs)
        result["disk_bytes_per_data_byte"] = disk / max(1, sum(map(os.path.getsize, data)))
        shutil.rmtree(path, ignore_errors=True)
        return errs


WORKLOADS = {w.name: w for w in (TinFused, TinShuffle, PipClassify, CheckpointWrite)}
