"""Seeded benchmark inputs, written once per grid offset into the work dir.

The seed picks one of ``N_OFFSETS`` anchor offsets of a 64 x 64 grid of
1 km DEM tiles.  Terrain, the set of dense ("urban") tiles and feature
placement are all functions of absolute coordinates in
:mod:`lasutility_spark.datagen`, so they follow from the offset.  The
tables are built with datagen's public generators
(``gen_tile_rows``, ``gen_features``) and written to an explicit
directory; nothing is written next to the sources.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
import zlib
from dataclasses import dataclass
from multiprocessing import resource_tracker

import numpy as np

from lasutility_spark import datagen
from lasutility_spark.gridlib.tilenamer import tile_encode

GRID = 64                     # tiles per side
N_TILES = GRID * GRID         # 4,096 tiles, about 8.1M sampled points
N_OFFSETS = 4                 # seed -> one of 4 grid anchors
OFFSET_STEP_M = GRID * datagen.TILE_M
VERSION = 1                   # bump when the generated tables change
SAMPLE_TILES = 32             # tiles checked pixel by pixel and replayed


def offset_index(seed: int) -> int:
    return seed % N_OFFSETS


def tile_names(index: int) -> list[str]:
    """Row-major names of the grid at offset ``index`` (datagen.tile_names
    with a shifted anchor: anchors one grid width apart, four to a row)."""
    e0 = datagen.ANCHOR_E + (index % 4) * OFFSET_STEP_M
    n0 = datagen.ANCHOR_N + (index // 4) * OFFSET_STEP_M
    return [
        tile_encode(e0 + (i % GRID) * datagen.TILE_M,
                    n0 + (i // GRID) * datagen.TILE_M, datagen.TILE_M)
        for i in range(N_TILES)
    ]


def caption_of(name: str, px: int = 128) -> str:
    minx, miny, maxx, maxy = (int(v) for v in datagen.tile_decode(name))
    return datagen.CAPTION_FMT.format(
        name=name, minx=minx, miny=miny, maxx=maxx, maxy=maxy,
        cellsize=(maxx - minx) / px, nodata=-9999,
    )


def in_quarter(caption: str) -> bool:
    """The tin_shuffle subset; the same predicate as Spark's
    ``crc32(caption) % 4 == 0``."""
    return zlib.crc32(caption.encode()) % 4 == 0


@dataclass
class Fixture:
    index: int
    path: str
    names: list[str]

    @property
    def images(self) -> str:
        return os.path.join(self.path, "images.parquet")

    @property
    def features(self) -> list[str]:
        return [os.path.join(self.path, f) for f in ("polygons.parquet", "lines.parquet")]

    def quarter_names(self) -> list[str]:
        return [n for n in self.names if in_quarter(caption_of(n))]

    @staticmethod
    def sample(names: list[str]) -> list[str]:
        """A fixed, evenly spread subset of ``names``."""
        return names[:: max(1, len(names) // SAMPLE_TILES)][:SAMPLE_TILES]

    def rows(self, names: list[str]):
        """Image-table rows of ``names`` read back from the fixture."""
        import pyarrow.parquet as pq

        t = pq.read_table(self.images, columns=["image_id", "caption", "bytes"],
                          filters=[("image_id", "in", list(names))])
        return t.to_pandas().set_index("image_id").loc[list(names)]


def _gen_rows(names: list[str]):
    return datagen.gen_tile_rows(names)


def generate_tiles(names: list[str], procs: int):
    """datagen.gen_tile_rows over ``names`` in ``procs`` spawned workers."""
    import pandas as pd

    chunks = [list(c) for c in np.array_split(np.array(names, dtype=object), 4 * procs)]
    try:
        with multiprocessing.get_context("spawn").Pool(procs) as pool:
            frames = pool.map(_gen_rows, chunks)
            pool.close()
            pool.join()
    finally:
        # a spawn pool starts multiprocessing's resource tracker, which
        # otherwise outlives this process; stop it and wait for it
        resource_tracker._resource_tracker._stop()
    return pd.concat(frames, ignore_index=True)


def ensure(workdir: str, seed: int, procs: int) -> Fixture:
    """The fixture for ``seed``, generated on first use (excluded from
    every reported time)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    index = offset_index(seed)
    names = tile_names(index)
    path = os.path.join(workdir, "fixtures", f"v{VERSION}_offset{index}")
    if os.path.exists(os.path.join(path, "_READY")):
        return Fixture(index, path, names)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tiles = generate_tiles(names, procs)
    # small row groups give the Spark scan parallel splits, as in
    # datagen.ensure_images_table
    pq.write_table(pa.Table.from_pandas(tiles, preserve_index=False),
                   os.path.join(tmp, "images.parquet"), row_group_size=64)
    polys, lines, _ = datagen.gen_features(names, 8 * N_TILES, 8 * N_TILES)
    pq.write_table(pa.Table.from_pandas(polys, preserve_index=False),
                   os.path.join(tmp, "polygons.parquet"))
    pq.write_table(pa.Table.from_pandas(lines, preserve_index=False),
                   os.path.join(tmp, "lines.parquet"))
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return Fixture(index, path, names)
