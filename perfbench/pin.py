"""Recompute ``expected.json``: the pinned outputs of every grid offset.

For each offset this generates the fixture in memory and runs the
stages' per-tile loops in-process, without Spark, over every tile:
``tin_stage._rasterize_tiles_pdf`` for the TIN sums (the quarter subset
gives the tin_shuffle sums: both paths run the same per-tile kernel) and
``pip_stage._classify_tiles_pdf`` with feature lists built from the
feature envelopes for the PIP histogram.  The benchmark then checks the
Spark outputs against these numbers.

    python3 perfbench/pin.py [--procs 4] [--offsets 0,1,...]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import sys

sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from lasutility_spark import datagen  # noqa: E402
from lasutility_spark.engine import pip_stage, tin_stage  # noqa: E402
from perfbench import fixture, workloads as W  # noqa: E402


def _tin(chunk: pd.DataFrame) -> pd.DataFrame:
    out = tin_stage._rasterize_tiles_pdf(chunk["caption"], chunk["bytes"], W.PX)
    return out.drop(columns=["bytes"])


def _pip(args) -> pd.DataFrame:
    chunk, lists = args
    return pip_stage._classify_tiles_pdf(chunk["caption"], chunk["bytes"], lists, {},
                                         W.CLASSMAP, W.PX, W.SIZE_NORTH)


def pin_offset(index: int, procs: int) -> dict:
    names = fixture.tile_names(index)
    tiles = fixture.generate_tiles(names, procs)
    polys, lines, _ = datagen.gen_features(names, 8 * fixture.N_TILES, 8 * fixture.N_TILES)
    lists = W.feature_lists(pd.concat([polys, lines], ignore_index=True))
    chunks = [tiles.iloc[i] for i in np.array_split(np.arange(len(tiles)), 8 * procs)]
    pip_args = [(c, {k: lists[k] for k in map(W.cell_of, c["caption"]) if k in lists})
                for c in chunks]
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        tin = pd.concat(pool.map(_tin, chunks), ignore_index=True)
        pip = pd.concat(pool.map(_pip, pip_args), ignore_index=True)
        pool.close()
        pool.join()
    quarter = tin["caption"].map(fixture.in_quarter)
    return {"tin_fused": W.tile_totals(tin), "tin_shuffle": W.tile_totals(tin[quarter]),
            "pip_classify": W.pip_totals(pip)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--procs", type=int, default=4)
    ap.add_argument("--offsets", default=",".join(map(str, range(fixture.N_OFFSETS))))
    args = ap.parse_args()
    try:
        with open(W.EXPECTED) as f:
            doc = json.load(f)
    except FileNotFoundError:
        doc = {"version": fixture.VERSION, "offsets": {}}
    for index in map(int, args.offsets.split(",")):
        doc["offsets"][str(index)] = pin_offset(index, args.procs)
        print(index, json.dumps(doc["offsets"][str(index)]), flush=True)
        with open(W.EXPECTED, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
