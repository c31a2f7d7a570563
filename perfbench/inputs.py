"""Seeded inputs for the three workloads.

Every input is a pure function of (seed, size): the same seed gives the same
files and the same query order, and the engine only ever sees the files.
Generated inputs are written once per (workload, size, seed) under the cache
directory and reused by later runs with that seed; generation is never part
of a timed region or of `setup_s`.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

# --- query-mix: the fixture tables, in a seeded query order ---------------

# Copies of the sf0.1 and sf0.001 fixtures `bench.py` and the tier-1 tests
# read (seed 42, one parquet file per table).  The seed does not touch them;
# it draws the order of each pass.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def fixture_dir(sf: float) -> str:
    return os.path.join(FIXTURES, f"sf{sf:g}")


def query_order(seed: int, cycle: int, queries: list[str]) -> list[str]:
    """The order pass `cycle` runs `queries` in."""
    rng = np.random.default_rng([seed, 3, cycle])
    return [queries[i] for i in rng.permutation(len(queries))]


# --- landcover: disjoint rectangles with gaps on a square mask --------------

CLC_CODES = ["111", "112", "121", "211", "231", "311", "312", "324", "411",
             "512"]
# tiling categories by CLC level 1, ordered like the reference's
# Impassable < Passable < Low < Medium < High
LAND_USE_KIND = {"1": "Impassable", "2": "Low", "3": "High", "4": "Medium",
                 "5": "Passable"}


def landcover_rects(seed: int, grid: int, cell: float
                    ) -> list[tuple[int, str, tuple[float, float, float, float]]]:
    """Axis-aligned rectangles, at most one per grid cell of side `cell`,
    each inset from its cell so no two touch; about 15 % of the cells stay
    empty.  Returns [(poly_id, clc, (x0, y0, x1, y1))]."""
    rng = np.random.default_rng([seed, 2])
    empty = rng.random((grid, grid)) < 0.15
    inset = rng.uniform(0.02, 0.2, (grid, grid, 4)) * cell
    codes = rng.integers(0, len(CLC_CODES), (grid, grid))
    out = []
    for i in range(grid):
        for j in range(grid):
            if empty[i, j]:
                continue
            a, b, c, d = inset[i, j]
            out.append((len(out), CLC_CODES[codes[i, j]],
                        (i * cell + a, j * cell + b,
                         (i + 1) * cell - c, (j + 1) * cell - d)))
    return out


def write_landcover(out_dir: str, seed: int, grid: int, cell: float) -> None:
    """(poly_id, clc, geom_wkb) parquet, the CLI `landcover` job's input."""
    from hexscape_spark import geo

    rects = landcover_rects(seed, grid, cell)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "poly_id": pa.array([r[0] for r in rects], pa.int64()),
        "clc": [r[1] for r in rects],
        "geom_wkb": pa.array([geo.rect_wkb(*r[2]) for r in rects],
                             pa.binary())}),
        os.path.join(out_dir, "part-0.parquet"))


# --- tile-bulk: synth.pages with a seeded page_id shift ---------------------

# The geocoder hashes page_id with a MINSTD LCG that `params.py` documents as
# safe in int64 only for keys < 1.9e14; a larger id raises ARITHMETIC_OVERFLOW
# under ANSI mode.  Shifted ids stay below the LCG's modulus, 2^31 - 1, with
# room for up to MAX_PAGES pages.
MAX_PAGES = 2**24


def page_id_offset(seed: int) -> int:
    """The seed moves every page_id, and with it every geocode."""
    from hexscape_spark import params

    rng = np.random.default_rng([seed, 1])
    return int(rng.integers(0, params.LCG_M - MAX_PAGES))


def write_base_pages(spark, out_dir: str, n: int, files: int) -> None:
    """synth.pages(n) as `files` parquet files; the seed is applied later."""
    from hexscape_spark import synth

    assert n <= MAX_PAGES, f"{n} pages; at most {MAX_PAGES}"
    synth.pages(spark, n, num_partitions=files) \
        .write.mode("overwrite").parquet(out_dir)


def write_pages(base_dir: str, out_dir: str, seed: int) -> None:
    """The base pages with page_id shifted by the seed's offset, file by
    file, keeping the base's file layout."""
    os.makedirs(out_dir, exist_ok=True)
    offset = page_id_offset(seed)
    for name in sorted(os.listdir(base_dir)):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(base_dir, name))
        i = t.schema.get_field_index("page_id")
        t = t.set_column(i, "page_id", pa.compute.add(t["page_id"], offset))
        pq.write_table(t, os.path.join(out_dir, name))


# --- cache -------------------------------------------------------------------

# bumped whenever generation changes, so cached inputs of an older
# generator are never reused
VERSION = 2
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work",
                     "inputs")
DONE = "_INPUTS_DONE"


def cache_key(workload: str, size: str, seed: int, sizes: dict) -> str:
    """The cache directory name of a run's inputs.  The size settings and
    the generator's version are part of it, so changing either never reuses
    stale inputs."""
    digest = hashlib.sha1(json.dumps([sizes, VERSION], sort_keys=True)
                          .encode()).hexdigest()[:8]
    return f"{workload}-{size}-seed{seed}-{digest}"


def cached(cache_root: str, key: str, build) -> str:
    """Directory holding the inputs for `key`, built by `build(dir)` on the
    first use.  A directory without its done-marker (an interrupted build)
    is rebuilt."""
    path = os.path.join(cache_root, key)
    marker = os.path.join(path, DONE)
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        with open(marker, "w") as f:
            json.dump({"key": key}, f)
    return path
