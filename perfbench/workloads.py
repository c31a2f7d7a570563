"""The benchmark's workloads: `pipelines` (its landcover half, then its
tile-bulk half) and `query-mix`.  Each one runs the engine's public entry
points on seeded inputs in a closed loop with one client, and checks every
output.

A workload has five steps:
  prepare(dir, seed)  build the inputs (separate process, cached, untimed);
  load(dir, seed)     read what the checks need (untimed);
  setup(spark)        warm-up up to the first timed operation (`setup_s`);
  cycle(runner)       one round of timed operations, `runner.op` each;
  probes(runner)      traced run only, after each cycle and outside its
                      operations: layers measured by an action of their own.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil

import numpy as np

import harness
import inputs


class WrongOutput(Exception):
    """An operation finished but its output failed the check."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise WrongOutput(what)


def _close(a: float, b: float, rel: float) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read(path: str, columns=None):
    """An output directory Spark wrote, read without Spark, so checking an
    output adds no job to the measured session."""
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pandas()


@contextlib.contextmanager
def traced_checkpoint(tracer: harness.Tracer):
    """While active, every `checkpoint.checkpoint` call (the CLI imports it
    at call time, `pipeline` at import) runs in a span named
    checkpoint.write or checkpoint.reuse, and a write counts its bytes."""
    from hexscape_spark import checkpoint as ck
    from hexscape_spark import pipeline

    orig = ck.checkpoint

    def traced(df, root, name, params=None, mode="reuse"):
        manifest = os.path.join(root, name, "_lineage.json")
        with tracer.overhead():
            before = (os.stat(manifest).st_mtime_ns
                      if os.path.exists(manifest) else None)
        with tracer.span("checkpoint.write") as rec:
            out = orig(df, root, name, params=params, mode=mode)
        with tracer.overhead():
            if os.stat(manifest).st_mtime_ns == before:
                rec["name"] = "checkpoint.reuse"
            else:
                tracer.count("checkpoint.write_bytes",
                             ck.read_manifest(root, name)["bytes"])
        return out

    ck.checkpoint = pipeline.checkpoint = traced
    try:
        yield
    finally:
        ck.checkpoint = pipeline.checkpoint = orig


# --- tile-bulk ---------------------------------------------------------------

class TileBulk:
    """The CLI `cell_rollup` job body over a seeded synthetic pages table:
    roll up with no checkpoint, assign + checkpoint(mode="overwrite"), then
    checkpoint(mode="reuse") + roll up.  No warm-up of its own: each step
    runs once per cycle, as the CLI job runs it, after the landcover half
    of `pipelines` has paid the JVM's first-job costs."""

    name = "tile-bulk"
    SIZES = {"full": {"pages": 1_000_000, "files": 8},
             "smoke": {"pages": 10_000, "files": 2}}

    def __init__(self, size: str):
        self.n = self.SIZES[size]["pages"]
        self.files = self.SIZES[size]["files"]

    def prepare(self, d: str, seed: int, work: str) -> None:
        # synth.pages runs once per size; each seed only shifts page_id
        def base(path):
            spark = harness.new_session(work)
            try:
                inputs.write_base_pages(spark, path, self.n, self.files)
            finally:
                harness.shutdown(spark)

        root = inputs.cached(inputs.CACHE,
                             f"tile-bulk-pages-{self.n}-{self.files}", base)
        inputs.write_pages(root, os.path.join(d, "pages"), seed)

    def load(self, d: str, seed: int) -> None:
        self.pages = os.path.join(d, "pages")

    def setup(self, spark, run_dir: str) -> None:
        self.spark = spark
        self.out = os.path.join(run_dir, "cells")
        self.ckpt = os.path.join(run_dir, "ckpt")

    def _job(self, checkpoint_root, resume) -> int:
        from hexscape_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cli.job_cell_rollup(self.spark, argparse.Namespace(
                pages=self.pages, out=self.out,
                checkpoint_root=checkpoint_root, resume=resume))
        return json.loads(buf.getvalue().strip().splitlines()[-1])["cells"]

    def _check(self, cells: int, expect_cells: int | None) -> None:
        out = _read(self.out, ["n_pages"])
        pages = int(out.n_pages.sum())
        expect(pages == self.n,
               f"sum of per-cell page counts {pages} != {self.n}")
        expect(len(out) == cells, "reported and written cell counts differ")
        expect(expect_cells is None or cells == expect_cells,
               f"{cells} cells with the checkpoint, {expect_cells} without")

    def cycle(self, run) -> None:
        def rollup():
            with run.span("rollup.cell_rollup"):
                return self._job(checkpoint_root=None, resume=False)

        base = run.op("rollup", rollup, lambda c: self._check(c, None))

        def job(resume):
            def go():
                with run.span("rollup.cell_rollup"):
                    return self._job(checkpoint_root=self.ckpt, resume=resume)
            return go

        shutil.rmtree(self.ckpt, ignore_errors=True)
        run.op("materialise", job(False), lambda c: self._check(c, base))
        run.op("reuse", job(True), lambda c: self._check(c, base))

    def probes(self, run) -> None:
        from pyspark.sql import functions as F

        from hexscape_spark import hexgrid

        pages = self.spark.read.parquet(self.pages)
        run.probe("spark.scan", lambda: _noop(pages.select("page_id", "text")))
        g = hexgrid.with_hex_cell(hexgrid.with_geocode(pages, "page_id"))
        run.probe("hexgrid.assign", lambda: _noop(g.select(
            "page_id", "cell_id", "q", "r", F.length("text").alias("n_chars"))))

    def report(self, lat: dict[str, list[float]]) -> dict:
        def rate(kind):
            t = harness.median(lat.get(kind, []))
            return self.n / t if t else 0.0

        return {"tile_pages_per_s": (rate("rollup"), "1/s"),
                "materialise_pages_per_s": (rate("materialise"), "1/s"),
                "reuse_s": (harness.median(lat.get("reuse", [])), "s")}


# --- query-mix ---------------------------------------------------------------

# hexscape_spark module each benched query's builder calls; "entry" when
# the query is written in __spark_entry__.py itself
QUERY_MODULE = {
    "hex_assign_docs": "sqlgen", "hex_cell_counts": "sqlgen",
    "hex_cell_lang_mode": "sqlgen", "events_hex_rollup": "sqlgen",
    "salted_cell_counts": "skew", "dedup_exact": "dedup",
    "minhash_pairs": "dedup", "ngram_jaccard": "dedup",
    "lang_dist_by_source": "textops", "lsh_topk": "similarity",
    "patches_landuse": "tiling", "neighbours_square": "neighbours",
    "cover_landuse": "cover", "dissolve_layers": "dissolve",
    "hex_neighbours": "entry", "hex_kring_profile": "entry",
    "hex_nearest_cell": "entry", "tpch_q1": "entry",
    "revenue_by_nation": "entry", "top_order_per_cust": "entry",
    "token_stats": "entry", "knn_cosine": "entry"}


def normalise(df):
    """Column-sorted, row-sorted frame with integer columns as int64 — the
    comparison `tests/test_queries_oracle.py` makes."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same_frame(got, exp) -> str | None:
    """None when equal on columns, row count, dtypes and exact values;
    otherwise what differs."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        if got[c].dtype != exp[c].dtype:
            return f"{c}: dtype {got[c].dtype} != {exp[c].dtype}"
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        same = g == e
        if got[c].dtype == "float64":
            same |= np.isnan(g) & np.isnan(e)
        if not np.all(same):
            return f"{c}: values differ"
    return None


class QueryMix:
    """The 22 queries bench.py times, on the sf0.1 fixture, in a seeded
    order per pass, each checked against DuckDB running oracle_sql() on the
    same files."""

    name = "query-mix"
    MIN_CYCLES = 1
    SIZES = {"full": {"sf": 0.1, "queries": None},
             "smoke": {"sf": 0.001,
                       "queries": ["hex_cell_counts", "dedup_exact"]}}

    def __init__(self, size: str):
        import bench

        self.size = size
        self.sf = self.SIZES[size]["sf"]
        self.queries = self.SIZES[size]["queries"] or list(bench.BENCH_QUERIES)
        self.tables = inputs.fixture_dir(self.sf)

    def _oracle_dir(self, d: str) -> str:
        """The oracle output, shared by every seed (the fixture is the same
        for all); keyed by the oracle SQL so a change to it is picked up."""
        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        key = hashlib.sha1(json.dumps({q: sql[q] for q in self.queries})
                           .encode()).hexdigest()[:8]
        return os.path.join(inputs.CACHE, f"query-mix-oracle-{self.size}-{key}")

    def prepare(self, d: str, seed: int, work: str) -> None:
        def oracle(path):
            import duckdb
            import pyarrow as pa
            import pyarrow.parquet as pq

            import __spark_entry__ as entry

            con = duckdb.connect()
            for t in entry.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.tables, t)}.parquet'")
            sql = entry.oracle_sql()
            for q in self.queries:
                pq.write_table(pa.Table.from_pandas(
                    normalise(con.execute(sql[q]).df()), preserve_index=False),
                    os.path.join(path, f"{q}.parquet"))
            con.close()

        inputs.cached(inputs.CACHE, os.path.basename(self._oracle_dir(d)), oracle)

    def load(self, d: str, seed: int) -> None:
        import pandas as pd

        self.seed = seed
        oracle = self._oracle_dir(d)
        self.expected = {q: pd.read_parquet(os.path.join(oracle, f"{q}.parquet"))
                         for q in self.queries}

    def setup(self, spark, run_dir: str) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.builders = entry.queries()
        # the costs every query shares in a fresh session: Python workers,
        # the fixture's views (registered once per session and directory by
        # the first query), a parquet scan, an aggregation's codegen and the
        # Arrow collect to pandas
        harness.warm_python_workers(spark)
        self.builders["hex_cell_counts"](spark, self.tables).toPandas()

    def cycle(self, run) -> None:
        for q in inputs.query_order(self.seed, run.cycle, self.queries):
            prefix = f"{QUERY_MODULE[q]}.{q}"

            def go(q=q, prefix=prefix):
                with run.span(f"{prefix}.build"):
                    df = self.builders[q](self.spark, self.tables)
                with run.span(f"{prefix}.exec"):
                    return df.toPandas()

            def check(got, q=q):
                diff = same_frame(normalise(got), self.expected[q])
                expect(diff is None, f"{q}: {diff}")

            run.op(q, go, check, tasks_name=f"{prefix}.tasks")

    def probes(self, run) -> None:
        pass

    def report(self, lat: dict[str, list[float]]) -> dict:
        every = [t for q in self.queries for t in lat.get(q, [])] or [0.0]
        return {"query_p50_s": (harness.quantile(every, 0.5), "s"),
                "query_p90_s": (harness.quantile(every, 0.9), "s"),
                "mix_queries_per_s": (len(every) / (sum(every) or 1), "1/s")}


# --- landcover ---------------------------------------------------------------

def _land_use(rects) -> list[tuple[str, str, bytes]]:
    """generate_patches land use: one multipolygon per category."""
    from hexscape_spark import geo

    by_kind: dict[str, list] = {}
    for _, clc, box in rects:
        by_kind.setdefault(inputs.LAND_USE_KIND[clc[0]], []).append(
            [geo.rect_ring(*box)])
    return [(k, k, geo.multipolygon_to_wkb(p))
            for k, p in sorted(by_kind.items())]


class Landcover:
    """pipeline.extract_landcover over a seeded rectangle layer read from
    parquet (cold, then resume=True on the same checkpoint root), then
    tiling.generate_patches with land use and neighbours.generate_neighbours
    on the same landscape."""

    name = "landcover"
    SIZES = {"full": {"grid": 14, "cell": 500.0, "hex": 500.0},
             "smoke": {"grid": 4, "cell": 500.0, "hex": 500.0}}

    def __init__(self, size: str):
        cfg = self.SIZES[size]
        self.grid, self.cell, self.hex = cfg["grid"], cfg["cell"], cfg["hex"]

    def prepare(self, d: str, seed: int, work: str) -> None:
        inputs.write_landcover(os.path.join(d, "landcover"), seed,
                               self.grid, self.cell)

    def load(self, d: str, seed: int) -> None:
        from hexscape_spark import geo

        self.dir = d
        rects = inputs.landcover_rects(seed, self.grid, self.cell)
        self.side = self.grid * self.cell
        self.mask = geo.rect_wkb(0.0, 0.0, self.side, self.side)
        self.clc_area: dict[str, float] = {}
        for _, clc, (x0, y0, x1, y1) in rects:
            self.clc_area[clc] = self.clc_area.get(clc, 0.0) + (x1 - x0) * (y1 - y0)
        self.land_use = _land_use(rects)

    def setup(self, spark, run_dir: str) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.ckpt = os.path.join(run_dir, "lc_ckpt")
        harness.warm_python_workers(spark)

    def _extract(self, resume: bool, run):
        from hexscape_spark.pipeline import extract_landcover

        spark = self.spark
        lc = spark.read.parquet(os.path.join(self.dir, "landcover"))
        out = os.path.join(self.run_dir, f"lc_{'resume' if resume else 'cold'}")
        with run.span("pipeline.extract_landcover"):
            res = extract_landcover(spark, lc, self.mask, hex_width=self.hex,
                                    checkpoint_root=self.ckpt, resume=resume)
        with run.span("pipeline.cells"):
            res["cells"].write.mode("overwrite").parquet(out + "_cells")
        with run.span("dissolve.dissolve"):
            res["dissolved"].write.mode("overwrite").parquet(out + "_dissolved")
        return out

    def _patches(self, run):
        from hexscape_spark.neighbours import generate_neighbours
        from hexscape_spark.tiling import generate_patches

        spark = self.spark
        out = os.path.join(self.run_dir, "lc_patches")
        with run.span("tiling.generate_patches"):
            generate_patches(spark, self.mask, hex_width=self.hex,
                             reference_point=(0.0, 0.0),
                             land_use=self.land_use) \
                .write.mode("overwrite").parquet(out)
        with run.span("neighbours.generate_neighbours"):
            generate_neighbours(spark.read.parquet(out), self.mask,
                                hex_width=self.hex) \
                .write.mode("overwrite").parquet(out + "_nb")
        return out

    def _check_extract(self, out: str) -> None:
        from hexscape_spark.pipeline import MISSING_CC

        cells = _read(out + "_cells")
        per = cells.groupby("cell_id").agg(total=("area", "sum"),
                                           mask_a=("mask_area", "first"))
        expect(bool((abs(per.total - per.mask_a) < 1e-6).all()),
               "per-cell areas do not partition the cell's mask area")
        mask_area = self.side ** 2
        expect(_close(float(cells.area.sum()), mask_area, 1e-9),
               "sum of per-cell areas incl. MISSING_CC != mask area")
        covered = float(cells.area[cells.clc != MISSING_CC].sum())
        expect(_close(covered, sum(self.clc_area.values()), 1e-9),
               "covered area != sum of input rectangle areas")
        dis = _read(out + "_dissolved").set_index("clc")
        for clc, area in self.clc_area.items():
            expect(_close(float(dis.area[clc]), area, 1e-9),
                   f"dissolved area of {clc} != its rectangles' area")
        expect(_close(float(dis.area[MISSING_CC]),
                      mask_area - sum(self.clc_area.values()), 1e-9),
               "MISSING_CC geometry area != mask minus covered area")

    def _check_resume(self, out: str, cold: str) -> None:
        for part in ("_cells", "_dissolved"):
            diff = same_frame(normalise(_read(out + part)),
                              normalise(_read(cold + part)))
            expect(diff is None, f"resume output differs from cold ({part}: {diff})")

    def _check_patches(self, out: str) -> None:
        p = _read(out)
        lu = p[[c for c in p.columns if c.startswith("LU_")]].sum(axis=1)
        expect(bool((abs(lu - 1.0) < 1e-9).all()), "a patch's LU_* do not sum to 1")
        expect(sorted(p.Index) == list(range(1, len(p) + 1)),
               "patch Index is not dense 1..n")
        nb = _read(out + "_nb")
        pairs = set(zip(nb.Index, nb.Neighbour))
        expect(len(nb) > 0 and pairs == {(b, a) for a, b in pairs},
               "neighbour edges are not symmetric")
        expect(bool((nb.Border > 0).all()), "a neighbour border is not positive")

    def cycle(self, run) -> None:
        def cold():
            shutil.rmtree(self.ckpt, ignore_errors=True)
            return self._extract(False, run)

        cold_out = run.op("cold", cold, self._check_extract)
        run.op("resume", lambda: self._extract(True, run),
               lambda out: self._check_resume(out, cold_out))
        run.op("patches", lambda: self._patches(run), self._check_patches)

    def probes(self, run) -> None:
        from hexscape_spark import cover

        lc = self.spark.read.parquet(os.path.join(self.dir, "landcover")) \
            .select("poly_id", "clc", "geom_wkb")
        run.probe("cover.polygon_cell_cover", lambda: run.count(
            "cover.cover_rows",
            cover.polygon_cell_cover(lc, hex_width=self.hex).count()))

    def report(self, lat: dict[str, list[float]]) -> dict:
        return {"landcover_cold_s": (harness.median(lat.get("cold", [])), "s"),
                "landcover_resume_s":
                    (harness.median(lat.get("resume", [])), "s"),
                "patch_pipeline_s":
                    (harness.median(lat.get("patches", [])), "s")}


# --- pipelines: landcover, then tile-bulk, in one session --------------------

class Pipelines:
    """landcover's three operations, then tile-bulk's three, in one session
    and one cycle.  They share a workload because every run pays a JVM
    launch and its first-use costs, and the benchmark's run budget does not
    fit a third workload (see README.md).  Their operations keep their own
    kinds, so each half's named metrics stay."""

    name = "pipelines"
    MIN_CYCLES = 1
    SIZES = {size: {"landcover": Landcover.SIZES[size],
                    "tile-bulk": TileBulk.SIZES[size]}
             for size in ("full", "smoke")}

    def __init__(self, size: str):
        self.parts = [Landcover(size), TileBulk(size)]

    def prepare(self, d: str, seed: int, work: str) -> None:
        for p in self.parts:
            os.makedirs(os.path.join(d, p.name))
            p.prepare(os.path.join(d, p.name), seed, work)

    def load(self, d: str, seed: int) -> None:
        for p in self.parts:
            p.load(os.path.join(d, p.name), seed)

    def setup(self, spark, run_dir: str) -> None:
        for p in self.parts:
            p.setup(spark, run_dir)

    def cycle(self, run) -> None:
        for p in self.parts:
            p.cycle(run)

    def probes(self, run) -> None:
        for p in self.parts:
            p.probes(run)

    def report(self, lat: dict[str, list[float]]) -> dict:
        return {k: v for p in self.parts for k, v in p.report(lat).items()}


WORKLOADS = {w.name: w for w in (Pipelines, QueryMix)}
