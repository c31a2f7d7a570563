"""Smoke test of the benchmark's own code at tiny input sizes.

    python3 -m pytest -q perfbench/test_smoke.py

Each workload runs once untraced (seed 1) and once traced (seed 2) with
`--size smoke`.  The test asserts that every metric BENCHMARK.json names is
emitted with its unit, that the workload's named metrics are reported, that
every output check passed, that the traced run measured the workload's
layers, and that the two seeds generated different inputs (for query-mix,
which reads the fixture, a different query order).
"""

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    CATALOGUE = json.load(f)

NAMED = {"pipelines": ["landcover_cold_s", "landcover_resume_s",
                       "patch_pipeline_s", "tile_pages_per_s",
                       "materialise_pages_per_s"],
         "query-mix": ["query_p50_s", "query_p90_s", "mix_queries_per_s"]}
COMMON = ["setup_s", "peak_rss_mb", "op_failure_rate"]
# per-layer metrics the traced run must measure (non-zero) per workload
LAYERS = {
    "pipelines": ["cover.polygon_cell_cover_s", "cover.cover_rows",
                  "checkpoint.write_s", "checkpoint.write_bytes",
                  "checkpoint.reuse_s", "pipeline.extract_landcover_s",
                  "pipeline.cells_s", "dissolve.dissolve_s",
                  "tiling.generate_patches_s",
                  "neighbours.generate_neighbours_s", "spark.pyworker_cpu_s",
                  "spark.scan_s", "hexgrid.assign_s", "rollup.cell_rollup_s"],
    "query-mix": ["sqlgen.hex_cell_counts.build_s",
                  "sqlgen.hex_cell_counts.exec_s",
                  "sqlgen.hex_cell_counts.tasks", "dedup.dedup_exact.exec_s"]}
ENGINE = ["spark.jvm_cpu_s", "spark.tasks", "trace.overhead_s"]
# the input files whose content the seed must change
INPUT_FILES = {"pipelines": ["tile-bulk/pages",
                             "landcover/landcover/part-0.parquet"]}


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["perfbench_report"], json.loads(lines[-1])


def _input_tables(workload: str, seed: int):
    import workloads

    key = inputs.cache_key(workload, "smoke", seed,
                           workloads.WORKLOADS[workload].SIZES["smoke"])
    for name in INPUT_FILES[workload]:
        table = pq.read_table(os.path.join(inputs.CACHE, key, name))
        yield table.sort_by(table.column_names[0])


@pytest.mark.parametrize("workload", [w["name"] for w in CATALOGUE["workloads"]])
def test_workload_emits_every_metric(workload):
    import workloads

    for seed, trace, kind in ((1, 0, "end_to_end"), (2, 1, "per_layer")):
        report, result = _run(workload, seed, trace)
        assert result["correct"] and result["failed"] == 0, result
        assert result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in CATALOGUE[kind]}
        got = result["metrics"]
        assert set(got) == set(want)
        for name, unit in want.items():
            assert got[name]["unit"] == unit, name
            assert isinstance(got[name]["value"], (int, float)), name
        for name in NAMED[workload] + COMMON:
            assert report["metrics"][name]["unit"], name
        assert report["metrics"]["op_failure_rate"]["value"] == 0
        if trace:
            assert os.path.exists(os.path.join(ROOT, report["trace_file"]))
            for name in LAYERS[workload] + ENGINE:
                assert got[name]["value"] > 0, name
        if workload == "query-mix":
            assert report["op_order"] == inputs.query_order(
                seed, 0, workloads.QueryMix("smoke").queries)
    if workload != "query-mix":
        for a, b in zip(_input_tables(workload, 1), _input_tables(workload, 2)):
            assert not a.equals(b)


def test_generators_depend_on_seed():
    import bench

    queries = list(bench.BENCH_QUERIES)
    assert inputs.query_order(1, 0, queries) != inputs.query_order(2, 0, queries)
    assert inputs.query_order(1, 0, queries) != inputs.query_order(1, 1, queries)
    assert inputs.query_order(3, 0, queries) == inputs.query_order(3, 0, queries)
    assert sorted(inputs.query_order(1, 0, queries)) == sorted(queries)
    assert inputs.landcover_rects(1, 4, 500.0) != inputs.landcover_rects(2, 4, 500.0)
    assert inputs.page_id_offset(1) != inputs.page_id_offset(2)
