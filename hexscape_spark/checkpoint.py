"""Checkpointing with per-file lineage + metrics (north-rule R8).

Every pipeline stage can be materialised as a Parquet checkpoint table
keyed by (name, params, engine_version).  A manifest JSON records the
parameter fingerprint, row/byte metrics and per-part-file row counts, so a
re-run resumes from the last valid checkpoint instead of recomputing — the
Spark-native equivalent of the reference's qs cache with version check
(R/load_corine.R:171-199, R/read_corine.R:39-42).

The manifest's numbers come from the Parquet footers, read in-process
(`parquet_rows`), and the manifest stores the table's schema, so the
read-back skips Spark's schema-inference job: writing a checkpoint runs
the write job only, and validating and reading one for reuse runs no
Spark job at all.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import __version__

ENGINE_VERSION = __version__
MODES = ("reuse", "overwrite")


def _fingerprint(params: dict) -> str:
    blob = json.dumps(params, sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def parquet_rows(path: str) -> dict[str, int]:
    """{part file name: row count} of a Parquet directory written by Spark,
    read from the file footers in-process (no Spark job)."""
    import pyarrow.parquet as pq

    return {f: pq.read_metadata(os.path.join(path, f)).num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet") and not f.startswith((".", "_"))}


def checkpoint(df: "DataFrame | Callable[[], DataFrame]", root: str,
               name: str, params: dict | None = None,
               mode: str = "reuse") -> DataFrame:
    """Write-or-reuse a checkpoint of `df`.

    mode="reuse": if a manifest with matching fingerprint+version exists
    and the part files on disk still hold the rows it records, read the
    parquet back (resume path) — otherwise compute, write, and record
    lineage.  mode="overwrite": always recompute.

    `df` may be a zero-argument callable returning the DataFrame; it is
    called only when the checkpoint is (re)written, so a stage whose
    construction runs eager jobs costs nothing on the resume path.
    """
    if mode not in MODES:
        raise ValueError(f"checkpoint mode must be one of {MODES}, "
                         f"got {mode!r}")
    params = params or {}
    fp = _fingerprint({**params, "engine_version": ENGINE_VERSION})
    path = os.path.join(root, name)
    data_path = os.path.join(path, "data")
    manifest_path = os.path.join(path, "_lineage.json")

    if mode == "reuse" and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        # validate the data actually backs the manifest before reusing: a
        # half-deleted checkpoint (or one from a crashed run) must fall
        # through to recompute, not fail late / read stale data
        if (manifest.get("fingerprint") == fp
                and "schema" in manifest
                and os.path.exists(os.path.join(data_path, "_SUCCESS"))
                and parquet_rows(data_path) == manifest.get("partitions")):
            schema = StructType.fromJson(manifest["schema"])
            return SparkSession.active().read.schema(schema).parquet(data_path)

    t0 = time.time()
    if callable(df):
        df = df()
    df.write.mode("overwrite").parquet(data_path)
    per_file = parquet_rows(data_path)
    manifest = {
        "name": name,
        "engine_version": ENGINE_VERSION,
        "fingerprint": fp,
        "params": {k: str(v) for k, v in params.items()},
        "rows": sum(per_file.values()),
        "bytes": sum(os.path.getsize(os.path.join(data_path, f))
                     for f in per_file),
        "partitions": per_file,
        "schema": df.schema.jsonValue(),
        "wall_seconds": round(time.time() - t0, 3),
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    # atomic manifest publish (temp + rename): readers never observe a
    # partially-written lineage file, and the manifest only ever points at
    # fully-written data (it is created strictly after the parquet commit)
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path)
    return df.sparkSession.read.schema(df.schema).parquet(data_path)


def read_manifest(root: str, name: str) -> dict | None:
    p = os.path.join(root, name, "_lineage.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)
