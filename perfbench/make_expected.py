#!/usr/bin/env python3
"""Regenerate ``expected.json``: the DuckDB-oracle value hash of every batch
query on the benchmark's generated tables, at each scale the benchmark uses.

    python3 perfbench/make_expected.py

Needs no Spark session: the registry's oracle SQL runs on DuckDB over the
same parquet files the benchmark writes.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import datagen  # noqa: E402
from run import BATCH_QUERIES, SMALL, WORKLOADS  # noqa: E402


def main() -> None:
    from beymani_spark.plans import QUERIES

    scales = sorted({WORKLOADS["batch_small"]["scale"], SMALL["batch_small"]["scale"]})
    out = {}
    work = tempfile.mkdtemp(prefix=".expected-", dir=HERE)
    try:
        for scale in scales:
            data = os.path.join(work, f"scale{scale}")
            datagen.write_tables(data, scale)
            out[f"scale={scale}"] = {
                q: checks.frame_hash(checks.duck_run(data, QUERIES[q].oracle_sql(data)))
                for q in BATCH_QUERIES
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
