"""Star-schema dataset for the ``star_mix`` workload, and its DuckDB
oracle cache.

The dataset is the engine's sf0.01 fixtures (TESTDATA.md: the tables
the registry's oracles and tests run on), kept read-only in
``fixtures/sf0.01``, scaled up by key-offset replication with the
repo's own ``tools/gen_scale.generate``. That keeps the fixtures'
value distributions, join fan-out and near-duplicate structure. The
scaled tables and the oracle result of every operation are written
once per checkout under the benchmark's work dir.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(HERE, "fixtures", "sf0.01")
#: replicas of the sf0.01 fixtures: sf0.02, 120,000 lineitem rows
FACTOR = 2

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: Operations of the workload, by layer. ``plans`` and ``sources`` do
#: the work of the relational queries, ``operators`` of the LLM-data
#: operators (``dedup_minhash_lsh`` keeps its shingle and candidate-pair
#: persists, so retained memory shows), ``streaming`` of the drains.
OPS = {
    "plans": ("q3_shipping_priority",),
    "operators": ("dedup_exact", "dedup_minhash_lsh", "text_quality_score"),
    "streaming": ("stream_dedup",),
}
LAYER_OF = {name: layer for layer, names in OPS.items() for name in names}


def _fingerprint(root: str) -> str:
    """Digest of everything the cached dataset and oracles derive from."""
    h = hashlib.sha256(f"{FACTOR}:{sorted(LAYER_OF)}".encode())
    paths = [__file__, os.path.join(root, "tools", "gen_scale.py")]
    paths += [os.path.join(FIXTURE_DIR, f"{t}.parquet") for t in TABLES]
    for path in paths:
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_dataset(work: str, root: str) -> tuple[str, dict]:
    """Build (once) the scaled dataset and the oracle results of every op.

    Returns (sf_dir, manifest). The manifest records each input's rows
    and bytes. A dir left half-built by an interrupted run has no
    manifest and is rebuilt."""
    sf_dir = os.path.join(work, f"star_{_fingerprint(root)}")
    manifest_path = os.path.join(sf_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf-8") as fh:
            return sf_dir, json.load(fh)
    for old in os.listdir(work):  # datasets of earlier versions
        if old.startswith("star_") and os.path.isdir(os.path.join(work, old)):
            shutil.rmtree(os.path.join(work, old))
    os.makedirs(os.path.join(sf_dir, "oracle"))
    from tools.gen_scale import generate

    with contextlib.redirect_stdout(sys.stderr):  # its progress lines
        generate(FIXTURE_DIR, sf_dir, FACTOR)
    inputs = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inputs[name] = {"rows": pq.read_metadata(path).num_rows,
                        "bytes": os.path.getsize(path)}
    _build_oracles(sf_dir)
    manifest = {"inputs": inputs, "fixtures": "sf0.01", "factor": FACTOR}
    with open(manifest_path + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    os.replace(manifest_path + ".tmp", manifest_path)
    return sf_dir, manifest


def _build_oracles(sf_dir: str) -> None:
    from etl_upc_syllabus_spark.plans import oracle_sql_map
    from tests.oracle_harness import duckdb_run

    sqls = oracle_sql_map()
    for name in LAYER_OF:
        if sqls.get(name) is not None:
            duckdb_run(sqls[name], sf_dir).to_parquet(oracle_path(sf_dir, name))


def oracle_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, "oracle", f"{name}.parquet")
