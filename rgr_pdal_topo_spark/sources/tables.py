"""Table sources.

The engine's canonical source is an Iceberg-layout table; in this sandbox
the driver materializes the same tables as plain parquet under
``/root/testdata/sf*/``.  ``spark.read.parquet`` gives identical pushdown
behavior (column pruning + predicate pushdown + partition pruning) to the
Iceberg reader for our purposes — the reference analogue is the EPT reader's
bounds/resolution pushdown (pointCloudCreation.py:176-192).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one canonical table.

    ``sf_dir`` is either a directory of parquet files (the sandbox
    layout) or ``table:<namespace>`` to resolve through the session
    catalog — with an Iceberg catalog configured this reads the real
    Iceberg table (e.g. ``table:lake.cc`` -> ``lake.cc.documents``)
    with identical query code.  For the parquet path, predicate pushdown
    and column pruning are asserted on PushedFilters/ReadSchema in
    tests/test_plan_shapes.py; the ``table:`` resolution path itself is
    exercised against session-catalog views in tests/test_sources.py
    (a real Iceberg catalog additionally prunes at the manifest level
    under a ``days(warc_ts)`` / cell-id partition spec — not available
    in this sandbox)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; one of {TABLES}")
    if sf_dir.startswith("table:"):
        ns = sf_dir[len("table:"):]
        qualified = f"{ns.rstrip('.')}.{name}" if ns else name
        return spark.read.table(qualified)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all driver tables as temp views (for spark.sql plans)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
