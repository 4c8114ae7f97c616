"""Driver-contract smoke: entry() runs and returns rows with stable schema."""

from __future__ import annotations


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "polygon_id", "unit", "n_points", "mean_z", "mean_hillshade",
        "mean_slope", "mean_roughness",
    }
    total = sum(r.n_points for r in rows)
    assert total > 0


def test_contract_shapes(spark):
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30
    for name, fn in qs.items():
        assert callable(fn), name


def test_driver_window_is_fully_oracle_backed():
    """The driver's correctness harness hashes only the FIRST 50
    registered queries — every slot must carry a DuckDB oracle, and the
    curated ranking must be what's actually registered."""
    from rgr_pdal_topo_spark.queries import DRIVER_WINDOW, ORACLES, QUERIES

    first50 = list(QUERIES)[:50]
    assert first50 == DRIVER_WINDOW
    missing = [n for n in first50 if n not in ORACLES]
    assert not missing, f"window queries without oracles: {missing}"


def test_bench_headline_names_registered_queries():
    """bench.py looks every HEADLINE name up in QUERIES; a stale name
    would only fail at bench time with a KeyError."""
    import bench
    from rgr_pdal_topo_spark.queries import QUERIES

    unknown = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not unknown, f"HEADLINE names not registered: {unknown}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_docs_name_only_registered_queries():
    """COVERAGE.md's `<name> ✓oracle` entries must name oracle-backed
    queries, and the Driver query column of SURVEY.md's additions table
    must name registered ones, so retiring a query without its doc rows
    fails here."""
    import re
    from pathlib import Path

    from rgr_pdal_topo_spark.queries import ORACLES, QUERIES

    root = Path(__file__).resolve().parent.parent
    cov = (root / "COVERAGE.md").read_text()
    # a name right before the mark; "queries" is F13's "all grid queries"
    names = re.findall(r"(?<![\w/])([a-z][a-z0-9_]*) ✓oracle", cov)
    stale = sorted({n for n in names if n not in ORACLES} - {"queries"})
    assert names and not stale, f"COVERAGE.md ✓oracle names: {stale}"

    lines = (root / "SURVEY.md").read_text().splitlines()
    head = lines.index("| Addition | Where | Driver query |")
    tokens = []
    for line in lines[head + 2:]:
        if not line.startswith("|"):
            break
        col = re.split(r"[(+]", line.strip().strip("|").split("|")[-1])[0]
        tokens += [
            t for t in re.findall(r"\w+", col)
            if t not in ("pytest", "plan", "pins")
        ]
    stale = sorted({t for t in tokens if t not in QUERIES})
    assert tokens and not stale, f"SURVEY.md driver queries: {stale}"


def test_default_driver_heap_fits_in_physical_memory(spark):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is sized below the
    host's RAM, so the JVM cannot grow until the kernel kills it."""
    import os

    import pytest

    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        pytest.skip("SPARK_GRAFT_DRIVER_MEM overrides the default")
    heap = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(spark.conf.get("spark.driver.memory"))
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 0 < heap < phys


def test_repeated_plans_reuse_generated_code(spark):
    """The session's codegen cache holds more classes than Spark's
    default of 100: compiling 110 distinct one-stage plans a second time
    compiles no class and runs no Spark job."""
    sc = spark.sparkContext
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def compile_all():
        for i in range(110):
            spark.range(1).selectExpr(
                f"id * {i + 3} + {i} AS v"
            )._jdf.queryExecution().toRdd()

    group = "codegen-cache"
    sc.setJobGroup(group, group)
    try:
        compile_all()
        before = compiles.getCount()
        compile_all()
        after = compiles.getCount()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert after == before
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
