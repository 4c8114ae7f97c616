"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what the driver uses (local[$SPARK_GRAFT_CPUS]);
on a real cluster the same builder is used by spark-submit with master unset.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Job tag on every Spark job a builder runs before it returns (fixpoint
#: rounds, checkpoints, driver-side collects and counts), so a caller can
#: tell that work from its own actions: ``getJobIdsForTag`` on the JVM
#: status tracker.  A tag, not a job group: the caller's group stays set.
EAGER_JOB_TAG = "rgr-eager-build"


def _default_driver_memory() -> str:
    """16g, or half of physical memory where that is less: a heap the
    host cannot back lets the JVM grow until the kernel kills it."""
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(16 << 10, phys_mb // 2)}m"


def get_spark(
    app_name: str = "rgr_pdal_topo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    AQE is on (runtime coalesce + skew-join backstop; explicit salting in
    operators remains the primary skew strategy per SURVEY.md §4), Arrow is
    on for all pandas-UDF boundaries.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_cpus = int(cpus) if cpus.isdigit() else 32  # one fallback for BOTH
    if master is None:
        master = f"local[{n_cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = n_cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # a cold terrain pass generates ~150 classes; the default cache
        # of 100 makes every repeat in the same JVM recompile them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        # Keep ANSI off to match Spark's historical arithmetic defaults,
        # but the engine must NOT depend on it either way: the driver's
        # verification session runs ANSI-on, so every query has to be
        # overflow-free under ANSI semantics too (the opt-in ANSI sweep in
        # tests/test_ansi_sweep.py pins this; lineage fingerprints use
        # bit_xor, hash-mix keys use (key % P) * A, never raw key * BIGCONST).
        .config("spark.sql.ansi.enabled", os.environ.get("SPARK_GRAFT_ANSI", "false"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def eager_jobs(spark: SparkSession):
    """Tag the jobs started inside the block with ``EAGER_JOB_TAG``.

    Nests: an inner block leaves the tag to the block that added it."""
    sc = spark.sparkContext
    added = EAGER_JOB_TAG not in sc.getJobTags()
    if added:
        sc.addJobTag(EAGER_JOB_TAG)
    try:
        yield
    finally:
        if added:
            sc.removeJobTag(EAGER_JOB_TAG)
