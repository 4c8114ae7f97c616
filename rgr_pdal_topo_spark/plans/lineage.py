"""Per-partition checkpoint lineage: resumable tile-batch processing.

The reference memoizes derivatives as suffixed files and skips recompute
when they exist (loadDerivedGrid baseGrid.py:1150-1173;
_areGridsAlreadyCalculated flowRoutingGrids.py:122-141).  The engine's
version is partition-granular, as the north_rule requires: any tile batch
is resumable, with a manifest recording lineage + metrics per batch.

Layout under ``base_path``:
    out/batch_id=<k>/...parquet  -- results of batch k
    manifest/...parquet          -- one row per completed batch:
        batch_id, input_fingerprint, n_rows, completed_at, fp_version

``run`` computes only PENDING batches (batches without a manifest row)
and validates that completed batches' input fingerprints still match
(input drift -> loud error, not silent staleness).  The fingerprint is an
order-insensitive aggregate over the batch's input rows, taken with a
``DataFrame.observe`` in one shuffle-free pass over the pending inputs;
each batch's output row count comes from an ``observe`` on the data
write, so nothing written is read back to build the manifest.  A pending
batch with input rows gets a manifest row even when its transform yields
no rows (``n_rows = 0``, any partition an interrupted run left for it is
removed), so a resume does not recompute it; a batch with no input rows
stays pending.  Every job ``run`` starts carries the builder job tag
(``session.eager_jobs``).
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from rgr_pdal_topo_spark.session import eager_jobs


# Fingerprint algorithm version, persisted per manifest row.  v1 was
# SUM(xxhash64) (overflows int64 under ANSI sessions); v2 is bit_xor.
# The algorithms produce different values for identical inputs, so a
# manifest written by one can NEVER be validated by the other — the
# version column turns that silent everything-drifted false alarm into
# a loud rebuild instruction.
FP_VERSION = 2

MANIFEST_SCHEMA = (
    "batch_id int, input_fingerprint long, n_rows long, "
    "completed_at double, fp_version int"
)


class BatchCheckpointer:
    def __init__(self, base_path: str, n_batches: int = 16):
        self.base = base_path.rstrip("/")
        self.n_batches = n_batches
        self.out_path = f"{self.base}/out"
        self.manifest_path = f"{self.base}/manifest"

    # -- manifest ----------------------------------------------------------
    def completed(self, spark: SparkSession) -> DataFrame:
        if not os.path.exists(self.manifest_path):
            return spark.createDataFrame([], MANIFEST_SCHEMA)
        done = spark.read.parquet(self.manifest_path)
        if "fp_version" not in done.columns:
            # manifests written before versioning used the v1 SUM
            # fingerprint
            done = done.withColumn("fp_version", F.lit(1))
        return done

    def _check_fp_version(self, done: DataFrame) -> None:
        stale = done.filter(F.col("fp_version") != F.lit(FP_VERSION))
        n = stale.count()
        if n:
            vs = sorted(
                r.fp_version
                for r in stale.select("fp_version").distinct().collect()
            )
            raise RuntimeError(
                f"{n} completed batches carry fingerprint version(s) {vs} "
                f"but this engine computes version {FP_VERSION}; their "
                "stored fingerprints cannot be re-validated — delete the "
                f"manifest at {self.manifest_path} to rebuild"
            )

    # -- main entry ---------------------------------------------------------
    def run(
        self,
        inputs: DataFrame,
        transform,
        batch_col: str = "pid",
    ) -> DataFrame:
        """Process pending batches of ``inputs`` through ``transform``
        (DataFrame -> DataFrame; must keep the ``batch_id`` column), append
        results + manifest rows, and return the full checkpointed output:
        the data columns, then ``batch_id`` int.
        """
        spark = inputs.sparkSession
        with eager_jobs(spark):
            out = self._write_pending(spark, inputs, transform, batch_col)
        data = [f for f in out.schema.fields if f.name != "batch_id"]
        return spark.read.schema(
            StructType(data + [StructField("batch_id", IntegerType())])
        ).parquet(self.out_path)

    def _write_pending(
        self, spark: SparkSession, inputs: DataFrame, transform, batch_col: str
    ) -> DataFrame:
        """Write the pending batches' output and manifest rows; return the
        (unwritten) transform output, for its schema."""
        batched = inputs.withColumn(
            "batch_id",
            F.pmod(F.col(batch_col), F.lit(self.n_batches)).cast("int"),
        )
        done = self.completed(spark)
        done_ids = (  # no manifest yet: nothing done, no job to learn that
            [r.batch_id for r in done.select("batch_id").collect()]
            if os.path.exists(self.manifest_path)
            else []
        )

        if done_ids:
            self._check_fp_version(done)

        if done_ids:  # completed-batch input drift -> loud error
            drift = self.validate(inputs, batch_col)
            n_drift = drift.count()
            if n_drift:
                raise RuntimeError(
                    f"{n_drift} completed batches' inputs drifted since "
                    "checkpointing; refusing to resume (delete the "
                    "manifest to rebuild)"
                )

        pending = batched.filter(~F.col("batch_id").isin(done_ids)) if done_ids else batched

        # Fingerprint of pending inputs: bit_xor over per-row xxhash64.
        # XOR is order-insensitive AND overflow-free — a SUM of uniform
        # int64 hashes wraps with near-certainty past a few thousand rows,
        # which is silent under ansi.enabled=false but ARITHMETIC_OVERFLOW
        # under an ANSI session.  (Known xor caveat: adding the same row an
        # even number of times cancels; drift detection on real inputs is
        # about edits/appends, where this is negligible.)
        # One pass over the pending inputs, no shuffle: the per-batch
        # aggregates are observed metrics of a noop write.  A batch with
        # no input row gets a NULL fingerprint.
        ks = range(self.n_batches)
        b, h = F.col("batch_id"), F.xxhash64(*inputs.columns)
        fps = Observation()
        pending.observe(
            fps, *[F.bit_xor(F.when(b == k, h)).alias(str(k)) for k in ks]
        ).write.format("noop").mode("overwrite").save()

        out = transform(pending)
        if "batch_id" not in out.columns:
            raise ValueError("transform must preserve batch_id")
        # per-batch output row counts, taken by the write itself
        n_rows = Observation()
        # dynamic partition overwrite: re-running a batch after a crash
        # between the data write and the manifest write replaces (not
        # duplicates) that batch's partition -> resume is idempotent
        (
            out.observe(n_rows, *[F.count_if(b == k).alias(str(k)) for k in ks])
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self.out_path)
        )
        completed_at = time.time()
        fp, n = fps.get, n_rows.get
        rows = []
        for k in ks:
            if fp[str(k)] is None:  # no input rows: the batch stays pending
                continue
            if n[str(k)] == 0:  # the write replaced nothing: drop what an
                # interrupted earlier run may have left for this batch
                shutil.rmtree(f"{self.out_path}/batch_id={k}", ignore_errors=True)
            rows.append((k, fp[str(k)], n[str(k)], completed_at, FP_VERSION))
        if rows:  # from pandas, so the rows cross to the JVM as Arrow
            spark.createDataFrame(
                pd.DataFrame(rows), MANIFEST_SCHEMA
            ).write.mode("append").parquet(self.manifest_path)
        return out

    def validate(self, inputs: DataFrame, batch_col: str = "pid") -> DataFrame:
        """Recompute input fingerprints and compare with the manifest;
        returns rows whose inputs drifted since checkpointing."""
        spark = inputs.sparkSession
        batched = inputs.withColumn(
            "batch_id",
            F.pmod(F.col(batch_col), F.lit(self.n_batches)).cast("int"),
        )
        fps = (
            batched.withColumn("__h", F.xxhash64(*inputs.columns))
            .groupBy("batch_id")
            .agg(F.expr("bit_xor(__h)").alias("fp_now"))
        )
        done = self.completed(spark)
        self._check_fp_version(done)
        return (
            done.join(fps, "batch_id")
            .filter(F.col("fp_now") != F.col("input_fingerprint"))
            .select("batch_id", "input_fingerprint", "fp_now")
        )
