"""Checkpointed, idempotently-resumable extraction runs.

Replaces the reference's Redis JobStatus record and read-modify-write progress
protocol (``backend/app/main.py:94-125, 276-314`` — which has a lost-update window,
SURVEY.md §3.2) with a structured checkpoint table + deterministic partitioning:

  * ``partition_id = pmod(xxhash64(doc_id), P)`` — stable, input-order-independent.
  * resume = the driver collects the partition_ids with status='completed' for
    this run_id once; pending = ``range(P)`` minus those, and the corpus is
    filtered to the pending ids (SURVEY.md §2 C1). Every pending partition gets
    a checkpoint row, a zero-count one if it holds no docs.
  * output written with **dynamic partition overwrite** partitioned by
    partition_id: a re-run of a half-written partition atomically replaces it —
    no duplicates, no orphans (Iceberg's overwritePartitions gives the same
    contract when a catalog is configured).
  * the checkpoint row for a partition is appended ONLY AFTER its output commit,
    and metrics are derived by reading back the written data (never from
    accumulators, which are at-least-once) — so a crash between the two steps
    just re-runs that partition.
  * per-partition lineage: run_id, input path, docs_done, spans_emitted,
    parse_failures, bytes_processed, updated_at.

Storage is format-pluggable: plain parquet paths in this sandbox; the same code
paths map 1:1 onto Iceberg tables (MERGE INTO checkpoints / overwritePartitions)
when a catalog is available — see io_compat notes in README.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import DEFAULT_SALT_THRESHOLD, extract_corpus
from .schema import CHECKPOINT_SCHEMA, EXTRACTED_SCHEMA

DEFAULT_NUM_PARTITIONS = 64

# storage refs are format-pluggable: a plain path means parquet; an
# "iceberg:catalog.db.table" ref routes reads/writes through the Iceberg
# DataFrame v2 API (requires iceberg-spark-runtime on the classpath and a
# configured catalog — not present in this sandbox, hence the availability
# check; parquet behavior is byte-identical either way).
ICEBERG_PREFIX = "iceberg:"


def is_iceberg_ref(ref: str) -> bool:
    return ref.startswith(ICEBERG_PREFIX)


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime classes are on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _require_backend(spark: SparkSession, *refs: str) -> None:
    if any(is_iceberg_ref(r) for r in refs) and not iceberg_available(spark):
        raise RuntimeError(
            "an iceberg: table ref was given but the Iceberg Spark runtime is not "
            "on the classpath (add iceberg-spark-runtime and configure the catalog)"
        )


def _read_table(spark: SparkSession, ref: str) -> DataFrame:
    if is_iceberg_ref(ref):
        return spark.read.table(ref[len(ICEBERG_PREFIX):])
    return spark.read.parquet(ref)


_OUTPUT_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields + [T.StructField("partition_id", T.IntegerType())]
)


def _is_missing(e: Exception) -> bool:
    """True iff a read/write error only means the table or path does not exist
    yet (a fresh run); any other error must propagate."""
    return any(m in str(e) for m in ("PATH_NOT_FOUND", "Path does not exist",
                                     "TABLE_OR_VIEW_NOT_FOUND", "Table or view not found"))


def _write_output(extracted: DataFrame, ref: str) -> None:
    """Idempotent per-partition commit. Parquet: dynamic partition overwrite.
    Iceberg: overwritePartitions() — the same replace-exactly-the-written-
    partitions contract, with snapshot isolation on top. A first run creates
    the table (overwritePartitions/append cannot — mirroring the fresh-run
    tolerance in completed_partitions)."""
    if is_iceberg_ref(ref):
        from pyspark.errors import AnalysisException

        tbl = ref[len(ICEBERG_PREFIX):]
        try:
            extracted.writeTo(tbl).overwritePartitions()
        except AnalysisException as e:
            if not _is_missing(e):
                raise
            extracted.writeTo(tbl).partitionedBy(F.col("partition_id")).create()
    else:
        (
            extracted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(ref)
        )


def _append_checkpoint(rows_df: DataFrame, ref: str) -> None:
    if is_iceberg_ref(ref):
        from pyspark.errors import AnalysisException

        tbl = ref[len(ICEBERG_PREFIX):]
        try:
            rows_df.writeTo(tbl).append()
        except AnalysisException as e:
            if not _is_missing(e):
                raise
            rows_df.writeTo(tbl).create()
    else:
        rows_df.write.mode("append").parquet(ref)


@dataclass
class RunSummary:
    run_id: str
    partitions_total: int
    partitions_pending: int
    partitions_done: int
    docs_done: int
    spans_emitted: int
    parse_failures: int
    bytes_processed: int
    wall_seconds: float


def with_partition_id(corpus: DataFrame, num_partitions: int) -> DataFrame:
    return corpus.withColumn(
        "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(num_partitions)).cast("int")
    )


def completed_partitions(spark: SparkSession, checkpoint_path: str, run_id: str) -> set[int]:
    """The partition_ids already completed for run_id, collected to the driver
    (empty if the checkpoint table does not exist yet). Only a missing
    path/table means "fresh run"; any other read error (corrupt footer,
    permission) propagates — silently restarting the whole run on a corrupted
    checkpoint table would mask it."""
    from pyspark.errors import AnalysisException

    try:
        cp = _read_table(spark, checkpoint_path)
    except AnalysisException as e:
        if _is_missing(e):
            return set()
        raise
    rows = (
        cp.filter((F.col("run_id") == run_id) & (F.col("status") == "completed"))
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r[0] for r in rows}


def run_extraction(
    spark: SparkSession,
    *,
    run_id: str,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    salted_parallelism: int | None = None,
    process_only: list[int] | None = None,
) -> RunSummary:
    """One (possibly resumed) extraction run. ``process_only`` restricts the run to
    a subset of pending partitions — used by tests to simulate a mid-run crash."""
    t0 = time.monotonic()
    _require_backend(spark, input_path, output_path, checkpoint_path)
    done = completed_partitions(spark, checkpoint_path, run_id)
    todo = [p for p in range(num_partitions) if p not in done]
    if process_only is not None:
        only = {int(p) for p in process_only}
        pending_parts = [p for p in todo if p in only]
    else:
        pending_parts = todo
    n_done_before = num_partitions - len(todo)
    if not pending_parts:
        return RunSummary(run_id, num_partitions, 0, n_done_before, 0, 0, 0, 0,
                          time.monotonic() - t0)

    pending = with_partition_id(_read_table(spark, input_path), num_partitions).filter(
        F.col("partition_id").isin(pending_parts)
    )
    extracted = extract_corpus(
        pending, salt_threshold=salt_threshold, salted_parallelism=salted_parallelism
    )
    extracted = with_partition_id(extracted, num_partitions)

    # idempotent per-partition commit: dynamic overwrite replaces exactly the
    # partitions present in this write (the pending ones)
    _write_output(extracted, output_path)

    # metrics from the WRITTEN data (column-pruned scan: 4 small columns); under
    # its schema, a parquet output no task has written to yet reads as empty
    written = (
        _read_table(spark, output_path) if is_iceberg_ref(output_path)
        else spark.read.schema(_OUTPUT_SCHEMA).parquet(output_path)
    ).filter(F.col("partition_id").isin(pending_parts))
    agg = (
        written.groupBy("partition_id")
        .agg(
            F.count("*").alias("docs_done"),
            F.sum("n_spans").alias("spans_emitted"),
            F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
            F.sum("bytes_in").alias("bytes_processed"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("status", F.lit("completed"))
        .withColumn("input_path", F.lit(input_path))
        .withColumn("updated_at", F.current_timestamp())
        .select([f.name for f in CHECKPOINT_SCHEMA.fields])
    )
    # a pending partition with zero input docs still completes (checkpoint row with
    # zero counts) so resume will not retry it forever
    from datetime import datetime

    # agg was select-ed into CHECKPOINT_SCHEMA field order:
    # (run_id, partition_id, status, docs_done, spans_emitted, parse_failures,
    #  bytes_processed, input_path, updated_at)
    rows = [tuple(r) for r in agg.collect()]
    seen = {r[1] for r in rows}
    now = datetime.now()
    rows += [
        (run_id, int(p), "completed", 0, 0, 0, 0, input_path, now)
        for p in pending_parts
        if p not in seen
    ]
    _append_checkpoint(spark.createDataFrame(rows, CHECKPOINT_SCHEMA), checkpoint_path)

    tot = {
        "docs": sum(r[3] for r in rows),
        "spans": sum(r[4] or 0 for r in rows),
        "fail": sum(r[5] or 0 for r in rows),
        "bytes": sum(r[6] or 0 for r in rows),
    }
    return RunSummary(
        run_id=run_id,
        partitions_total=num_partitions,
        partitions_pending=len(pending_parts),
        partitions_done=n_done_before + len(pending_parts),
        docs_done=tot["docs"],
        spans_emitted=int(tot["spans"]),
        parse_failures=int(tot["fail"]),
        bytes_processed=int(tot["bytes"]),
        wall_seconds=time.monotonic() - t0,
    )
