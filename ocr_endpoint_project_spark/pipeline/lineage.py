"""Per-partition lineage + exact checkpoint resume (north_rule J6/O4).

The reference's job state machine (``cv_api/main.py:223-301``: queued ->
processing -> succeeded|failed, timings, lineage ids) becomes DATA: one
lineage row per logical partition with doc/byte counts, an
order-insensitive content checksum, and stage timestamps. Resume
collects the succeeded partition ids (at most ``P``) to the driver and
filters them out of the input before the exchange.

Exactly-once contract: extracted rows are written with dynamic partition
overwrite keyed by ``partition_id`` (re-running a partition REPLACES its
directory, never duplicates it); the lineage append is the commit point
and happens only after the data write returns. The reference's
append-only results + derived-latest-snapshot idiom
(``pages/parallel_ocr_test.py:56-68`` + ``scripts/export_benchmark_results.py:47-56``)
is preserved for the lineage table itself: re-runs append, readers take
the newest row per partition_id.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .extract import DEFAULT_PARTITIONS, run_extraction, task_slots

STATUS_SUCCEEDED = "succeeded"


def lineage_rows(
    extracted: DataFrame,
    run_id: str,
    started_at: datetime | None = None,
    partitions_total: int | None = None,
) -> DataFrame:
    """Aggregate extracted rows into one lineage row per partition.

    Checksum: md5 over the sorted per-row md5s of extracted text — order-
    insensitive, so it is stable under task re-ordering.

    ``started_at`` is the job/batch start wall-clock captured BEFORE the
    data write (the reference records genuine per-stage timings,
    cv_api/main.py:246-256); ``finished_at`` is the lineage-commit time,
    so ``started_at < finished_at`` brackets the data write.
    ``partitions_total`` records the run's configured partition count so
    readers (job_progress) never have to guess the denominator.
    """
    started = (
        F.lit(started_at).cast("timestamp")
        if started_at is not None
        else F.current_timestamp()
    )
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(F.when(F.col("status") == STATUS_SUCCEEDED, 1).otherwise(0)).alias("ok_count"),
            F.sum(F.when(F.col("status") != STATUS_SUCCEEDED, 1).otherwise(0)).alias(
                "failed_count"
            ),
            F.sum(F.coalesce(F.col("doc_bytes"), F.lit(0))).alias("byte_count"),
            F.md5(
                F.concat_ws(
                    "",
                    F.sort_array(
                        F.collect_list(F.md5(F.coalesce(F.col("extracted_text"), F.lit(""))))
                    ),
                )
            ).alias("checksum"),
        )
        .select(
            "partition_id",
            F.lit(run_id).alias("run_id"),
            "doc_count",
            "ok_count",
            "failed_count",
            "byte_count",
            "checksum",
            started.alias("started_at"),
            F.current_timestamp().alias("finished_at"),
            F.lit(partitions_total).cast("int").alias("partitions_total"),
            F.lit(STATUS_SUCCEEDED).alias("status"),
        )
    )


def latest_lineage(lineage: DataFrame) -> DataFrame:
    """Newest lineage row per partition (the reference's latest-snapshot
    rule, ``scripts/export_benchmark_results.py:47-56``)."""
    w = Window.partitionBy("partition_id").orderBy(
        F.desc("finished_at"), F.desc("run_id")
    )
    return (
        lineage.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _succeeded_lineage(spark: SparkSession, lineage_dir: str) -> DataFrame | None:
    """Newest lineage row per partition, succeeded only; None when the
    lineage table does not exist yet (a fresh run).

    Only the missing-path case means "fresh run"; any other read failure
    (permissions, corrupt footer) re-raises — silently discarding resume
    state would reprocess every partition.
    """
    from pyspark.errors import AnalysisException

    try:
        lin = spark.read.parquet(lineage_dir)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise
    return latest_lineage(lin).filter(F.col("status") == STATUS_SUCCEEDED)


def resume_filter(spark: SparkSession, lineage_dir: str) -> set[int]:
    """Succeeded partition ids from previous runs (empty on a first run),
    collected to the driver: there are at most ``P`` of them."""
    lin = _succeeded_lineage(spark, lineage_dir)
    if lin is None:
        return set()
    return {int(r["partition_id"]) for r in lin.select("partition_id").collect()}


def run_with_lineage(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run-1",
    num_partitions: int = DEFAULT_PARTITIONS,
) -> dict:
    """Execute (or resume) the extraction job with durable lineage.

    Layout: ``{out_dir}/extracted`` (parquet, partitioned by partition_id,
    dynamic overwrite) and ``{out_dir}/lineage`` (parquet, append-only).
    Returns counters for the run.
    """
    extracted_dir = os.path.join(out_dir, "extracted")
    lineage_dir = os.path.join(out_dir, "lineage")

    done = resume_filter(spark, lineage_dir)
    extracted = run_extraction(pages, num_partitions=num_partitions, done_partitions=done)

    started_at = datetime.now(timezone.utc)  # before the data write
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        # re-cluster by the LOGICAL id so the dynamic-overwrite sink
        # writes one file set per partition_id (extraction tasks are
        # physically spread by the raw url hash for balance — see
        # extract.salted_pages). Rows here are blob-free (html was
        # projected away in the kernel), so this exchange moves ~10% of
        # the input bytes; a write-stage exchange keyed on P distinct
        # values is birthday-lumpy, which is acceptable for pure IO
        # tasks but must never sit in front of the extraction kernel.
        # No more tasks than slots: each costs a fixed launch overhead.
        extracted.repartition(
            min(num_partitions, task_slots(extracted)), F.col("partition_id")
        )
        .write.mode("overwrite")
        .partitionBy("partition_id")
        .parquet(extracted_dir)
    )
    # commit point: lineage appended only after the data write returned
    done_rows = spark.read.parquet(extracted_dir)
    if done:
        done_rows = done_rows.filter(~F.col("partition_id").isin(sorted(done)))
    lin = lineage_rows(
        done_rows, run_id, started_at=started_at, partitions_total=num_partitions
    )
    lin.write.mode("append").parquet(lineage_dir)

    lin_now = spark.read.parquet(lineage_dir)
    return {
        "run_id": run_id,
        "resumed_partitions_skipped": len(done),
        "partitions_total": latest_lineage(lin_now).count(),
        "extracted_dir": extracted_dir,
        "lineage_dir": lineage_dir,
    }


def job_progress(
    spark: SparkSession, lineage_dir: str, num_partitions: int = DEFAULT_PARTITIONS
) -> dict:
    """Stage progress for a (possibly running or resumable) extraction job.

    The reference reports per-job stage percentages while processing
    (``cv_api/main.py:223-301``: preparing 5% -> ocr 35% -> llm 75% ->
    completed 100%). In a distributed job the honest progress unit is the
    PARTITION: each succeeded partition has passed every stage, so
    ``percent = succeeded_partitions / partitions_total`` — derived from
    the same lineage table that drives checkpoint resume, never from
    driver-side mutable state. The denominator is the most recent run's
    recorded ``partitions_total`` (a resumed job may have been launched
    with a different partition count than this caller assumes);
    ``num_partitions`` is only the fallback for pre-upgrade lineage
    tables whose rows carry a null total.

    Returns ``{"stage", "percent", "partitions_done", "partitions_total",
    "docs_done"}``.
    """
    lin = _succeeded_lineage(spark, lineage_dir)
    if lin is None:
        return {
            "stage": "preparing",
            "percent": 0.0,
            "partitions_done": 0,
            "partitions_total": num_partitions,
            "docs_done": 0,
        }
    total = num_partitions
    if "partitions_total" in lin.columns:
        # denominator from the SAME latest-per-partition rows that supply
        # the numerator — multiple runs (run_prefix streams) may share one
        # lineage_dir, and the globally newest row could belong to a
        # different job's run, skewing percent/stage (round-5 fix)
        tot_row = (
            lin.filter(F.col("partitions_total").isNotNull())
            .orderBy(F.desc("finished_at"), F.desc("run_id"))
            .select("partitions_total")
            .first()
        )
        if tot_row is not None:
            total = int(tot_row["partitions_total"])
    row = lin.agg(
        F.count(F.lit(1)).alias("p"), F.sum("doc_count").alias("docs")
    ).collect()[0]
    n_done = int(row["p"] or 0)
    pct = round(min(100.0, 100.0 * n_done / total), 1)
    return {
        "stage": "completed" if n_done >= total else "extracting",
        "percent": pct,
        "partitions_done": n_done,
        "partitions_total": total,
        "docs_done": int(row["docs"] or 0),
    }


def ice_done_partitions(spark: SparkSession, table) -> set[int]:
    """Succeeded partition ids straight from the table's SNAPSHOT LOG
    (resume's source of truth since round 7): every overwrite snapshot
    records the partitions it committed in ``replaced_partitions``, so
    resume state needs no side table — a crash between commit and any
    bookkeeping can never lose or double-count a partition.  Read on the
    driver from table metadata; no Spark job runs."""
    return {
        int(p)
        for s in table.snapshots()
        for p in s["summary"].get("replaced_partitions", [])
    }


def run_with_lineage_ice(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run-1",
    num_partitions: int = DEFAULT_PARTITIONS,
) -> dict:
    """``run_with_lineage`` with the results sink on the icetable format
    (north_rule: "writes extracted text plus span offsets back to
    Iceberg").

    Each run (or resumed slice of a run) commits ONE snapshot via
    dynamic partition overwrite, and the run's LINEAGE RIDES IN THE
    SNAPSHOT SUMMARY (run id, doc/ok/failed/byte counts, an
    order-insensitive checksum-of-checksums, wall-clock bracket): data
    and lineage commit ATOMICALLY in the same CAS — there is no window
    where one exists without the other.  The flow is stage -> derive
    lineage from the staged files (the kernel ran exactly once; the
    staged parquet is blob-free) -> commit; a crash before the commit
    leaves only unreferenced files.  Resume reads the snapshot log
    (:func:`ice_done_partitions`), never a side table.  The per-partition
    lineage parquet is still appended AFTER the commit as a derived
    convenience mirror for ``job_progress`` — losing it loses nothing.

    ``num_partitions`` (``P``) is the LOGICAL unit: resume skips and
    lineage counts whole partition ids.  Physical parallelism is the
    task slots (``pipeline/extract.py``): the kernel runs one task per
    slot, and the sink re-clusters into ``min(P, slots)`` tasks, because
    each Python task costs a fixed ~0.25 s launch whatever it holds.  A
    run pays for one kernel wave, one staged write, and one lineage
    aggregate whose <= ``P`` rows feed both the snapshot summary and the
    mirror; the resume ids and result counts stay on the driver.
    """
    from ..sources.icetable import IceTable

    table_dir = os.path.join(out_dir, "extracted_ice")
    lineage_dir = os.path.join(out_dir, "lineage")
    try:
        table = IceTable.load(table_dir)
    except FileNotFoundError:
        table = IceTable.create(
            table_dir, partition_col="partition_id", stat_cols=["url", "doc_bytes"]
        )

    done = ice_done_partitions(spark, table)
    extracted = run_extraction(pages, num_partitions=num_partitions, done_partitions=done)

    started_at = datetime.now(timezone.utc)  # before the data write
    entries = table.stage_overwrite(
        # blob-free re-cluster by the logical id (see run_with_lineage):
        # each id lands whole in one task, so one file set per partition
        extracted.repartition(
            min(num_partitions, task_slots(extracted)), F.col("partition_id")
        )
    )
    lin = None
    lineage_summary = {
        "doc_count": 0, "ok_count": 0, "failed_count": 0,
        "byte_count": 0, "checksum": None,
    }
    if entries:
        # the known schema spares Spark its footer-inference job
        staged = (
            spark.read.schema(extracted.schema)
            .option("basePath", table.data_dir)
            .parquet(*[os.path.join(table.table_dir, e["path"]) for e in entries])
        )
        # cached: its <= P rows feed the summary now and the mirror after
        # the commit, so the staged files are aggregated exactly once
        lin = lineage_rows(
            staged, run_id, started_at=started_at, partitions_total=num_partitions
        ).persist()
        rows = lin.collect()
        lineage_summary = {
            k: sum(r[k] for r in rows)
            for k in ("doc_count", "ok_count", "failed_count", "byte_count")
        }
        # == md5(concat_ws('', sort_array(collect_list(checksum)))): the
        # row checksums are ASCII hex, so str order is Spark's byte order
        lineage_summary["checksum"] = hashlib.md5(
            "".join(sorted(r["checksum"] for r in rows)).encode()
        ).hexdigest()
    try:
        snap = table.commit_overwrite(
            entries,
            extra_summary={
                "run_id": run_id,
                "started_at": started_at.isoformat(),
                "finished_at": datetime.now(timezone.utc).isoformat(),
                "partitions_total": num_partitions,
                "lineage": lineage_summary,
            },
        )
        if lin is not None:
            # derived mirror (see docstring) — written only after the
            # commit, from the cached rows the summary was summed from
            lin.withColumn("snapshot_id", F.lit(int(snap["snapshot_id"]))).write.mode(
                "append"
            ).parquet(lineage_dir)
    finally:
        if lin is not None:
            lin.unpersist()

    return {
        "run_id": run_id,
        "snapshot_id": int(snap["snapshot_id"]),
        "resumed_partitions_skipped": len(done),
        "partitions_total": len(ice_done_partitions(spark, table)),
        "table_dir": table_dir,
        "lineage_dir": lineage_dir,
    }
