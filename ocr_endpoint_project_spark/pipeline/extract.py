"""Flagship extraction job: salted url-hash repartition -> Arrow kernel.

Physical plan (SURVEY.md §4):

    scan pages (column-pruned: url, warc_ts, html, lang)
    -> Project partition_id = pmod(xxhash64(url), P)       (data-derived)
    -> Filter NOT partition_id IN (done ids)               (resume, J6)
    -> Exchange hashpartitioning(xxhash64(url), slots)     (skew-defeating)
    -> MapInPandas extract_batch (bounded Arrow batches)
    -> Project (html dropped — blobs never survive the kernel)

Two partition counts, deliberately different:

* ``P`` (``num_partitions``) is LOGICAL: the unit of resume and lineage.
  A row's ``partition_id`` is fixed by its url, the sink commits one file
  set per id and the snapshot log records which ids are done.
* The PHYSICAL task count is the task slots
  (``sparkContext.defaultParallelism``). Every Python task pays a fixed
  launch cost whatever it does — on ``local[4]`` a no-op ``mapInPandas``
  took 0.43 s at 4 tasks, 1.13 s at 16 and 4.68 s at 64 — so ``P`` tasks
  on fewer cores would run ``P / slots`` waves of that overhead for the
  same documents.

Scale notes: the exchange key is the 64-bit hash of the FULL url
(``xxhash64``), so a host contributing 30% of documents still spreads
uniformly across the tasks — host-level skew cannot concentrate
(north_rule salting requirement). ``salt_buckets`` adds a second-level
salt for the pathological case of many rows sharing one url (recrawls).
The blob column is projected away immediately after the kernel, so no
shuffle ever moves document bytes again.
"""

from __future__ import annotations

from collections.abc import Collection

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.kernels import extract_batch
from ..schemas import EXTRACTED_SCHEMA

DEFAULT_PARTITIONS = 64

# per-page processing cost (reference pricing model, ocr_common.py:345-346)
COST_PER_PAGE_USD = 0.002


def task_slots(df: DataFrame) -> int:
    """Physical parallelism for ``df``'s session: its task slots."""
    return df.sparkSession.sparkContext.defaultParallelism


def salted_pages(
    pages: DataFrame, num_partitions: int = DEFAULT_PARTITIONS, salt_buckets: int = 1
) -> DataFrame:
    """Tag rows with a stable logical ``partition_id`` and spread them
    over the task slots.

    ``partition_id = pmod(xxhash64(url [, salt]), P)`` — deterministic
    from the data (NOT the scheduler), so lineage rows keyed by it
    survive restarts; ``P`` is the resume and lineage unit only. The
    PHYSICAL exchange has one partition per task slot (module docstring:
    a task costs the same fixed Python launch overhead however few rows
    it holds) and hashes the raw 64-bit key (north_rule: "salts and
    repartitions on a 64-bit url hash"), not the modded id: hashing a few
    distinct ids into as many buckets collides birthday-style (measured
    4.0x max/median task time on 64/64 — round-6 partition_skew probe),
    while the raw key spreads binomially (~1.05x). Logical grouping for
    the file-per-partition sink is restored by a cheap blob-free
    re-cluster at write time (lineage.run_with_lineage).
    """
    if salt_buckets > 1:
        key = F.xxhash64(F.col("url"), F.pmod(F.xxhash64(F.col("warc_ts")), F.lit(salt_buckets)))
    else:
        key = F.xxhash64(F.col("url"))
    tagged = pages.withColumn(
        "partition_id", F.pmod(key, F.lit(num_partitions)).cast("int")
    )
    return tagged.repartition(task_slots(pages), key)


def run_extraction(
    pages: DataFrame,
    num_partitions: int = DEFAULT_PARTITIONS,
    salt_buckets: int = 1,
    done_partitions: Collection[int] = (),
) -> DataFrame:
    """pages -> extracted DataFrame (EXTRACTED_SCHEMA).

    ``num_partitions`` is the logical ``P`` that ``partition_id`` is
    taken modulo; the kernel runs one task per task slot
    (:func:`salted_pages`). ``done_partitions``: logical ids that already
    succeeded (checkpoint resume, J6), held on the driver — at most ``P``
    of them — and removed with an ``isin`` filter that Catalyst pushes
    below the exchange, before any extraction work happens.
    """
    cols = [c for c in ("url", "warc_ts", "html", "text", "lang") if c in pages.columns]
    df = salted_pages(pages.select(*cols), num_partitions, salt_buckets)
    if done_partitions:
        df = df.filter(~F.col("partition_id").isin(sorted(done_partitions)))
    extracted = df.select("url", "warc_ts", "lang", "html", "partition_id").mapInPandas(
        extract_batch, EXTRACTED_SCHEMA
    )
    # O8 cost accounting (reference: ocr_common.py:345-346, cost = pages *
    # $0.002) — a Catalyst column, not kernel Python: the cost model is
    # pure arithmetic over n_pages, so it stays in codegen
    return extracted.withColumn(
        "cost_usd", F.coalesce(F.col("n_pages"), F.lit(0)) * F.lit(COST_PER_PAGE_USD)
    )
