"""The benchmark's workloads.

Each is a closed loop: one client submits one job at a time and waits
for it to finish, on ``local[N]`` with N = the cores this process may use.
A workload function runs set-up (session start, inputs, warm-up), then
measured jobs until their summed wall time reaches ``seconds``, checking
every job's output outside the timed region. It returns an ``Outcome``;
the per-layer figures of traced jobs are completed from the Spark event
log after the session has stopped (``Outcome.layers``).

* ``extract_mixed_resume`` — the realistic mixed corpus through
  ``run_with_lineage_ice``, one crash-and-resume cycle per job: run 1
  commits only the partitions with ``partition_id < P/2``, run 2
  resubmits the full input to the same table and must skip them. The
  extraction kernel dominates; scan, exchange, Arrow transfer, sink
  write, commit and the resume read are all on the path.
* ``dedup_queries`` — eight training-prep registry queries on the fixed
  sf0.1 tables (``perfbench/data``; the seed does not apply) through the
  noop sink, with a fresh materialize dir per pass; Catalyst, shuffle and
  pin I/O carry it, the extraction kernel not at all.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

CORPUS_RICHNESS = 8  # ~10 KB average page, the realistic weight bench.py uses
KERNEL_CLASSES = ("html", "pdf_text", "pdf_scan", "png", "jpeg")
DEDUP_QUERIES = (
    "dedup_minhash_lsh_pairs",
    "dedup_cluster_keeper",
    "dedup_substring_rebuild",
    "dedup_paragraphs",
    "ann_ivf_bucketed",
    "text_hashed_linear_score",
    "pipeline_training_prep",
    "train_pack_sequences",
)
DEDUP_TABLES = ("documents", "embeddings")
INPUT_FILES = 16

# "full" is what the benchmark measures; "tiny" only smoke-tests the
# harness. Job sizes put a full extraction job at a few seconds on 4 cores.
SIZES = {
    "full": {"docs": 600, "replicas": 6, "partitions": 16, "sf": "sf0.1", "kernel_sample": 200},
    "tiny": {"docs": 60, "replicas": 2, "partitions": 4, "sf": "sf0.001", "kernel_sample": 40},
}


@dataclass
class Job:
    job_s: float
    docs: int
    payload_bytes: int
    traced: bool
    run_id: str
    resume_s: float | None = None
    layers: dict = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: float
    jobs: list[Job]
    attempted: int
    failed: int
    # layer figures that do not depend on one job (serial kernel sample)
    static_layers: dict = field(default_factory=dict)
    # event-log figures of a traced job: (event log, run id) -> metrics
    event_layers: object = None
    notes: dict = field(default_factory=dict)

    def untraced(self) -> list[Job]:
        return [j for j in self.jobs if not j.traced]

    def layers(self, event_log) -> dict[str, float]:
        """Per-layer metrics: the median over traced jobs of each figure,
        plus the tracing overhead (median traced minus median untraced
        ``job_s``; both sides run with the event log on)."""
        traced = [j for j in self.jobs if j.traced]
        per_job = []
        for j in traced:
            fig = dict(j.layers)
            fig.update(event_log.totals(j.run_id))
            if self.event_layers is not None:
                fig.update(self.event_layers(event_log, j.run_id))
            per_job.append(fig)
        out = dict(self.static_layers)
        for name in {k for fig in per_job for k in fig}:
            out[name] = statistics.median(fig.get(name, 0.0) for fig in per_job)
        out["trace.overhead_s"] = (
            statistics.median(j.job_s for j in traced)
            - statistics.median(j.job_s for j in self.untraced())
        )
        return out


def run_loop(seconds: float, trace: bool, min_jobs: int, job_fn) -> list[Job]:
    """Closed loop: call ``job_fn(k, traced) -> Job`` until the summed job
    time reaches ``seconds`` and at least ``min_jobs`` jobs ran. When
    tracing, traced jobs alternate with untraced ones, ``min_jobs`` of each."""
    jobs: list[Job] = []
    spent = 0.0
    while spent < seconds or len(jobs) < (2 * min_jobs if trace else min_jobs):
        k = len(jobs)
        jobs.append(job_fn(k, trace and k % 2 == 1))
        spent += jobs[-1].job_s
    return jobs


# -- inputs --------------------------------------------------------------------

def kernel_class(row) -> str | None:
    """Kernel class of a generated corpus row (None: a failure row)."""
    if row.extension == "html":
        return "html"
    if row.extension == "pdf":
        return "pdf_scan" if row.layout_type == "scan" else "pdf_text"
    if row.extension == "png":
        return "png"
    if row.extension == "jpg" and row.layout_type == "scan":
        return "jpeg"
    return None


def publish_parquet(df, path: str) -> str:
    """Write ``df`` to ``path`` through a private dir and an atomic rename,
    so a reader never sees a half-written input."""
    tmp = f"{path}.build-{os.getpid()}"
    df.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, path)
    return path


def cached_pages(cache_dir: str, rows, seed: int) -> str:
    """Generated page rows as a parquet input keyed by corpus version,
    size and seed, written with pyarrow and published atomically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_endpoint_project_spark.sources.corpus import CORPUS_VERSION

    path = os.path.join(
        cache_dir, f"pages_v{CORPUS_VERSION}_n{len(rows)}_s{seed}.parquet"
    )
    if not os.path.isdir(path):
        tmp = f"{path}.build-{os.getpid()}"
        os.makedirs(tmp)
        # several files, so every later stage over the input is parallel
        for i in range(INPUT_FILES):
            part = rows[i::INPUT_FILES]
            pq.write_table(pa.table({
                "url": pa.array([r.url for r in part], pa.string()),
                "warc_ts": pa.array([r.warc_ts for r in part], pa.timestamp("us", tz="UTC")),
                "html": pa.array([r.html for r in part], pa.binary()),
                "text": pa.array([r.text for r in part], pa.string()),
                "lang": pa.array([r.lang for r in part], pa.string()),
            }), os.path.join(tmp, f"part-{i:05d}.parquet"))
        os.rename(tmp, path)
    return path


def replicate(pages, replicas: int):
    """Fan pages out ``replicas`` times with distinct urls (``url#k``)."""
    return pages.withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
    ).select(
        F.concat(F.col("url"), F.lit("#"), F.col("rep")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )


def input_size(pages) -> tuple[int, int]:
    row = pages.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("html")).alias("b")
    ).collect()[0]
    return int(row["n"]), int(row["b"] or 0)


def kernel_sample(seed: int, n: int) -> dict[str, float]:
    """Serial ``extract_document`` ms per doc for each kernel class, on a
    seeded corpus sample (one warm pass, one timed pass)."""
    from ocr_endpoint_project_spark.extraction_core.document import extract_document
    from ocr_endpoint_project_spark.sources.corpus import generate_corpus

    rows = [(kernel_class(r), r.html) for r in generate_corpus(n, seed=seed, richness=CORPUS_RICHNESS)]
    rows = [(c, p) for c, p in rows if c is not None]
    for _, p in rows:
        extract_document(p)
    ms: dict[str, list[float]] = {c: [] for c in KERNEL_CLASSES}
    for c, p in rows:
        t = time.perf_counter()
        extract_document(p)
        ms[c].append((time.perf_counter() - t) * 1000.0)
    return {
        f"extraction_core.kernel_ms.{c}": (statistics.fmean(v) if v else 0.0)
        for c, v in ms.items()
    }


# -- extraction correctness -------------------------------------------------------

def check_extract(spark, table_dir: str, expected, reference=None) -> tuple[int, int]:
    """Compare a committed snapshot with its input: (urls checked, urls failed).

    A url fails if it is missing, duplicated or not in the input, if its
    text differs from a non-empty golden ``text``, or, given a
    ``reference`` snapshot (url, ref_text, ref_pid), if its text or
    partition differs from that one-shot run's.
    """
    from ocr_endpoint_project_spark.sources.icetable import IceTable

    out = (
        IceTable.load(table_dir).scan(spark)
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("extracted_text").alias("got"),
            F.first("partition_id").alias("pid"),
        )
    )
    joined = expected.select("url", F.col("text").alias("golden")).join(out, "url", "full_outer")
    bad = (
        F.col("n").isNull()
        | (F.col("n") != 1)
        | F.col("golden").isNull()
        | ((F.col("golden") != "") & ~F.col("got").eqNullSafe(F.col("golden")))
    )
    if reference is not None:
        joined = joined.join(reference, "url", "left")
        bad = bad | ~F.col("got").eqNullSafe(F.col("ref_text")) | ~F.col("pid").eqNullSafe(
            F.col("ref_pid")
        )
    row = joined.agg(
        F.count(F.lit(1)).alias("n"), F.sum(bad.cast("int")).alias("bad")
    ).collect()[0]
    return int(row["n"]), int(row["bad"] or 0)


def class_figures(spark, table_dir: str, classes: dict[str, str]) -> dict[str, float]:
    """Docs and summed kernel ``elapsed_ms`` per kernel class, from the
    committed output (replica urls ``u#k`` take the class of ``u``)."""
    from ocr_endpoint_project_spark.sources.icetable import IceTable

    docs = {c: 0 for c in KERNEL_CLASSES}
    ms = {c: 0.0 for c in KERNEL_CLASSES}
    for r in IceTable.load(table_dir).scan(spark).select("url", "elapsed_ms").collect():
        c = classes.get(r["url"].rsplit("#", 1)[0])
        if c is not None:
            docs[c] += 1
            ms[c] += r["elapsed_ms"] or 0.0
    out = {f"extraction_core.docs.{c}": float(n) for c, n in docs.items()}
    out.update({f"extraction_core.elapsed_ms_sum.{c}": v for c, v in ms.items()})
    return out


def ice_layers(tracer, run_id: str, table_dir: str) -> dict[str, float]:
    """Span layers of one extraction job; they sum to the job span, with
    ``pipeline.lineage.other_s`` the residual (lineage aggregate, mirror
    write, result counts)."""
    from ocr_endpoint_project_spark.sources.icetable import IceTable

    job = tracer.total(run_id, "job")
    done = tracer.total(run_id, "lineage.done_partitions")
    stage = tracer.total(run_id, "icetable.stage")
    write = tracer.total(run_id, "write_job", under="icetable.stage")
    commit = tracer.total(run_id, "icetable.commit")
    files = sum(s["summary"].get("files", 0) for s in IceTable.load(table_dir).snapshots())
    other = job - done - stage - commit
    return {
        "trace.job_s": job,
        "trace.residual_s": other,
        "pipeline.lineage.done_partitions_s": done,
        "sources.icetable.stage_s": stage,
        "sources.icetable.write_job_s": write,
        "sources.icetable.stage_driver_s": stage - write,
        "sources.icetable.commit_s": commit,
        "sources.icetable.files": float(files),
        "pipeline.lineage.other_s": other,
    }


# -- workloads -------------------------------------------------------------------

def extract_mixed_resume(inv, tracer, seed: int, seconds: float, size: str, trace: bool) -> Outcome:
    from ocr_endpoint_project_spark.pipeline.extract import salted_pages
    from ocr_endpoint_project_spark.pipeline.lineage import run_with_lineage_ice
    from ocr_endpoint_project_spark.sources.corpus import generate_corpus
    from ocr_endpoint_project_spark.sources.icetable import IceTable

    sz = SIZES[size]
    parts = sz["partitions"]
    t0 = time.perf_counter()
    spark = inv.start_spark("perfbench-extract_mixed_resume", event_log=trace)
    tracer.spark = spark
    rows = generate_corpus(sz["docs"], seed=seed, richness=CORPUS_RICHNESS)
    classes = {r.url: kernel_class(r) for r in rows}
    cache = inv.path("cache")
    base_path = cached_pages(cache, rows, seed)
    del rows
    full_path = publish_parquet(
        replicate(spark.read.parquet(base_path), sz["replicas"]),
        os.path.join(cache, f"full_x{sz['replicas']}_s{seed}.parquet"),
    )
    full = spark.read.parquet(full_path)
    # the crash: run 1 sees only the pages of the lower half of the
    # logical partitions, tagged by the program's own salting function
    half_path = publish_parquet(
        salted_pages(full, parts).filter(F.col("partition_id") < parts // 2).drop("partition_id"),
        os.path.join(cache, f"half_x{sz['replicas']}_s{seed}.parquet"),
    )
    half = spark.read.parquet(half_path)
    # warm-up and reference: the same input in one uninterrupted run
    once = run_with_lineage_ice(spark, full, inv.path("tables", "oneshot"),
                                run_id="oneshot", num_partitions=parts)
    setup_s = time.perf_counter() - t0
    reference = IceTable.load(once["table_dir"]).scan(spark).select(
        "url", F.col("extracted_text").alias("ref_text"), F.col("partition_id").alias("ref_pid")
    )
    docs, payload = input_size(full)
    attempted = failed = 0

    def job(k: int, traced: bool) -> Job:
        nonlocal attempted, failed
        run_id = f"cycle{k}"
        out_dir = inv.path("tables", run_id)
        tracer.enabled = traced
        t = time.perf_counter()
        with tracer.span("job", run_id=run_id):
            run_with_lineage_ice(spark, half, out_dir, run_id=f"{run_id}-crash", num_partitions=parts)
            t_resume = time.perf_counter()
            res = run_with_lineage_ice(spark, full, out_dir, run_id=f"{run_id}-resume",
                                       num_partitions=parts)
        t_end = time.perf_counter()
        tracer.enabled = False
        a, f = check_extract(spark, res["table_dir"], full, reference)
        # the resume must have skipped exactly the committed half
        f += int(res["resumed_partitions_skipped"] != parts // 2 or res["partitions_total"] != parts)
        attempted += a + 1
        failed += f
        j = Job(t_end - t, docs, payload, traced, run_id, resume_s=t_end - t_resume)
        if traced:
            j.layers = ice_layers(tracer, run_id, res["table_dir"])
            j.layers.update(class_figures(spark, res["table_dir"], classes))
            j.layers["pipeline.lineage.resumed_partitions"] = float(res["resumed_partitions_skipped"])
            j.layers["pipeline.lineage.resume_run_s"] = t_end - t_resume
        return j

    # the first cycle after the one-shot warm-up still runs ~10% slow, so a
    # run always measures two
    jobs = run_loop(seconds, trace, 2, job)
    out = Outcome(setup_s, jobs, attempted, failed)
    out.notes["resume_s"] = statistics.median(j.resume_s for j in out.untraced())
    if trace:
        out.static_layers = kernel_sample(seed, sz["kernel_sample"])
        out.event_layers = lambda log, run_id: log.extract_layers(run_id)
    return out


# -- dedup chain ---------------------------------------------------------------

def _oracle_rows(data_dir: str, name: str, sql: str, cache_dir: str) -> dict:
    """Normalized DuckDB oracle output for one query, cached by the SQL and
    the input files' bytes (the data and the oracle are fixed, so the
    cache can only hit with an identical answer)."""
    import duckdb

    from tools.check_oracles import norm_rows

    h = hashlib.sha256(sql.encode())
    for t in DEDUP_TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    path = os.path.join(cache_dir, f"{name}-{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        for t in DEDUP_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        rel = con.sql(sql)
        cols = rel.columns
        result = {"cols": sorted(cols), "rows": [list(r) for r in norm_rows(cols, rel.fetchall())]}
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(result, f)
    os.replace(tmp, path)
    return result


def dedup_queries(inv, tracer, seed: int, seconds: float, size: str, trace: bool) -> Outcome:
    import pyarrow.parquet as pq

    from ocr_endpoint_project_spark.operators import all_oracles, all_queries, cluster
    from tools.check_oracles import norm_rows

    sz = SIZES[size]
    data_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", sz["sf"])
    queries, oracles = all_queries(), all_oracles()
    docs_table = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
    docs = docs_table.num_rows
    payload = sum(len(t.encode()) for t in docs_table.column("text").to_pylist() if t)
    attempted = failed = 0
    oracle_cache = os.path.join(inv.checkout, ".perfbench_cache", "oracle")
    expected = {q: _oracle_rows(data_dir, q, oracles[q], oracle_cache) for q in DEDUP_QUERIES}

    t0 = time.perf_counter()
    spark = inv.start_spark("perfbench-dedup_queries", event_log=trace)
    tracer.spark = spark
    # warm-up pass = correctness pass: each query's rows against its oracle
    os.environ["SPARK_GRAFT_MATERIALIZE_DIR"] = inv.path("pins", "check")
    got: dict[str, tuple | None] = {}
    for q in DEDUP_QUERIES:
        try:
            df = queries[q](spark, data_dir)
            got[q] = (df.columns, df.collect())
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            inv.log(f"{q} failed: {type(e).__name__}: {e}")
            got[q] = None
    setup_s = time.perf_counter() - t0
    for q, res in got.items():
        attempted += 1
        if res is None or sorted(res[0]) != expected[q]["cols"] or [
            list(r) for r in norm_rows(*res)
        ] != expected[q]["rows"]:
            failed += 1
    del got

    def job(k: int, traced: bool) -> Job:
        nonlocal attempted, failed
        run_id = f"pass{k}"
        pins = inv.path("pins", run_id)
        os.environ["SPARK_GRAFT_MATERIALIZE_DIR"] = pins
        tracer.enabled = traced
        cc: dict = {}
        t = time.perf_counter()
        with tracer.span("job", run_id=run_id):
            for q in DEDUP_QUERIES:
                if traced and q == "dedup_cluster_keeper":
                    cluster.LAST_CC_STATS = cc
                attempted += 1
                try:
                    with tracer.span(f"query.{q}"):
                        queries[q](spark, data_dir).write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                    inv.log(f"{q} failed: {type(e).__name__}: {e}")
                    failed += 1
                finally:
                    cluster.LAST_CC_STATS = None
        dt = time.perf_counter() - t
        tracer.enabled = False
        j = Job(dt, docs, payload, traced, run_id)
        if traced:
            j.layers = {f"operators.{q}.s": tracer.total(run_id, f"query.{q}") for q in DEDUP_QUERIES}
            j.layers["trace.job_s"] = tracer.total(run_id, "job")
            j.layers["trace.residual_s"] = j.layers["trace.job_s"] - sum(
                j.layers[f"operators.{q}.s"] for q in DEDUP_QUERIES
            )
            j.layers["operators.dedup.pin_bytes"] = float(sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(pins) for f in files
            ))
            j.layers["operators.cluster.cc_pairs"] = float(cc.get("cc_pairs", 0))
            j.layers["operators.cluster.cc_rounds"] = float(cc.get("cc_rounds", 0))
        return j

    jobs = run_loop(seconds, trace, 1, job)
    out = Outcome(setup_s, jobs, attempted, failed)
    out.notes["seed"] = "not used: the dedup chain reads fixed tables"
    if trace:
        def per_query(log, run_id):
            fig = {}
            for q in DEDUP_QUERIES:
                st = log.stages_of(run_id, within=f"query.{q}")
                fig[f"operators.{q}.shuffle_bytes"] = log.acc(st, "shuffle bytes written")
                fig[f"operators.{q}.stages"] = float(len(st))
            return fig
        out.event_layers = per_query
    return out


WORKLOADS = {
    "extract_mixed_resume": extract_mixed_resume,
    "dedup_queries": dedup_queries,
}
