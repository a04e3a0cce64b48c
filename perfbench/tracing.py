"""Spans around calls into the program's layers, and Spark event-log parsing.

Spans are recorded from the benchmark's own files: ``Tracer.install``
wraps ``IceTable.stage_overwrite``, ``IceTable.commit_overwrite``,
``lineage.ice_done_partitions`` and ``DataFrameWriter.parquet`` (the
Spark write job inside a stage), and the workloads open spans around each
job and each registry query call. Each span records (name, start, end,
parent, run id) in memory; ``Tracer.dump`` writes them out at exit.

While a span is open, the Spark local property ``perfbench.span`` carries
``<run id>|<span path>``, the names of the open spans joined by ``/``.
Every job and stage started under it records that property in the event
log, which is how ``EventLog`` attributes stage metrics (Python-worker
time and bytes, shuffle bytes, scan time, executor run time, GC) to a
run and a layer.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Spans of the current process; ``spark`` (set once the session is up)
    receives the span path as a job property."""

    def __init__(self):
        self.spark = None
        self.spans: list[dict] = []
        self.enabled = False
        self.run_id: str | None = None
        self._stack: list[int] = []

    def _set_property(self, value: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)

    @contextmanager
    def span(self, name: str, run_id: str | None = None):
        """Record a span; a no-op while tracing is disabled. ``run_id``
        starts a new run (a top-level span); nested spans inherit it."""
        if not self.enabled:
            yield
            return
        if run_id is not None:
            self.run_id = run_id
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "run_id": self.run_id, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._set_property(self._path())
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_property(self._path())

    def _path(self) -> str | None:
        if not self._stack:
            return None
        return f"{self.run_id}|" + "/".join(self.spans[i]["name"] for i in self._stack)

    def _wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the layer entry points (see module docstring)."""
        from pyspark.sql.readwriter import DataFrameWriter

        from ocr_endpoint_project_spark.pipeline import lineage
        from ocr_endpoint_project_spark.sources.icetable import IceTable

        self._wrap(IceTable, "stage_overwrite", "icetable.stage")
        self._wrap(IceTable, "commit_overwrite", "icetable.commit")
        self._wrap(lineage, "ice_done_partitions", "lineage.done_partitions")
        self._wrap(DataFrameWriter, "parquet", "write_job")

    # -- queries over recorded spans -------------------------------------

    def run_spans(self, run_id: str) -> list[dict]:
        return [s for s in self.spans if s["run_id"] == run_id]

    def total(self, run_id: str, name: str, under: str | None = None) -> float:
        """Summed duration of spans called ``name`` in ``run_id``;
        ``under`` keeps only those whose parent span has that name."""
        total = 0.0
        for s in self.run_spans(run_id):
            if s["name"] != name:
                continue
            if under is not None:
                p = s["parent"]
                if p is None or self.spans[p]["name"] != under:
                    continue
            total += s["end"] - s["start"]
        return total

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


# -- event log ---------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_START = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"


class EventLog:
    """Per-stage metrics from an uncompressed, non-rolling Spark JSON event
    log, keyed by the ``perfbench.span`` property of the stage's job."""

    def __init__(self, lines):
        self.jobs: list[str | None] = []   # span property per job started
        self.stages: dict[int, dict] = {}  # completed stage -> record
        span_of_stage: dict[int, str | None] = {}
        tasks: dict[int, list[int]] = {}
        gc_ms: dict[int, int] = {}
        for line in lines:
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs.append((ev.get("Properties") or {}).get(SPAN_PROPERTY))
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                span_of_stage[sid] = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                tasks.setdefault(sid, []).append(int(m.get("Executor Run Time", 0)))
                gc_ms[sid] = gc_ms.get(sid, 0) + int(m.get("JVM GC Time", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                acc: dict[str, float] = {}
                for a in info.get("Accumulables", []):
                    try:
                        v = float(a.get("Value"))
                    except (TypeError, ValueError):
                        continue
                    acc[a["Name"]] = acc.get(a["Name"], 0.0) + v
                self.stages[sid] = {"span": span_of_stage.get(sid), "acc": acc}
        for sid, rec in self.stages.items():
            rec["task_ms"] = tasks.get(sid, [])
            rec["gc_ms"] = gc_ms.get(sid, 0)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path, encoding="utf-8") as f:
            return cls(f)

    @staticmethod
    def _match(prop: str | None, run_id: str, tail: str | None, within: str | None) -> bool:
        if prop is None:
            return False
        rid, _, path = prop.partition("|")
        if rid != run_id:
            return False
        if tail is not None and path != tail and not path.endswith("/" + tail):
            return False
        return within is None or within in path.split("/")

    def stages_of(
        self, run_id: str, tail: str | None = None, within: str | None = None
    ) -> list[dict]:
        """Completed stages of ``run_id``. ``tail`` keeps stages whose span
        path ends with it (``a/b`` or ``b``): work done directly in that
        span. ``within`` keeps stages under a span of that name at any
        depth."""
        return [
            s for s in self.stages.values()
            if self._match(s["span"], run_id, tail, within)
        ]

    def job_count(self, run_id: str) -> int:
        return sum(1 for j in self.jobs if self._match(j, run_id, None, None))

    @staticmethod
    def acc(stages: list[dict], name: str) -> float:
        return sum(s["acc"].get(name, 0.0) for s in stages)

    def totals(self, run_id: str) -> dict[str, float]:
        """Run-wide counts: jobs, stages, tasks, JVM GC seconds."""
        st = self.stages_of(run_id)
        return {
            "spark.jobs": self.job_count(run_id),
            "spark.stages": len(st),
            "spark.tasks": sum(len(s["task_ms"]) for s in st),
            "spark.jvm_gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
        }

    def extract_layers(self, run_id: str) -> dict[str, float]:
        """Kernel-query layers of an extraction run: input scan, the salted
        exchange, Python-worker start and run time, Arrow bytes to and from
        the workers, and task skew in the kernel stage."""
        writes = self.stages_of(run_id, "icetable.stage/write_job")
        kernel = [s for s in writes if _PY_RUN in s["acc"]]
        scans = [s for s in writes if "scan time" in s["acc"] and s not in kernel]
        skew = 0.0
        for s in kernel:
            t = s["task_ms"]
            if t and sum(t) > 0:
                skew = max(skew, max(t) / (sum(t) / len(t)))
        return {
            "sources.pages.scan_s": self.acc(scans, "scan time") / 1000.0,
            "pipeline.extract.exchange_bytes": self.acc(scans, "shuffle bytes written"),
            "functions.kernels.python_start_s": sum(self.acc(kernel, n) for n in _PY_START) / 1000.0,
            "functions.kernels.python_run_s": self.acc(kernel, _PY_RUN) / 1000.0,
            "functions.kernels.arrow_to_python_bytes": self.acc(kernel, _PY_SENT),
            "functions.kernels.arrow_from_python_bytes": self.acc(kernel, _PY_RETURNED),
            "pipeline.extract.task_skew": skew,
        }
