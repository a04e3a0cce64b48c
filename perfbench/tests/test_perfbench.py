"""Tests of the benchmark itself: metric emission, teardown, event-log parsing.

Run from the checkout root:

    python -m pytest perfbench/tests -q

The smoke and teardown tests start Spark in subprocesses (tiny inputs,
about 20-40 s each); the parser and catalogue tests need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
CHECKOUT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import EventLog, Tracer  # noqa: E402

WORKLOADS = ("extract_mixed_resume", "dedup_queries")


def leftovers() -> list[str]:
    """Live processes, other than this one, that carry any invocation's
    marker variable — checked the moment a subprocess returns."""
    me = os.getpid()
    out = []
    for pid in harness._pids():
        st = harness._stat(pid)
        if pid == me or st is None or st[1] == "Z":
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue
        if f"{harness.MARKER}=".encode() in env:
            out.append(f"{pid} {harness._cmdline(pid)[:100]}")
    return out


def bench(*args, timeout=170) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=timeout,
    )


def test_catalogue_matches_benchmark_json():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric(workload, trace):
    proc = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--size", "tiny")
    assert leftovers() == []
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name
    if trace:
        # the span layers account for the traced job, residual included
        v = {n: m["value"] for n, m in result["metrics"].items()}
        assert v["trace.job_s"] > 0 and v["spark.jobs"] > 0
        if workload == "dedup_queries":
            layers = [v[f"operators.{q}.s"] for q in workloads.DEDUP_QUERIES]
            layers.append(v["trace.residual_s"])
        else:
            layers = [v["pipeline.lineage.done_partitions_s"], v["sources.icetable.stage_s"],
                      v["sources.icetable.commit_s"], v["pipeline.lineage.other_s"]]
        assert sum(layers) == pytest.approx(v["trace.job_s"])
        assert min(layers[:-1]) > 0
    assert "# failed_frac 0 ratio" in proc.stdout


_FAILING_WORKLOAD = textwrap.dedent("""
    import os, sys, time
    sys.path.insert(0, {bench!r})
    import run, workloads

    def failing(inv, tracer, seed, seconds, size, trace):
        spark = inv.start_spark("perfbench-teardown-test")
        # start the daemon and its workers before failing
        spark.range(0, 64, 1, 4).mapInPandas(lambda it: it, "id long").collect()
        print("READY", flush=True)
        if os.environ.get("FAIL_MODE") == "raise":
            raise RuntimeError("forced workload failure")
        time.sleep(120)

    workloads.WORKLOADS["failing"] = failing
    sys.exit(run.main(["--workload", "failing", "--seed", "0", "--seconds", "1"]))
""")


def _failing(mode: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _FAILING_WORKLOAD.format(bench=BENCH)],
        cwd=CHECKOUT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env={**os.environ, "FAIL_MODE": mode},
    )


def test_no_survivors_after_workload_exception():
    proc = _failing("raise")
    out, err = proc.communicate(timeout=170)
    assert leftovers() == [], err[-2000:]
    assert "READY" in out
    assert proc.returncode == 1
    assert "forced workload failure" in err
    assert not out.strip().splitlines()[-1].startswith("{")


def test_no_survivors_after_sigterm():
    proc = _failing("sleep")
    assert proc.stdout.readline().strip() == "READY"
    proc.send_signal(signal.SIGTERM)
    out, err = proc.communicate(timeout=170)
    assert leftovers() == [], err[-2000:]
    assert proc.returncode == 143
    assert "{" not in out


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "data"))
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_mixed_resume",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- event log parser ----------------------------------------------------------

def test_event_log_parser_on_recorded_log():
    """``eventlog_small.jsonl`` is the event log of a tiny traced
    ``extract_mixed_resume`` run, trimmed to the fields the parser reads:
    the traced cycle ``cycle1`` plus two stages of untraced jobs."""
    log = EventLog.read(os.path.join(HERE, "data", "eventlog_small.jsonl"))
    assert len(log.stages) == 28
    assert log.totals("cycle1") == {
        "spark.jobs": 26, "spark.stages": 26, "spark.tasks": 60, "spark.jvm_gc_s": 0.084,
    }
    layers = log.extract_layers("cycle1")
    assert layers["functions.kernels.python_run_s"] == pytest.approx(2.766)
    assert layers["functions.kernels.python_start_s"] == pytest.approx(23.76)
    assert layers["functions.kernels.arrow_to_python_bytes"] == 1489656
    assert layers["functions.kernels.arrow_from_python_bytes"] == 1039168
    assert layers["pipeline.extract.exchange_bytes"] == 1002345
    assert layers["sources.pages.scan_s"] == pytest.approx(0.088)
    assert layers["pipeline.extract.task_skew"] == pytest.approx(1.2351, abs=1e-4)
    # two kernel stages (crash run, resume run), each under the sink's write job
    kernel = [s for s in log.stages_of("cycle1", "icetable.stage/write_job")
              if "time to run Python workers" in s["acc"]]
    assert len(kernel) == 2
    assert log.totals("cycle0")["spark.stages"] == 0


def test_tracer_spans_nest_and_sum():
    tracer = Tracer()
    tracer.enabled = True
    with tracer.span("job", run_id="r1"):
        with tracer.span("icetable.stage"):
            with tracer.span("write_job"):
                pass
        with tracer.span("write_job"):
            pass
    with tracer.span("job", run_id="r2"):
        pass
    job = tracer.total("r1", "job")
    nested = tracer.total("r1", "write_job", under="icetable.stage")
    assert 0 < nested < tracer.total("r1", "write_job")
    assert nested <= tracer.total("r1", "icetable.stage") <= job
    assert [s["parent"] for s in tracer.spans] == [None, 0, 1, 0, None]
    assert [s["run_id"] for s in tracer.spans] == ["r1"] * 4 + ["r2"]
    tracer.enabled = False
    with tracer.span("ignored"):
        pass
    assert len(tracer.spans) == 5
