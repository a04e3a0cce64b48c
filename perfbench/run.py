"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract_mixed_resume --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end ones (from untraced jobs),
with ``--trace 1`` the per-layer ones (spans plus the Spark event log).
The lines before it print the same figures as ``name value unit``,
including ``failed_frac``. See ``perfbench/README.md``.

Exit codes: 0 success; 1 a workload raised; 2 bad arguments or no
program in this checkout; 3 a process the run started survived
teardown; 124 the invocation deadline passed; 143 SIGTERM.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import traceback

from workloads import DEDUP_QUERIES, KERNEL_CLASSES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
# the whole invocation, teardown included, ends within this many seconds
DEADLINE_S = 150

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "docs_per_s": "1/s",
    "payload_mb_per_s": "MB/s",
}

PER_LAYER = {
    **{f"extraction_core.kernel_ms.{c}": "ms" for c in KERNEL_CLASSES},
    **{f"extraction_core.docs.{c}": "count" for c in KERNEL_CLASSES},
    **{f"extraction_core.elapsed_ms_sum.{c}": "ms" for c in KERNEL_CLASSES},
    "functions.kernels.python_run_s": "s",
    "functions.kernels.python_start_s": "s",
    "functions.kernels.arrow_to_python_bytes": "bytes",
    "functions.kernels.arrow_from_python_bytes": "bytes",
    "pipeline.extract.task_skew": "ratio",
    "pipeline.extract.exchange_bytes": "bytes",
    "sources.pages.scan_s": "s",
    "sources.icetable.stage_s": "s",
    "sources.icetable.write_job_s": "s",
    "sources.icetable.stage_driver_s": "s",
    "sources.icetable.files": "count",
    "sources.icetable.commit_s": "s",
    "pipeline.lineage.done_partitions_s": "s",
    "pipeline.lineage.resumed_partitions": "count",
    "pipeline.lineage.resume_run_s": "s",
    "pipeline.lineage.other_s": "s",
    **{f"operators.{q}.s": "s" for q in DEDUP_QUERIES},
    **{f"operators.{q}.shuffle_bytes": "bytes" for q in DEDUP_QUERIES},
    **{f"operators.{q}.stages": "count" for q in DEDUP_QUERIES},
    "operators.dedup.pin_bytes": "bytes",
    "operators.cluster.cc_pairs": "count",
    "operators.cluster.cc_rounds": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.jvm_gc_s": "s",
    "trace.job_s": "s",
    "trace.residual_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: a seconds-long smoke run for the benchmark's tests")
    return p.parse_args(argv)


def end_to_end(outcome) -> dict[str, float]:
    jobs = outcome.untraced()
    return {
        "setup_s": outcome.setup_s,
        "job_s": statistics.median(j.job_s for j in jobs),
        "docs_per_s": statistics.median(j.docs / j.job_s for j in jobs),
        "payload_mb_per_s": statistics.median(j.payload_bytes / 1e6 / j.job_s for j in jobs),
    }


def report(outcome, values: dict[str, float], units: dict[str, str]) -> None:
    """Print ``name value unit`` lines, then the result JSON line."""
    failed_frac = outcome.failed / outcome.attempted
    for name, unit in units.items():
        print(f"# {name} {values[name]:.6g} {unit}")
    for name, value in outcome.notes.items():
        print(f"# {name} {value:.6g} s" if isinstance(value, float) else f"# {name}: {value}")
    print(f"# failed_frac {failed_frac:.6g} ratio "
          f"({outcome.failed} of {outcome.attempted} operations)")
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(CHECKOUT, "ocr_endpoint_project_spark")):
        print("perfbench: no ocr_endpoint_project_spark package in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)

    from harness import Deadline, Invocation, Terminated
    from tracing import EventLog, Tracer

    inv = Invocation(CHECKOUT, DEADLINE_S)
    code = 0
    try:
        with inv:
            tracer = Tracer()
            if args.trace:
                tracer.install()
            outcome = WORKLOADS[args.workload](
                inv, tracer, args.seed, args.seconds, args.size, bool(args.trace)
            )
            inv.teardown()
            if args.trace:
                traces = os.path.join(CHECKOUT, ".perfbench_work", "traces")
                os.makedirs(traces, exist_ok=True)
                tracer.dump(os.path.join(
                    traces, f"{args.workload}-s{args.seed}-{os.getpid()}.json"))
                values = {n: 0.0 for n in PER_LAYER}
                values.update(outcome.layers(EventLog.read(inv.event_log_path())))
    except Exception as e:  # noqa: BLE001 — report, then fail the invocation
        if inv.interrupted is None:
            traceback.print_exc()
        else:
            inv.log(f"stopped: {inv.interrupted} ({type(e).__name__})")
        code = {Terminated: 143, Deadline: 124}.get(type(inv.interrupted), 1)
    left = inv.survivors()
    if left:
        inv.log("processes survived teardown:\n  " + "\n  ".join(left))
        return 3
    if inv.killed:
        inv.log("killed at teardown: " + "; ".join(inv.killed))
    if code:
        return code
    if args.trace:
        report(outcome, values, PER_LAYER)
    else:
        report(outcome, end_to_end(outcome), END_TO_END)
    return 0


if __name__ == "__main__":
    sys.exit(main())
