"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: gpq_ingest, gpq_extract,
headline_sf001 (see BENCHMARK.json and perfbench/NOTES.md). The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A JSON record with every
sample, the session stamp (cpus, seed, input sizes) and host-contention
annotations goes to stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

WORKLOADS = {"gpq_ingest": "ingest", "gpq_extract": "extract", "headline_sf001": "headline"}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _units(entries) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in entries}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import gpq_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2

    import importlib

    from harness import RssSampler, Run, jvm_memory_mb, median, stop_session, summary

    spec = _spec()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    rss = RssSampler().start()
    r = Run(args, ROOT, T_PROCESS)
    workload = importlib.import_module(WORKLOADS[args.workload])
    try:
        values = workload.run(r)
        annotations = r.host.stop() if r.host else {}
        annotations["loop_done_s"] = time.perf_counter() - T_PROCESS
        jvm_mb = jvm_memory_mb(r.spark)
    finally:
        if r.spark is not None:
            stop_session(r.spark)
        peaks = rss.stop()
        r.work.remove()
    annotations["stopped_s"] = time.perf_counter() - T_PROCESS

    values["setup_s"] = r.setup_s
    # What the program holds: the driver process, the JVM's retained heap
    # and non-heap pools, and the largest Python worker. The JVM's RSS
    # follows its heap reservation and the collector, and the summed
    # workers mostly count concurrent tasks, so neither is summed in.
    peaks.update(jvm_mb)
    values["peak_mem_mb"] = (peaks["driver"] + jvm_mb["jvm_retained_heap"]
                             + jvm_mb["jvm_non_heap"] + peaks["worker_max"])
    if args.trace:
        r.tracer.add("trace.pass_s", values["pass_s"])
        r.tracer.add("functions.worker_rss_mb", peaks["worker_max"])
        units = _units(spec["per_layer"])
        metrics = {
            name: {"value": median(r.tracer.samples[name]) if name in r.tracer.samples else 0.0,
                   "unit": unit}
            for name, unit in units.items()
        }
    else:
        units = _units(spec["end_to_end"])
        metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}

    record = {
        "perfbench": args.workload,
        "trace": args.trace,
        "stamp": r.notes,
        "session_s": r.session_s,
        "workload_setup_s": r.setup_s,
        "calls": {k: {"summary": summary(v), "samples": v} for k, v in r.calls.items()},
        "passes": r.passes,
        "host": annotations,
        "mem_mb": peaks,
        "failures": r.failures,
    }
    if args.trace:
        record["layers"] = {k: summary(v) for k, v in sorted(r.tracer.samples.items())}
    print(json.dumps(record), file=sys.stderr)
    print(json.dumps({
        "correct": r.failed == 0 and r.attempted > 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
