"""Benchmark entry point.

    python3 perfbench/run.py --workload <stream_drain|curation_batch>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds the seeded inputs, runs
the workload against the engine in ``movement_spark/``, checks every
result against DuckDB, and prints as its LAST stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Metric names and units come from ``BENCHMARK.json``.
Everything it writes lives under ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    return args


def _stop_children(timeout_s: float = 30.0) -> None:
    """Terminate every process this run started (the JVM and its Python
    workers) and wait until each has ended."""
    import probes

    pids = probes.descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        alive = []
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our direct children
            except ChildProcessError:
                pass
            try:
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                alive.append(pid)
        pids = alive
        time.sleep(0.05)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "movement_spark",
                                       "__init__.py")):
        print(f"no engine sources under {ROOT}/movement_spark",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_out",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every temp file of the engine, Spark and Python workers inside
    # the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    import probes
    import workloads
    from tracing import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    run = workloads.Run(workload=args.workload, seed=args.seed,
                        seconds=args.seconds, tracer=tracer, work=work,
                        nproc=len(os.sched_getaffinity(0)))
    try:
        with tracer.span("run", workload=args.workload):
            workloads.WORKLOADS[args.workload](run)
        with run.phase("stop"):
            run.stop_session()
        if args.trace:
            run.layers.update(probes.event_log_layers(
                os.path.join(work, "eventlog"), run.windows))
    finally:
        _stop_children()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        for name, span in (("session.start_s", "session.start"),
                           ("sources.stage_s", "sources.stage"),
                           ("sources.token_table_s", "sources.token_table")):
            d = tracer.durations(span)
            run.layers[name] = statistics.median(d) if d else 0.0
        run.layers.update({"host.nproc": run.nproc,
                           "host.calibration_s": run.calibration_s})
        tracer.write(os.path.join(
            ROOT, ".perfbench_out",
            f"trace-{args.workload}-{args.seed}.json"))

    section = "per_layer" if args.trace else "end_to_end"
    values = run.layers if args.trace else run.e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec[section]}
    context = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "host.nproc": run.nproc,
               "host.calibration_s": run.calibration_s,
               "phases_s": run.phases, "errors": run.errors[:10]}
    print(json.dumps(context, default=str))
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
