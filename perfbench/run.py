"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Runs one workload (see workloads.py) against the engine in this checkout
on Spark ``local[nproc]`` and prints, as the last line of stdout, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, measured without the
status-store read; with ``--trace 1`` they are the per-layer ones from
the traced run, whose spans are also written to
``.perfbench/traces/<workload>-<seed>.json``. Everything the run writes
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # each workload runs a fixed amount of work (see workloads.py); the
    # run length is accepted as the benchmark's calling convention
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("vectordbindexing_spark") is None:
        print("perfbench: the engine package vectordbindexing_spark is not "
              "in this checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run, layer_metrics

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers inherit the driver's environment through the JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    run = Run(args.seed, bool(args.trace), work, T_START,
              cpus=len(os.sched_getaffinity(0)))
    try:
        metrics, layers = WORKLOADS[args.workload](run)
        if args.trace:
            metrics = layer_metrics(run, layers)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            run.tr.dump(os.path.join(
                base, "traces", f"{args.workload}-{args.seed}.json"))
            _print_spans(run.tr)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _print_spans(tr) -> None:
    """Per span name: calls, wall, self time, jobs, job time, gap."""
    agg: dict[str, list[float]] = {}
    for s in tr.spans():
        a = agg.setdefault(s.name, [0, 0.0, 0.0, 0, 0.0, 0.0])
        a[0] += 1
        a[1] += s.dur
        a[2] += s.self_s
        a[3] += s.stats.get("jobs", 0)
        a[4] += s.stats.get("job_s", 0.0)
        a[5] += s.stats.get("gap_s", 0.0)
    print(f"# {'span':36s} {'calls':>5s} {'wall_s':>8s} {'self_s':>8s} "
          f"{'jobs':>5s} {'job_s':>8s} {'gap_s':>8s}", file=sys.stderr)
    for name, (c, w, se, j, js, g) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        print(f"# {name:36s} {c:5d} {w:8.3f} {se:8.3f} {j:5d} {js:8.3f} {g:8.3f}",
              file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
