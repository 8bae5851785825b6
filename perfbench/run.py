#!/usr/bin/env python3
"""The repository benchmark: seeded workloads against the engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run it from the repository root.  ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` is the separate traced run that
records a span around every call the benchmark makes into an engine
layer and prints the per-layer metrics.  The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the lines before it are a readable summary.  What each
metric means on each workload is in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from tracing import NullTracer, Tracer  # noqa: E402

WORKLOADS = ("serve", "batch_retrieve")


def _environment(work: Path) -> None:
    """Everything the engine and Spark write goes under ``work``; Spark's
    Python workers import the engine from the checkout root."""
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # a 10k-doc index needs well under 1 GiB of heap; the engine's 8g
    # default would claim memory the machine shares with other jobs
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import legal_text_retrieval_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    load_1m = os.getloadavg()[0]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _environment(work)
    ctx = workloads.Bench(
        seed=args.seed,
        seconds=args.seconds,
        tracer=Tracer() if args.trace else NullTracer(),
        work=work,
    )
    try:
        e2e, layer = getattr(workloads, args.workload)(ctx)
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there

    layer["env.loadavg_1m_start"] = (load_1m, "load")
    if args.trace:
        traces = ROOT / ".perfbench_traces"
        traces.mkdir(exist_ok=True)
        ctx.tracer.write(traces / f"{args.workload}-{args.seed}.json")
    metrics = layer if args.trace else e2e

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cores={ctx.nproc} loadavg_1m_at_start={load_1m:.2f}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:<40} {value:>16.6g} {unit}")
    print(f"  {'error_rate':<40} {ctx.failed / ctx.attempted:>16.6g} "
          f"failed/attempted ({ctx.failed}/{ctx.attempted})")
    for note in ctx.notes:
        print(f"  check failed: {note}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
