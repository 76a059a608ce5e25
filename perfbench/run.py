"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  Generates the workload's input
from ``--seed``, measures for at least ``--seconds`` (whole units of
work: a catch-up, a replay, a sweep), checks the outputs, and prints as
its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, and the full traced
artifact is written under ``.perfbench/artifacts/``.

Everything the run writes (inputs, Spark scratch, checkpoints, event
logs, artifacts) stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "transitdata_hfp_deduplicator_spark"
WORKLOADS = ("app_catchup", "pipeline_tagged", "registry_batch")


@dataclass
class Context:
    seed: int
    seconds: int
    trace: bool
    root: str
    work: str
    env: dict


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env(base: str) -> dict:
    """Pin the run environment, for this process and for the app.

    ``PYTHONPATH`` must name the checkout: Spark's Python data-source
    workers import the package in a fresh interpreter and fail with
    ``ModuleNotFoundError`` without it.  ``SPARK_GRAFT_CPUS`` and
    ``SPARK_DRIVER_MEM`` come from BENCHMARK.json's command; the
    defaults here are for running this file by hand."""
    tmp = os.path.join(base, "tmp")
    local = os.path.join(base, "spark-local")
    warehouse = os.path.join(base, "warehouse")
    for d in (tmp, local, warehouse):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ.update(
        {
            "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_WAREHOUSE": warehouse,
            "TMPDIR": tmp,
        }
    )
    return dict(os.environ)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an exception, so the app subprocess and its
    # process group are killed and waited for on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a "
              "source checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Context(args.seed, args.seconds, bool(args.trace), ROOT, work,
                  prepare_env(base))

    result = importlib.import_module(args.workload).run(ctx)

    s = spec()
    names = [m["name"] for m in (s["per_layer"] if ctx.trace else s["end_to_end"])]
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    # every end-to-end metric is measured on every workload; a layer the
    # workload does not touch reports 0
    source = result["layers"] if ctx.trace else result["metrics"]
    metrics = {
        n: {"value": float(source.get(n, 0.0) if ctx.trace else source[n]), "unit": units[n]}
        for n in names
    }

    artifacts = os.path.join(base, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    stem = os.path.join(artifacts, f"{args.workload}-seed{args.seed}")
    record = {k: result[k] for k in ("metrics", "report", "attempted", "failed", "correct")}
    if ctx.trace:
        record["layers"] = result["layers"]
        record["spans"] = result.get("spans", [])
        try:
            with open(stem + "-untraced.json") as f:
                untraced = json.load(f)["metrics"]
            record["tracing_overhead"] = {
                k: result["metrics"][k] - v for k, v in untraced.items() if k in result["metrics"]
            }
        except (OSError, KeyError, json.JSONDecodeError):
            record["tracing_overhead"] = None  # no untraced run of this seed yet
    with open(stem + ("-traced.json" if ctx.trace else "-untraced.json"), "w") as f:
        json.dump(record, f, indent=1, default=float)

    for name, value in sorted(result["metrics"].items()):
        print(f"{args.workload} {name} = {value:.6g} {units.get(name, '')}")
    for name, value in sorted(result["report"].items()):
        print(f"{args.workload} {name} = {value}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
