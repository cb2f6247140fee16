"""Layered benchmark of the engine: ``olap``, ``llm_pipeline`` and
``lake_ddl`` workloads.  See README.md in this directory.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --self-check

Prints a ``{"report": ...}`` line with every metric the run measured, then,
as the last line, ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its per-layer
metrics (``--trace 1``).  The run record (passes, host weather, one layer
record per key per pass, and the spans of a traced run) is written under
``.perfbench_work/records/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from common import ROOT, SCALES, WORK  # noqa: E402
from spans import Tracer  # noqa: E402
from weather import Weather  # noqa: E402

WORKLOADS = ("olap", "llm_pipeline", "lake_ddl")
PACKAGE = "parquet_to_clickhouse_schema_spark"


def declared() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def run_workload(opts) -> dict:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"{PACKAGE}/ not found beside perfbench/: nothing to measure")
    sys.path.insert(0, ROOT)
    tracer, weather = Tracer(), Weather()
    if opts.workload == "lake_ddl":
        import parquet_to_clickhouse_schema_spark.cli  # noqa: F401 - the timed import

        first_import_s = time.perf_counter() - T0
        from lakeddl import LakeRun, generate

        run = LakeRun(opts, tracer, weather, generate(opts))
        result = run.run(first_import_s)
    else:
        from checks import OutputChecker
        from sparkload import LLM_KEYS, OLAP_KEYS, SparkRun

        keys = OLAP_KEYS if opts.workload == "olap" else LLM_KEYS
        run = SparkRun(opts.workload, keys, opts, tracer, weather, T0)
        try:
            checker = OutputChecker(opts.scale["sf"])
            result = run.run(checker)
            checker.close()
        finally:
            run.close()
    result["metrics"]["error_rate"] = run.failed / run.attempted
    result.update(attempted=run.attempted, failed=run.failed, errors=run.errors)
    if opts.trace:
        result["spans"] = tracer.spans
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true",
                    help="run every workload tiny and check the output contract")
    ap.add_argument("--scale", choices=sorted(SCALES), default="default",
                    help=argparse.SUPPRESS)
    ap.add_argument("--inject-failure", action="store_true", help=argparse.SUPPRESS)
    opts = ap.parse_args(argv)
    if opts.self_check:
        return self_check()
    if opts.workload is None:
        ap.error("--workload is required")
    opts.scale = SCALES[opts.scale]
    e2e, per_layer = declared()

    result = run_workload(opts)
    metrics = result["metrics"]
    units = {**e2e, **per_layer}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    record = os.path.join(
        WORK, "records", f"{opts.workload}-seed{opts.seed}-trace{opts.trace}.json")
    with open(record, "w", encoding="utf-8") as fh:
        json.dump({"workload": opts.workload, "seed": opts.seed,
                   "seconds": opts.seconds, "trace": opts.trace,
                   "scale": opts.scale, **result}, fh, indent=1, default=str)
    print(json.dumps({"report": {
        "workload": opts.workload, "seed": opts.seed, "trace": opts.trace,
        "attempted": result["attempted"], "failed": result["failed"],
        "errors": result["errors"][:10],
        "metrics": {k: {"value": v, "unit": units.get(k, "")}
                    for k, v in sorted(metrics.items())},
        "record": os.path.relpath(record, ROOT),
    }}))
    if opts.trace:
        # a layer this workload never enters did no work: it reports 0
        out = {k: {"value": metrics.get(k, 0), "unit": u} for k, u in per_layer.items()}
    else:
        missing = sorted(set(e2e) - set(metrics))
        if missing:
            raise SystemExit(f"end-to-end metrics not measured: {missing}")
        out = {k: {"value": metrics[k], "unit": u} for k, u in e2e.items()}
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": out}))
    return 0


def self_check() -> int:
    """Run every workload tiny (sf0.001, 1 s) and check that each prints
    every declared metric with its unit, that error_rate is 0 on a clean
    run, and that a deliberately failing operation shows up in it.  A clean
    ``llm_pipeline`` run also proves Spark's Python workers can import the
    package (``q_udf_pandas`` and ``q_ivf_topk`` need it)."""
    e2e, per_layer = declared()
    cases = [("lake_ddl", 0, False), ("lake_ddl", 1, False), ("lake_ddl", 0, True),
             ("olap", 0, False), ("olap", 1, True),
             ("llm_pipeline", 0, False), ("llm_pipeline", 1, False)]
    problems = []
    for workload, trace, inject in cases:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
               "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
        if inject:
            cmd.append("--inject-failure")
        name = f"{workload} trace={trace}{' injected' if inject else ''}"
        t = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            problems.append(f"{name}: exit {proc.returncode}: {proc.stderr[-2000:]}")
            continue
        last, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
        want = per_layer if trace else e2e
        got = {k: m["unit"] for k, m in last["metrics"].items()}
        if got != want:
            problems.append(f"{name}: metrics/units {got} != declared {want}")
        rate = report["metrics"].get("error_rate", {})
        if rate.get("unit") != "ratio":
            problems.append(f"{name}: error_rate missing or without its unit")
        if inject and not (last["failed"] > 0 and rate.get("value", 0) > 0
                           and last["correct"] is False):
            problems.append(f"{name}: the injected failure did not show in error_rate")
        if not inject and (last["failed"] or rate.get("value") != 0 or not last["correct"]):
            problems.append(f"{name}: failures on a clean run: {report['errors']}")
        print(f"self-check: {name}: {time.perf_counter() - t:.1f} s, "
              f"attempted {last['attempted']}, failed {last['failed']}", flush=True)
    for p in problems:
        print(f"self-check FAILED: {p}", file=sys.stderr)
    print("self-check: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
