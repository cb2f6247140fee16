"""The ``lake_ddl`` workload: the footer-only Parquet -> ClickHouse DDL path
on a seeded hive-partitioned lake, timed through ``cli.main`` with no Spark
session.

Each pass runs three operations:

- ``ddl_cold``: strict DDL, no cache;
- ``ddl_incremental``: strict DDL with ``--drift-cache``, after one staged
  partition was appended (and the one appended before was taken out again,
  so the lake keeps its size over the run);
- ``ddl_unify``: ``--unify`` DDL on the drifted copy of the lake.

The first pass is the cold pass (it also creates the drift cache); the
warm passes run until ``--seconds`` have passed.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

from common import HERE, ROOT, WORK, warm_passes
from spans import children_of, duration, self_time, subtree
from weather import peak_rss_mb

OPS = ("ddl_cold", "ddl_incremental", "ddl_unify")
DDL_SPANS = {  # ddl function -> the metric its inclusive time goes to
    "schema_to_clickhouse": "ddl.schema_to_clickhouse_s",
    "schema_drift_report": "ddl.drift_scan_s",
    "incremental_drift_scan": "ddl.drift_scan_s",
    "infer_parquet_schema": "ddl.infer_s",
    "unified_parquet_schema": "ddl.infer_s",
    "struct_to_clickhouse_ddl": "ddl.emit_s",
}


# Fresh interpreters that sample the package import, besides this process:
# half before the passes and half after them, so that one slow stretch of
# the host does not cover them all.
FRESH_IMPORTS = 4


def generate(opts) -> str:
    """The seeded lake, its drifted copy and the staged partitions, written
    by a child process (reading the source table there keeps it out of the
    measured process's memory)."""
    lake_dir = os.path.join(WORK, "lake_ddl")
    shutil.rmtree(lake_dir, ignore_errors=True)
    os.makedirs(lake_dir)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "lakegen.py"),
         "--sf", opts.scale["lake_sf"], "--out", lake_dir,
         "--seed", str(opts.seed), "--files", str(opts.scale["lake_files"])],
        check=True, capture_output=True, text=True, timeout=170,
    )
    # write the new files back now, not while the passes are timed
    os.sync()
    return lake_dir


def fresh_import_s() -> float:
    """The package import, timed in a fresh interpreter."""
    out = subprocess.run([sys.executable, os.path.abspath(__file__)],
                         check=True, capture_output=True, text=True, timeout=170)
    return float(out.stdout.strip().splitlines()[-1])


def wrap_ddl(tracer) -> None:
    """Spans around the ddl module's public functions (looked up by name at
    call time, so patching the module attributes reaches every caller), and
    counters on pyarrow's footer entry points and on fragment listing."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark import cli, ddl

    for name in DDL_SPANS:
        setattr(ddl, name, tracer.wrap(getattr(ddl, name), name, "ddl"))
    cli.schema_to_clickhouse = ddl.schema_to_clickhouse

    def counted(fn):
        def wrapper(*args, **kwargs):
            if not (tracer.enabled and tracer.inside("ddl", "cli")):
                return fn(*args, **kwargs)
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.count("footer_reads")
                tracer.count("footer_read_s", time.perf_counter() - t)

        return wrapper

    class ParquetFile(pq.ParquetFile):
        def __init__(self, *args, **kwargs):
            counted(super().__init__)(*args, **kwargs)

    pq.ParquetFile = ParquetFile
    pq.read_schema = counted(pq.read_schema)
    pq.read_metadata = counted(pq.read_metadata)
    ds.dataset = counted(ds.dataset)  # discovery reads the first footer

    list_fragments = ddl._list_fragments

    def _list_fragments(path):
        files = list_fragments(path)
        tracer.count("files_listed", len(files))
        return files

    ddl._list_fragments = _list_fragments


class LakeRun:
    def __init__(self, opts, tracer, weather, lake_dir: str) -> None:
        self.opts = opts
        self.tracer = tracer
        self.weather = weather
        self.dir = lake_dir
        with open(os.path.join(lake_dir, "lake.json"), encoding="utf-8") as fh:
            self.lake_meta = json.load(fh)
        self.lake = os.path.join(lake_dir, "lake")
        self.drifted = os.path.join(lake_dir, "drifted")
        self.cache = os.path.join(lake_dir, "drift-cache.json")
        self._appended: str | None = None
        wrap_ddl(tracer)
        from parquet_to_clickhouse_schema_spark import cli

        self.cli = cli
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.last_ddl: dict[str, str] = {}

    def _argv(self, path: str, name: str, *extra: str) -> list[str]:
        return ["--parquet-path", path,
                "--clickhouse-schema-path", self._out(name),
                "--table-name", "lineitem", "--primary-key", "l_orderkey", *extra]

    def _out(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.sql")

    def _cli(self, argv: list[str]) -> None:
        with self.tracer.span("cli.main", "cli"), contextlib.redirect_stdout(io.StringIO()):
            self.cli.main(argv)

    def _op(self, name: str, path: str, n: int, *extra: str) -> float | None:
        self.attempted += 1
        self.tracer.op_id = f"{name}:p{n}"
        try:
            with self.tracer.span(name, "op"):
                t = time.perf_counter()
                self._cli(self._argv(path, name, *extra))
                dt = time.perf_counter() - t
        except Exception as e:  # noqa: BLE001 - counted, run continues
            self.failed += 1
            self.errors.append(f"{name} (pass{n}): {type(e).__name__}: {str(e)[:200]}")
            return None
        with open(self._out(name), encoding="utf-8") as fh:
            self.last_ddl[name] = fh.read()
        return dt

    def _append(self, n: int) -> None:
        """Move the next staged partition into the lake and the one appended
        before back to the staging area."""
        staged = self.lake_meta["staged"]
        self.take_out_appended()
        self._appended = staged[n % len(staged)]
        os.makedirs(os.path.dirname(os.path.join(self.lake, self._appended)), exist_ok=True)
        shutil.move(os.path.join(self.dir, "staged", self._appended),
                    os.path.join(self.lake, self._appended))

    def take_out_appended(self) -> None:
        if self._appended is not None:
            shutil.move(os.path.join(self.lake, self._appended),
                        os.path.join(self.dir, "staged", self._appended))
            os.rmdir(os.path.dirname(os.path.join(self.lake, self._appended)))
            self._appended = None

    def one_pass(self, n: int, traced: bool) -> dict:
        self.tracer.enabled = traced
        self.weather.mark()
        times = {}
        with self.tracer.span(f"pass{n}", "pass"):
            times["ddl_cold"] = self._op("ddl_cold", self.lake, n)
            self._append(n)
            times["ddl_incremental"] = self._op(
                "ddl_incremental", self.lake, n, "--drift-cache", self.cache)
            times["ddl_unify"] = self._op("ddl_unify", self.drifted, n, "--unify")
            if self.opts.inject_failure:
                # a deliberately failing operation, for the self-check
                self._op("injected_failure", os.path.join(self.dir, "missing"), n)
        self.tracer.enabled = False
        done = [t for t in times.values() if t is not None]
        return {"pass": n, "traced": traced, "ops_s": times,
                "wall_s": sum(done) if done else float("nan"),
                **self.weather.sample()}

    def check(self) -> None:
        """Once per run, untimed: the cold DDL of the current lake state
        equals the incremental one; strict mode refuses the drifted lake;
        the unify DDL is the cold DDL with the drifted column widened."""
        from parquet_to_clickhouse_schema_spark.ddl import SchemaDriftError

        def fail(what):
            self.failed += 1
            self.errors.append(f"check: {what}")

        self.attempted += 3
        try:
            self._cli(self._argv(self.lake, "check"))
            with open(self._out("check"), encoding="utf-8") as fh:
                cold_ddl = fh.read()
        except Exception as e:  # noqa: BLE001
            fail(f"cold DDL of the final lake state raised {e!r}")
            return
        if self.last_ddl.get("ddl_incremental") != cold_ddl:
            fail("incremental DDL differs from the cold DDL of the same lake state")
        try:
            self._cli(self._argv(self.drifted, "check"))
            fail("strict DDL accepted the drifted lake")
        except SchemaDriftError:
            pass
        except Exception as e:  # noqa: BLE001
            fail(f"strict DDL on the drifted lake raised {e!r}, not SchemaDriftError")
        want = cold_ddl.replace("l_linenumber Nullable(Int32)", "l_linenumber Nullable(Int64)")
        if want == cold_ddl or self.last_ddl.get("ddl_unify") != want:
            fail("unify DDL is not the cold DDL with l_linenumber widened to Int64")

    def run(self, first_import_s: float) -> dict:
        """The cold pass and the warm passes in this process, with the
        package import also timed in fresh interpreters before and after
        them.  ``pass_s`` adds up the median time of each operation, and
        ``setup_s`` is the median import."""
        imports = [first_import_s, *(fresh_import_s() for _ in range(FRESH_IMPORTS // 2))]
        if os.path.exists(self.cache):
            os.remove(self.cache)
        self.tracer.enabled = self.opts.trace  # records the root span only
        with self.tracer.span("lake_ddl", "workload"):
            self.tracer.enabled = False
            cold = self.one_pass(0, False)
            passes = warm_passes(self.one_pass, self.opts, 1)
        rss = peak_rss_mb()
        self.check()
        self.take_out_appended()
        imports += [fresh_import_s() for _ in range(FRESH_IMPORTS - FRESH_IMPORTS // 2)]
        untraced = [p for p in passes if not p["traced"]]
        metrics = {
            "setup_s": statistics.median(imports),
            "cold_pass_s": cold["wall_s"],
            "pass_s": 0.0,
            "peak_rss_mb": rss,
            "host.steal_pct": statistics.median(p["steal_pct"] for p in passes),
            "host.loadavg": statistics.median(p["loadavg"] for p in passes),
        }
        for op in OPS:
            samples = [p["ops_s"][op] for p in untraced if p["ops_s"][op] is not None]
            if samples:
                metrics[f"{op}_s"] = statistics.median(samples)
                metrics[f"{op}_s.p90"] = _p90(samples)
                metrics["pass_s"] += metrics[f"{op}_s"]
        if self.opts.trace:
            traced = [p["wall_s"] for p in passes if p["traced"]]
            metrics["trace.overhead_pct"] = 100.0 * (
                statistics.median(traced) / statistics.median(p["wall_s"] for p in untraced)
                - 1.0
            )
            metrics.update(self._layer_metrics())
        return {"metrics": metrics, "passes": [cold, *passes], "imports_s": imports,
                "lake": self.lake_meta}

    def _layer_metrics(self) -> dict:
        spans = self.tracer.spans
        kids = children_of(spans)
        per_pass = []
        for p in (s for s in spans if s["layer"] == "pass"):
            tot: dict[str, float] = defaultdict(float)
            for s in subtree(p, kids):
                c = s["counts"]
                tot["ddl.footer_reads"] += c["footer_reads"]
                tot["ddl.footer_read_s"] += c["footer_read_s"]
                tot["ddl.files_listed"] += c["files_listed"]
                if s["name"] == "cli.main":
                    tot["cli.self_s"] += self_time(s, kids)
                elif s["layer"] == "op":
                    # op time the cli and ddl spans do not cover
                    tot["trace.gap_s"] += self_time(s, kids)
                elif s["layer"] == "ddl":
                    tot[DDL_SPANS[s["name"]]] += duration(s)
                    if s["name"] == "schema_to_clickhouse":
                        tot["ddl.self_s"] += self_time(s, kids)
            tot["ddl.footer_reads_per_file"] = (
                tot["ddl.footer_reads"] / self.lake_meta["files"]
            )
            per_pass.append(tot)
        names = set().union(*per_pass)
        return {k: statistics.median(t[k] for t in per_pass) for k in names}


def _p90(samples: list[float]) -> float:
    if len(samples) < 2:
        return samples[0]
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


if __name__ == "__main__":
    # one fresh-interpreter sample of the package import
    T0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    import parquet_to_clickhouse_schema_spark.cli  # noqa: F401

    print(time.perf_counter() - T0)
