"""The Spark workloads, ``olap`` and ``llm_pipeline``.

One process, one client, closed loop: each key is built and executed only
after the previous one finished.  A run is

1. set-up: package and registry import, ``get_spark()`` and ``tune()``;
2. a cold pass: every key built and collected to the driver, as a
   verification sweep does; the outputs are checked after the timer stops;
3. ``WARMUP_PASSES`` warm-up passes, not measured, then warm passes until
   ``--seconds`` have passed: every key built and written to the noop
   sink.  The key order of each pass comes from the seed.

In a traced run, warm passes alternate traced and untraced.  A traced pass
sets the job group to workload, key, pass and phase, records spans around
the build, every ``load_table`` call and the noop write, and reads the
stages of each key's job groups from Spark's status store right after the
key ran (the store keeps only the last 1,000 stages, so whole-run diffs do
not work).
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from collections import defaultdict

from common import ROOT, WORK, testdata_dir, warm_passes
from spans import children_of, duration, subtree
from weather import peak_rss_mb

OLAP_KEYS = (
    "q_topk", "q_agg_hash", "q_join_broadcast", "q_join_multiway",
    "q_join_sortmerge", "q_window_rank", "q_rollup", "q_report_top_orders",
    "q_report_returned_customers", "q_report_regional_revenue", "q_join_asof",
    "q_tumbling_window", "q_session_window", "q_dedup_exact", "q_text_stats",
    "q_column_sizes",
)
LLM_KEYS = (
    "q_dedup_pipeline", "q_ivf_topk", "q_bpe_train", "q_near_dedup_minhash",
    "q_udf_pandas", "q_substring_dup", "q_semdedup",
)

# StageData getters summed per phase, with their scale to the reported unit
_STAGE_FIELDS = {
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}


# The driver heap, pinned (initial = maximum).  The engine's default is a
# 16g maximum grown from a host-dependent initial size (1/64 of RAM); the
# adaptive growth made peak RSS swing 3.4-7 GB and pass times 12-18 s
# between identical runs, and a fixed heap also keeps the benchmark small
# on a shared host.
DRIVER_HEAP = "2g"

# Passes after the cold pass that are run but not measured: JIT compilation
# goes on for about four passes (pass times fell 8.9, 7.4, 6.7, 6.1 s and
# then held at 5.6-6.0 s on a 4-core host).
WARMUP_PASSES = 3


def prepare_env() -> int:
    """Environment the JVM and its Python workers inherit: the package on
    the workers' path, ``local[nproc]``, a pinned driver heap, and scratch
    space inside the checkout.  Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )
    # the driver JVM only: spark-submit's own launcher JVM runs with -Xmx128m
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{DRIVER_HEAP} pyspark-shell"
    )
    return cores


class StageReader:
    """Stage statistics of a set of job groups, read from the status store."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def stats(self, groups: list[str]) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(["jobs", "stages", "tasks", *_STAGE_FIELDS], 0.0)
        stage_ids: set[int] = set()
        for g in groups:
            for j in self.sc.statusTracker().getJobIdsForGroup(g):
                out["jobs"] += 1
                it = self.store.job(j).stageIds().iterator()
                while it.hasNext():
                    stage_ids.add(it.next())
        for sid in stage_ids:
            it = self.store.stageData(sid, False, None, False, None).iterator()
            while it.hasNext():
                sd = it.next()
                done = sd.numCompleteTasks()
                if done == 0:  # skipped: its shuffle output was reused
                    continue
                out["stages"] += 1
                out["tasks"] += done
                for name, (getter, scale) in _STAGE_FIELDS.items():
                    out[name] += getattr(sd, getter)() * scale
        return out


class SparkRun:
    def __init__(self, workload: str, keys, opts, tracer, weather, t0: float) -> None:
        self.workload = workload
        self.keys = list(keys)
        self.opts = opts
        self.tracer = tracer
        self.weather = weather
        self.cores = prepare_env()
        if opts.inject_failure:
            self.keys.append("q_injected_failure")

        t = time.perf_counter()
        from parquet_to_clickhouse_schema_spark import registry

        self.queries = dict(registry.all_queries())
        self.registry_s = time.perf_counter() - t
        from parquet_to_clickhouse_schema_spark.session import get_spark, tune

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t
        tune(self.spark)
        self.setup_s = time.perf_counter() - t0

        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        self.stages = StageReader(self.sc)
        self.sf_dir = testdata_dir(opts.scale["sf"])
        self.queries["q_injected_failure"] = _injected_failure
        self._group: str | None = None
        self._wrap_load_table()
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- layer wrappers -------------------------------------------------
    def _wrap_load_table(self) -> None:
        """Wrap the ``load_table`` name each operator module imported (and
        the defining module, for function-local imports)."""
        from parquet_to_clickhouse_schema_spark.sources import io

        orig = io.load_table
        tracer = self.tracer

        def load_table(spark, sf_dir, name):
            if not tracer.enabled:
                return orig(spark, sf_dir, name)
            build_group = self._group
            with tracer.span("load_table", "sources.io"):
                if build_group is None or not build_group.endswith(":build"):
                    return orig(spark, sf_dir, name)
                self._set_group(build_group[: -len("build")] + "load")
                try:
                    return orig(spark, sf_dir, name)
                finally:
                    self._set_group(build_group)

        for name, mod in list(sys.modules.items()):
            if name.startswith("parquet_to_clickhouse_schema_spark") and (
                getattr(mod, "load_table", None) is orig
            ):
                mod.load_table = load_table

    def _set_group(self, group: str | None) -> None:
        self._group = group
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def _persisted(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())

    # -- passes ---------------------------------------------------------
    def _order(self, rng: random.Random) -> list[str]:
        return rng.sample(self.keys, len(self.keys))

    def cold_pass(self, order: list[str], checker) -> float:
        outputs = {}
        t = time.perf_counter()
        for key in order:
            self.attempted += 1
            try:
                df = self.queries[key](self.spark, self.sf_dir)
                outputs[key] = (df.columns, df.schema.simpleString(),
                                [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 - counted, run continues
                self._fail(key, "cold", e)
        cold_s = time.perf_counter() - t
        t = time.perf_counter()
        for key, (cols, schema, rows) in outputs.items():
            self.attempted += 1
            problems = checker.check(key, cols, schema, rows)
            if problems:
                self.failed += 1
                self.errors.append(f"{key}: check: {'; '.join(problems)[:300]}")
        self.check_s = time.perf_counter() - t
        return cold_s

    def warm_pass(self, n: int, order: list[str], traced: bool) -> dict:
        self.tracer.enabled = traced
        self.weather.mark()
        t = time.perf_counter()
        with self.tracer.span(f"pass{n}", "pass"):
            for key in order:
                self.attempted += 1
                self.tracer.op_id = f"{key}:p{n}"
                rec = {"pass": n, "key": key, "traced": traced}
                try:
                    self._run_key(key, n, rec, traced)
                except Exception as e:  # noqa: BLE001 - counted, run continues
                    self._fail(key, f"pass{n}", e)
                    rec["error"] = repr(e)[:300]
                self.records.append(rec)
        wall = time.perf_counter() - t
        info = {"pass": n, "traced": traced, "wall_s": wall, **self.weather.sample()}
        if traced:
            self._set_group(None)
            info["persisted_rdds"] = self._persisted()
        self.tracer.enabled = False
        return info

    def _run_key(self, key: str, n: int, rec: dict, traced: bool) -> None:
        prefix = f"{self.workload}:{key}:p{n}"
        if traced:
            rec["persisted_before"] = self._persisted()
            self._set_group(f"{prefix}:build")
        with self.tracer.span(key, "op"):
            t = time.perf_counter()
            with self.tracer.span("build", "operators") as b:
                df = self.queries[key](self.spark, self.sf_dir)
            rec["build_s"] = time.perf_counter() - t
            if traced:
                self._set_group(f"{prefix}:exec")
            t = time.perf_counter()
            with self.tracer.span("exec", "exec") as e:
                df.write.format("noop").mode("overwrite").save()
            rec["exec_s"] = time.perf_counter() - t
            if traced:
                with self.tracer.span("record", "bench"):
                    load = self.stages.stats([f"{prefix}:load"])
                    build = self.stages.stats([f"{prefix}:build", f"{prefix}:load"])
                    b["counts"].update(build)
                    b["counts"]["schema_jobs"] = load["jobs"]
                    e["counts"].update(self.stages.stats([f"{prefix}:exec"]))
                    rec["job_group"] = prefix
                    rec["build"] = build
                    rec["schema_jobs"] = load["jobs"]
                    rec["exec"] = dict(e["counts"])
                    rec["persisted_after"] = self._persisted()

    def _fail(self, key: str, where: str, e: Exception) -> None:
        self.failed += 1
        self.errors.append(f"{key} ({where}): {type(e).__name__}: {str(e)[:200]}")

    def run(self, checker) -> dict:
        rng = random.Random(self.opts.seed)
        self.tracer.enabled = self.opts.trace  # records the root span only
        with self.tracer.span(self.workload, "workload"):
            self.tracer.enabled = False
            cold_s = self.cold_pass(self._order(rng), checker)
            warmup = [self.warm_pass(n, self._order(rng), False)
                      for n in range(WARMUP_PASSES)]
            passes = warm_passes(
                lambda n, traced: self.warm_pass(n, self._order(rng), traced),
                self.opts, WARMUP_PASSES)
        rss = peak_rss_mb(self.jvm_pid)
        untraced = [p for p in passes if not p["traced"]]
        metrics = {
            "setup_s": self.setup_s,
            "cold_pass_s": cold_s,
            "pass_s": statistics.median(p["wall_s"] for p in untraced),
            "peak_rss_mb": rss,
            "session.get_spark_s": self.get_spark_s,
            "registry.load_s": self.registry_s,
            "host.steal_pct": statistics.median(p["steal_pct"] for p in passes),
            "host.loadavg": statistics.median(p["loadavg"] for p in passes),
        }
        if self.opts.trace:
            traced_walls = [p["wall_s"] for p in passes if p["traced"]]
            metrics["trace.overhead_pct"] = 100.0 * (
                statistics.median(traced_walls) / metrics["pass_s"] - 1.0
            )
            metrics.update(self._layer_metrics(passes))
        return {
            "metrics": metrics,
            "check_s": self.check_s,
            "warmup": warmup,
            "passes": passes,
            "records": self.records,
        }

    def _layer_metrics(self, passes: list[dict]) -> dict:
        kids = children_of(self.tracer.spans)
        pass_spans = [s for s in self.tracer.spans if s["layer"] == "pass"]
        per_pass = []
        for p, info in zip(pass_spans, (q for q in passes if q["traced"])):
            tot: dict[str, float] = defaultdict(float)
            for s in subtree(p, kids):
                c = s["counts"]
                if s["name"] == "load_table":
                    tot["sources.io.load_table_s"] += duration(s)
                    tot["sources.io.load_table_calls"] += 1
                elif s["name"] == "build":
                    tot["operators.build_s"] += duration(s)
                    tot["sources.io.schema_jobs"] += c["schema_jobs"]
                    tot["operators.build_jobs"] += c["jobs"]
                    tot["operators.build_tasks"] += c["tasks"]
                elif s["name"] == "exec":
                    tot["exec.s"] += duration(s)
                    for k in ("jobs", "stages", "tasks", *_STAGE_FIELDS):
                        tot[f"exec.{k}"] += c[k]
            tot["operators.build_self_s"] = (
                tot["operators.build_s"] - tot["sources.io.load_table_s"]
            )
            exec_s = tot["exec.s"]
            tot["exec.core_util"] = tot["exec.run_s"] / (exec_s * self.cores) if exec_s else 0.0
            # the part of the pass neither build nor exec covers: the
            # benchmark's stage reads, job-group calls and loop overhead
            tot["trace.gap_s"] = duration(p) - tot["operators.build_s"] - exec_s
            tot["operators.persisted_rdds"] = info["persisted_rdds"]
            per_pass.append(tot)
        names = set().union(*per_pass)
        return {k: statistics.median(t[k] for t in per_pass) for k in names}

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        gateway = self.sc._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _injected_failure(spark, sf_dir):
    """A deliberately failing operation, for the self-check."""
    raise RuntimeError("injected failure")
