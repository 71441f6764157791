"""The benchmark's workloads: one pass of each, its output check, and its
per-layer readings in a traced pass.

A pass is what a user of the system waits for. ``sparkify_etl`` runs the
paper's pipeline into a fresh output root; the registry workloads build each
of their queries with its ``spark_fn`` and execute it into the ``noop`` sink,
in their listed order. Passes run one at a time (a closed loop with one
client). The seed varies the data, not the order: with a permuted order a
query's warm latency moved by up to 40% with its position in the pass and in
the cold pass before it, which swamped the run-to-run spread.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from types import SimpleNamespace

from layers import Spans, StatusStore, union_seconds


@dataclass
class Op:
    """One timed operation: a query (build + execute) or a pipeline run."""

    name: str
    build_s: float
    execute_s: float
    error: str | None = None

    @property
    def total_s(self) -> float:
        return self.build_s + self.execute_s


@dataclass
class Pass:
    wall_s: float
    ops: list[Op] = field(default_factory=list)
    #: traced passes only: [layer, label, start s from the pass start, duration s, jobs]
    spans: list[list] = field(default_factory=list)


class RegistryWorkload:
    """Registry queries over the generated ``registry`` tables."""

    def __init__(self, queries: list[str], data_dir: str):
        self.queries = queries
        self.data_dir = data_dir
        self.collected: dict[str, SimpleNamespace] = {}

    def run_pass(self, spark, collect: bool = False) -> Pass:
        """One pass. ``collect`` brings every result to the driver instead of
        the noop sink and keeps it for :meth:`check`."""
        from data_engineering_nd_datalake_project_4_spark.queries import REGISTRY

        p = Pass(0.0)
        t_pass = time.perf_counter()
        for name in self.queries:
            t0 = time.perf_counter()
            build = None
            try:
                df = REGISTRY[name].spark_fn(spark, self.data_dir)
                build = time.perf_counter() - t0
                if collect:
                    self.collected[name] = SimpleNamespace(
                        schema=df.schema, columns=df.columns, rows=df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
                p.ops.append(Op(name, build, time.perf_counter() - t0 - build))
            except Exception as e:  # noqa: BLE001 — a failed query is counted, the pass goes on
                elapsed = time.perf_counter() - t0
                build = elapsed if build is None else build
                p.ops.append(Op(name, build, elapsed - build, repr(e)[:300]))
        p.wall_s = time.perf_counter() - t_pass
        return p

    def check(self) -> dict[str, str]:
        """Compare every collected result with the query's DuckDB oracle;
        returns ``{query: failure}``."""
        from data_engineering_nd_datalake_project_4_spark.queries import oracle_sql
        from tests.oracle_util import compare, duck_con

        con = duck_con(self.data_dir)
        oracles = oracle_sql()
        failures = {}
        for name in self.queries:
            got = self.collected.get(name)
            if got is None:
                failures[name] = "no result collected"
                continue
            frame = SimpleNamespace(schema=got.schema, columns=got.columns, collect=lambda g=got: g.rows)
            try:
                compare(frame, con, oracles[name])
            except AssertionError as e:
                failures[name] = str(e)[:300]
        con.close()
        return failures

    def traced_pass(self, spark) -> tuple[Pass, dict[str, float]]:
        """One pass with spans around build, planning, execution and the
        catalog loads the builds make."""
        from data_engineering_nd_datalake_project_4_spark import queries as queries_mod

        store = StatusStore(spark)
        spans = Spans(store)
        load_table = queries_mod.load_table
        queries_mod.load_table = spans.wrap("catalog", load_table, lambda s, d, name: name)
        j0, x0 = store.job_count(), store.execution_count()
        p = Pass(0.0)
        t_pass, t_epoch = time.perf_counter(), time.time()
        try:
            for name in self.queries:
                label = lambda *a, name=name: name  # noqa: E731
                build = spans.wrap("build", queries_mod.REGISTRY[name].spark_fn, label)
                df = build(spark, self.data_dir)
                spans.wrap("plan", lambda: df._jdf.queryExecution().executedPlan(), label)()
                spans.wrap("execute", lambda: df.write.format("noop").mode("overwrite").save(), label)()
                build_s, plan_s, exec_s = (e - s for _, _, s, e, _ in spans.rows[-3:])
                p.ops.append(Op(name, build_s, plan_s + exec_s))
        finally:
            queries_mod.load_table = load_table
        p.wall_s = time.perf_counter() - t_pass
        p.spans = [[layer, label, s - t_epoch, e - s, jobs] for layer, label, s, e, jobs in spans.rows]
        build_self = spans.total("build") - spans.total("catalog")
        layers = {
            "catalog.load_s": spans.total("catalog"),
            "catalog.loads": spans.count("catalog"),
            "catalog.jobs": spans.jobs("catalog"),
            "queries.build_s": build_self,
            "queries.build_jobs": spans.jobs("build") - spans.jobs("catalog"),
            "queries.build_share": build_self / p.wall_s,
            "plans.plan_s": spans.total("plan"),
            "operators.execute_s": spans.total("execute"),
        }
        layers.update(_operator_layers(store, range(j0, store.job_count()), x0, p.wall_s, spark))
        return p, layers


class SparkifyWorkload:
    """``pipelines.sparkify.run_pipeline`` over the generated raw feed."""

    def __init__(self, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.passes = 0
        self.lake: str | None = None

    def _next_root(self) -> str:
        """A fresh output root; the previous pass's lake is removed first."""
        if self.lake is not None:
            shutil.rmtree(self.lake)
        self.passes += 1
        self.lake = os.path.join(self.work_dir, f"lake-{self.passes}")
        return self.lake

    def _config(self):
        from data_engineering_nd_datalake_project_4_spark.pipelines.sparkify import SparkifyConfig

        return SparkifyConfig(
            log_data_path=os.path.join(self.data_dir, "log_data"),
            song_data_path=os.path.join(self.data_dir, "song_data"),
            output_root=self._next_root(),
        )

    def run_pass(self, spark, collect: bool = False) -> Pass:
        from data_engineering_nd_datalake_project_4_spark.pipelines.sparkify import run_pipeline

        cfg = self._config()
        t0 = time.perf_counter()
        try:
            run_pipeline(spark, cfg)
            error = None
        except Exception as e:  # noqa: BLE001 — a failed run is counted, the run goes on
            error = repr(e)[:300]
        wall = time.perf_counter() - t0
        return Pass(wall, [Op("run_pipeline", 0.0, wall, error)])

    def check(self) -> dict[str, str]:
        """Compare the last lake on disk with the truth DuckDB computes from
        the raw JSON; a wrong lake is one failure, listing the facts that
        differ."""
        from truth import lake_facts, truth_facts

        want, got = truth_facts(self.data_dir), lake_facts(self.lake)
        wrong = [k for k, v in want.items() if got.get(k) != v]
        return {"run_pipeline": f"lake differs from the truth in {wrong}"} if wrong else {}

    def traced_pass(self, spark) -> tuple[Pass, dict[str, float]]:
        """One pass with a span and a job group around each sink write the
        pipeline makes (writes run concurrently on the pipeline's threads)."""
        from data_engineering_nd_datalake_project_4_spark.pipelines import sparkify

        store = StatusStore(spark)
        sc = spark.sparkContext
        writes: list[tuple[str, float, float]] = []
        sources = []
        cfg = self._config()
        write_parquet, read_json = sparkify.write_parquet, sparkify.read_json

        def traced_write(df, path, **kwargs):
            label = os.path.relpath(path, cfg.output_root)
            sc.setJobGroup(f"lakebench-write-{self.passes}-{label}", label)
            t0 = time.time()
            try:
                write_parquet(df, path, **kwargs)
            finally:
                writes.append((label, t0, time.time()))
                sc.setLocalProperty("spark.jobGroup.id", None)

        def traced_read(*args, **kwargs):
            df = read_json(*args, **kwargs)
            sources.append(df)
            return df

        sparkify.write_parquet, sparkify.read_json = traced_write, traced_read
        j0, x0 = store.job_count(), store.execution_count()
        t_start = time.time()
        try:
            sparkify.run_pipeline(spark, cfg)
        finally:
            sparkify.write_parquet, sparkify.read_json = write_parquet, read_json
        t_end = time.time()
        wall = t_end - t_start
        p = Pass(wall, [Op("run_pipeline", 0.0, wall)])

        staged = max(e for label, _, e in writes if label.startswith("_staging"))
        layers = {
            "pipelines.stage_s": staged - t_start,
            "pipelines.tables_s": t_end - staged,
            "sinks.write_s": sum(e - s for _, s, e in writes),
            "sinks.driver_commit_s": 0.0,
            "sinks.tasks": 0.0,
        }
        for label, s, e in writes:
            if not label.startswith("_staging"):
                layers[f"pipelines.table_s.{label}"] = e - s
            jobs = store.group_jobs(f"lakebench-write-{self.passes}-{label}")
            p.spans.append(["sinks", label, s - t_start, e - s, len(jobs)])
            ran = [iv for iv in map(store.job_interval, jobs) if iv is not None]
            layers["sinks.driver_commit_s"] += (e - s) - union_seconds(
                [(max(a, s), min(b, e)) for a, b in ran])
            layers["sinks.tasks"] += store.stage_totals(jobs)["tasks"]
        files, dirs, lake_bytes = _tree_stats(cfg.output_root)
        inputs = sorted({f for df in sources for f in df.inputFiles()})
        input_bytes = sum(os.path.getsize(f.removeprefix("file:")) for f in inputs)
        layers.update({
            "sinks.files": files,
            "sinks.partition_dirs": dirs,
            "sinks.bytes": lake_bytes,
            "sinks.lake_bytes_per_input_byte": lake_bytes / input_bytes,
            "sources.input_files": len(inputs),
            "sources.input_bytes": input_bytes,
            "operators.execute_s": wall,
        })
        layers.update(_operator_layers(store, range(j0, store.job_count()), x0, wall, spark))
        return p, layers


def _operator_layers(store: StatusStore, job_ids, first_execution: int, wall_s: float, spark) -> dict:
    stages = store.stage_totals(job_ids)
    cores = spark.sparkContext.defaultParallelism
    out = {f"operators.{k}": stages[k] for k in
           ("task_s", "task_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
            "fetch_wait_s", "spill_bytes")}
    out["operators.slot_busy_ratio"] = stages["task_s"] / (wall_s * cores)
    out.update(store.plan_metrics(first_execution, store.execution_count()))
    return out


def _tree_stats(root: str) -> tuple[int, int, int]:
    """(data files, partition directories, data bytes) under a lake root."""
    files = dirs = size = 0
    for dirpath, _, names in os.walk(root):
        if "=" in os.path.basename(dirpath):
            dirs += 1
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, dirs, size


REGISTRY_QUERIES = {
    "olap_star": ["q01", "q02", "q05", "q08", "q18", "q95_multi_exists", "q120_market_share"],
    "llm_curation": ["q35_minhash_lsh", "q69_dedup_components", "q121_grouped_pandas_running",
                     "q146_image_phash", "q38_quality"],
}

#: workload name -> the gen.py input set it reads
INPUTS = {"sparkify_etl": "sparkify", "olap_star": "registry", "llm_curation": "registry"}


def make(name: str, data_dir: str, work_dir: str):
    if name == "sparkify_etl":
        return SparkifyWorkload(data_dir, work_dir)
    return RegistryWorkload(REGISTRY_QUERIES[name], data_dir)
