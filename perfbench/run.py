#!/usr/bin/env python3
"""The repo benchmark: one workload, one closed-loop client, end to end.

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run in a checkout builds the
inputs (perfbench/inputs.py) into perfbench/.cache; every run writes its
scratch files, event log and a detail record under perfbench/.out.

A run sets the session up SETUP_REPS times, makes one cold pass over the
workload's ops, then repeats whole passes (each in a seed-shuffled order)
until ``--seconds`` have gone by. Every
op is one call of the library's public entry point; the benchmark tags
each call into a layer with its own Spark job group and times it from
outside. Outputs are checked outside the
timed region. The last stdout line is the JSON result: the end-to-end
metrics with ``--trace 0``. With ``--trace 1`` the run then restarts the
session with Spark's event log on and repeats the measured loop traced,
then once more untraced, and reports the per-layer metrics folded from
that log (perfbench/eventlog.py) with the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from types import SimpleNamespace

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CACHE = BENCH / ".cache"
OUT = BENCH / ".out"

# Query workloads: registry names, each op = QUERIES[name](spark, data_dir)
# then a noop-sink write of the returned DataFrame.
QUERY_WORKLOADS = {
    # dedup, text and vector queries; dedup_word_jaccard's construct runs
    # 15 eager jobs and dedup_minhash_lsh's builds a large plan. An odd
    # number of queries keeps the median op inside one query's latencies.
    "corpus_curation": [
        "dedup_word_jaccard", "dedup_minhash_lsh", "dedup_exact",
        "gopher_quality", "embedding_near_dup",
    ],
    # star-schema and time-series reads; not in BENCHMARK.json (a warm pass
    # took 7-20 s on 4 cores, which the driver's time budget cannot fit
    # next to the other two), kept for attribution runs
    "analyst_star": [
        "flagship_wide", "fact_transactions", "stg_transactions_typed",
        "unit_conversion", "dim_country_merged", "rolling_ma30",
        "top10_products", "country_month_avg", "price_anomalies",
        "gap_fill_months", "group_mean_impute", "best_markets", "table_audit",
        "linear_forecast", "seasonal_forecast", "rollup_revenue",
        "grouping_sets_sales", "pit_part_price_sales", "winsorize_prices",
        "anti_join_missing_months",
    ],
}
# one op = run_pipeline(spark, data_dir, <fresh warehouse>), quality gate on
PIPELINE_WORKLOAD = "medallion_build"

SETUP_REPS = 3
# deployment settings the benchmark fixes; every other setting is
# get_spark's default
DRIVER_MEMORY = "4g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Op:
    name: str
    phase: str  # cold | measured | traced | untraced (after traced)
    tag: str  # job-group prefix
    latency_s: float = 0.0
    construct_s: float = 0.0
    execute_s: float = 0.0
    error: str | None = None
    # job group suffix -> (jobs, stages, tasks) from the status tracker
    counts: dict[str, tuple[int, int, int]] = field(default_factory=dict)
    # medallion only: seconds per pipeline layer, sink and quality stats
    layer_s: dict[str, float] = field(default_factory=dict)
    files_written: int = 0
    bytes_written: int = 0
    checks: int = 0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, lib, inputs_dir: Path):
        self.workload = workload
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.lib = lib
        self.inputs = inputs_dir
        self.data_dir = str(inputs_dir / "data")
        self.expected = json.loads((inputs_dir / "expected.json").read_text())
        self.work = OUT / workload
        self.tmp = self.work / "tmp"
        self.spark = None
        self.ops: list[Op] = []
        self.setups: list[tuple[float, float]] = []  # (session, tables) seconds
        self.op_seq = 0
        self.current: Op | None = None
        self.wrong: dict[str, str] = {}  # query -> failed output check
        self.jvm_pid: int | None = None
        if workload == PIPELINE_WORKLOAD:
            self._wrap_pipeline_layers()

    # -- session -------------------------------------------------------
    def start(self, event_log: Path | None = None) -> None:
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(self.tmp),
            "spark.eventLog.enabled": "false",
        }
        if event_log is not None:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log.as_uri(),
            })
        k = len(self.setups)
        t0 = time.perf_counter()
        self.spark = self.lib.get_spark(
            app_name="perfbench", cpus=_cores(), extra_conf=conf
        )
        t1 = time.perf_counter()
        self.sc = self.spark.sparkContext
        self.sc.setJobGroup(f"setup{k}/tables", "load_tables")
        self.lib.load_tables(self.spark, self.data_dir)
        t2 = time.perf_counter()
        self.setups.append((t1 - t0, t2 - t1))
        self.jvm_pid = self.sc._gateway.proc.pid

    def stop(self) -> None:
        self.spark.stop()
        self.lib.clear_table_cache()

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        for line in Path(f"/proc/{self.jvm_pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    # -- tagging ---------------------------------------------------------
    def _drain_listeners(self) -> None:
        """Wait until the status store has seen every event so far; it is
        fed asynchronously, so counts read right after a job can lag."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _tracker_counts(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            ran = 0 if info is None else info.numCompletedTasks + info.numFailedTasks
            if ran:  # skipped stages (reused shuffle output) ran no task
                stages += 1
                tasks += ran
        return len(jobs), stages, tasks

    def _wrap_pipeline_layers(self) -> None:
        """Time and tag run_pipeline's calls into quality and sources.sinks.
        The wrappers replace the names in the pipeline module only."""
        from market_flow_spark.plans import pipeline

        sink, checks = pipeline.export_parquet, pipeline.run_star_schema_checks

        def tagged(group: str, layer: str, fn, *args, **kwargs):
            op = self.current
            op.counts[group] = (0, 0, 0)  # counted once the build returns
            self.sc.setJobGroup(f"{op.tag}/{group}", group)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                spent = time.perf_counter() - t0
                op.layer_s[layer] = op.layer_s.get(layer, 0.0) + spent
                self.sc.setJobGroup(f"{op.tag}/pipeline", "run_pipeline")

        def export_parquet(df, path, partition_by=None):
            p = Path(path)
            layer = "dims" if p.name.startswith("dim_") else p.parent.name
            return tagged(f"sink/{p.parent.name}/{p.name}", layer, sink, df, path,
                          partition_by=partition_by)

        def run_star_schema_checks(tables):
            results = tagged("quality", "quality", checks, tables)
            self.current.checks = len(results)
            return results

        pipeline.export_parquet = export_parquet
        pipeline.run_star_schema_checks = run_star_schema_checks

    # -- ops -------------------------------------------------------------
    def _new_op(self, name: str, phase: str) -> Op:
        self.op_seq += 1
        op = Op(name=name, phase=phase, tag=f"op{self.op_seq}")
        self.ops.append(op)
        self.current = op
        return op

    def run_query(self, name: str, phase: str):
        op = self._new_op(name, phase)
        df = None
        self.sc.setJobGroup(f"{op.tag}/construct", name)
        t0 = time.perf_counter()
        try:
            df = self.lib.QUERIES[name](self.spark, self.data_dir)
            t1 = time.perf_counter()
            self.sc.setJobGroup(f"{op.tag}/execute", name)
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            op.construct_s, op.execute_s = t1 - t0, t3 - t2
            op.latency_s = op.construct_s + op.execute_s
        except Exception:
            op.error = traceback.format_exc(limit=3)
            op.latency_s = time.perf_counter() - t0
        self._drain_listeners()
        for part in ("construct", "execute"):
            op.counts[part] = self._tracker_counts(f"{op.tag}/{part}")
        return df

    def run_build(self, phase: str) -> None:
        op = self._new_op(PIPELINE_WORKLOAD, phase)
        warehouse = self.work / "warehouse" / op.tag
        shutil.rmtree(warehouse, ignore_errors=True)
        self.sc.setJobGroup(f"{op.tag}/pipeline", "run_pipeline")
        t0 = time.perf_counter()
        try:
            written = self.lib.run_pipeline(self.spark, self.data_dir, str(warehouse))
            op.latency_s = op.execute_s = time.perf_counter() - t0
            op.counts["pipeline"] = (0, 0, 0)
            self._drain_listeners()
            for group in op.counts:
                op.counts[group] = self._tracker_counts(f"{op.tag}/{group}")
            self._check_build(op, written)
        except Exception:
            op.error = traceback.format_exc(limit=3)
            op.latency_s = op.latency_s or time.perf_counter() - t0
        shutil.rmtree(warehouse, ignore_errors=True)

    def _check_build(self, op: Op, written: dict[str, str]) -> None:
        """The build passes when every table has its expected row count
        (run_pipeline has already raised on a failed quality check)."""
        import duckdb

        if sorted(written) != sorted(self.expected):
            raise AssertionError(f"tables {sorted(written)} != {sorted(self.expected)}")
        con = duckdb.connect()
        try:
            for table, path in written.items():
                files = [p for p in Path(path).rglob("*.parquet") if p.is_file()]
                op.files_written += len(files)
                op.bytes_written += sum(p.stat().st_size for p in files)
                rows = con.execute(
                    f"SELECT COUNT(*) FROM read_parquet({[str(p) for p in files]})"
                ).fetchone()[0] if files else 0
                if rows != self.expected[table]:
                    raise AssertionError(
                        f"{table}: {rows} rows, expected {self.expected[table]}"
                    )
        finally:
            con.close()

    def one_pass(self, phase: str) -> dict:
        """Run the workload's ops once; return {query name: DataFrame} for
        the query workloads. The cold pass runs each query once in the
        listed order, since its first op pays most of the JIT warm-up. A
        later pass is two rounds over the queries, each shuffled by the
        run's seed: ops keep getting faster for several passes, so a run's
        figures depend on its pass count, and a pass this long (6 s or more
        on 4 cores) keeps that count at one as box load changes."""
        if self.workload == PIPELINE_WORKLOAD:
            self.run_build(phase)
            return {}
        names = list(QUERY_WORKLOADS[self.workload])
        if phase != "cold":
            names = [*self.rng.sample(names, len(names)),
                     *self.rng.sample(names, len(names))]
        return {name: self.run_query(name, phase) for name in names}

    def loop(self, phase: str) -> None:
        """Closed loop: whole passes until the run's seconds have gone by."""
        t0 = time.perf_counter()
        while True:
            self.one_pass(phase)
            if time.perf_counter() - t0 >= self.seconds:
                return

    def check_queries(self, frames: dict) -> None:
        """Compare each query's result with its stored oracle result; a
        wrong query fails every op of it in the run (``mark_wrong``)."""
        import duckdb

        from tests.oracle_utils import assert_matches_oracle

        con = duckdb.connect(str(self.inputs / "oracles.duckdb"), read_only=True)
        try:
            for name, df in frames.items():
                if df is None:
                    continue  # its op failed already
                self.sc.setJobGroup("check", name)
                try:
                    assert_matches_oracle(df, con, f'SELECT * FROM "oracle_{name}"')
                except Exception:
                    self.wrong[name] = traceback.format_exc(limit=3)
        finally:
            con.close()

    def mark_wrong(self) -> None:
        for op in self.ops:
            if op.error is None and op.name in self.wrong:
                op.error = self.wrong[op.name]


def _tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None under eleven samples."""
    n = len(latencies)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(latencies)[n - 11]


def _ops_per_s(ops: list[Op]) -> float:
    """Ops completed correctly per second of client time."""
    return sum(op.error is None for op in ops) / sum(op.latency_s for op in ops)


def end_to_end(b: Bench) -> dict[str, tuple[float, str]]:
    cold = [op for op in b.ops if op.phase == "cold"]
    measured = [op for op in b.ops if op.phase == "measured"]
    return {
        "setup_s": (statistics.median(s + t for s, t in b.setups[:SETUP_REPS]), "s"),
        "cold_pass_s": (sum(op.latency_s for op in cold), "s"),
        "ops_per_s": (_ops_per_s(measured), "1/s"),
    }


# per-layer metric -> unit; every value is a mean per traced op except the
# set-up and trace metrics
LAYER_UNITS = {
    "session.start_s": "s", "tables.load_s": "s", "tables.jobs": "count",
    "queries.construct_s": "s", "queries.construct_self_s": "s",
    "queries.construct_jobs": "count", "queries.construct_stages": "count",
    "queries.construct_tasks": "count",
    "execute.wall_s": "s", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.executor_run_s": "s",
    "execute.executor_cpu_s": "s", "execute.gc_s": "s",
    "execute.scheduler_gap_s": "s", "execute.shuffle_read_bytes": "B",
    "execute.shuffle_write_bytes": "B", "execute.spill_bytes": "B",
    "execute.input_bytes": "B", "execute.failed_tasks": "count",
    "pipeline.staging_s": "s", "pipeline.dims_s": "s", "pipeline.analytics_s": "s",
    "pipeline.jobs": "count", "quality.checks_s": "s", "quality.jobs": "count",
    "quality.jobs_per_check": "count", "sinks.files_written": "count",
    "sinks.bytes_written": "B", "sinks.bytes_per_input_byte": "B/B",
    "sinks.mean_file_bytes": "B",
    "jvm.peak_rss_mb": "MB",
    "trace.ops_per_s": "1/s", "trace.untraced_ops_per_s": "1/s",
    "trace.overhead_pct": "%",
}


def op_layers(b: Bench, op: Op, groups: dict, input_bytes: int) -> dict[str, float]:
    """Per-layer figures of one traced op from its job groups' records."""
    from eventlog import GroupRecord

    def rec(suffix: str) -> GroupRecord:
        return groups.get(f"{op.tag}/{suffix}", GroupRecord())

    pipeline = b.workload == PIPELINE_WORKLOAD
    if pipeline:  # every job run_pipeline ran, whichever layer called it
        execute = [g for k, g in groups.items() if k.startswith(f"{op.tag}/")]
        construct = GroupRecord()
    else:
        execute, construct = [rec("execute")], rec("construct")

    def total(attr: str) -> float:
        return sum(getattr(g, attr) for g in execute)

    quality = rec("quality")
    return {
        "queries.construct_s": op.construct_s,
        "queries.construct_self_s": op.construct_s - construct.jobs_wall_s(),
        "queries.construct_jobs": construct.jobs,
        "queries.construct_stages": construct.stages,
        "queries.construct_tasks": construct.tasks,
        "execute.wall_s": op.execute_s,
        "execute.jobs": total("jobs"),
        "execute.stages": total("stages"),
        "execute.tasks": total("tasks"),
        "execute.executor_run_s": total("executor_run_ms") / 1e3,
        "execute.executor_cpu_s": total("executor_cpu_ns") / 1e9,
        "execute.gc_s": total("gc_ms") / 1e3,
        "execute.scheduler_gap_s": total("scheduler_gap_ms") / 1e3,
        "execute.shuffle_read_bytes": total("shuffle_read_bytes"),
        "execute.shuffle_write_bytes": total("shuffle_write_bytes"),
        "execute.spill_bytes": total("spill_bytes"),
        "execute.input_bytes": total("input_bytes"),
        "execute.failed_tasks": total("failed_tasks"),
        "pipeline.staging_s": op.layer_s.get("staging", 0.0),
        "pipeline.dims_s": op.layer_s.get("dims", 0.0),
        "pipeline.analytics_s": op.layer_s.get("analytics", 0.0),
        "pipeline.jobs": total("jobs") if pipeline else 0,
        "quality.checks_s": op.layer_s.get("quality", 0.0),
        "quality.jobs": quality.jobs,
        "quality.jobs_per_check": quality.jobs / op.checks if op.checks else 0.0,
        "sinks.files_written": op.files_written,
        "sinks.bytes_written": op.bytes_written,
        "sinks.bytes_per_input_byte": op.bytes_written / input_bytes,
        "sinks.mean_file_bytes": (
            op.bytes_written / op.files_written if op.files_written else 0.0
        ),
    }


def per_layer(
    b: Bench, log_dir: Path, peak_rss_mb: float
) -> tuple[dict[str, tuple[float, str]], list]:
    """The per-layer metrics, and each traced op's own figures."""
    from eventlog import GroupRecord, fold
    from inputs import PIPELINE_INPUTS, input_bytes

    groups = fold(log_dir)
    base = input_bytes(Path(b.data_dir), PIPELINE_INPUTS)
    traced = [op for op in b.ops if op.phase == "traced"]
    per_op = [op_layers(b, op, groups, base) for op in traced]
    values = {
        "session.start_s": statistics.median(s for s, _ in b.setups),
        "tables.load_s": statistics.median(t for _, t in b.setups),
        "tables.jobs": groups.get(f"setup{SETUP_REPS}/tables", GroupRecord()).jobs,
    }
    for key in per_op[0]:
        values[key] = sum(f[key] for f in per_op) / len(per_op)
    values["jvm.peak_rss_mb"] = peak_rss_mb
    traced_rate = _ops_per_s(traced)
    untraced_rate = _ops_per_s(
        [op for op in b.ops if op.phase in ("measured", "untraced")])
    values["trace.ops_per_s"] = traced_rate
    values["trace.untraced_ops_per_s"] = untraced_rate
    values["trace.overhead_pct"] = 100.0 * (1 - traced_rate / untraced_rate)
    metrics = {k: (values[k], unit) for k, unit in LAYER_UNITS.items()}
    return metrics, [{"name": op.name, **f} for op, f in zip(traced, per_op)]


def count_report(b: Bench) -> dict:
    """Jobs, stages and tasks per op and layer call, and whether each count
    repeated exactly in every pass of this run and in earlier untraced runs
    of this workload in this checkout."""
    seen: dict[str, set] = {}
    for op in b.ops:
        if op.error is None:
            for group, triple in op.counts.items():
                seen.setdefault(f"{op.name}:{group}", set()).add(tuple(triple))
    history: dict[str, set] = {k: set(v) for k, v in seen.items()}
    for path in sorted(b.work.glob("detail-trace0-*.json")):
        for key, values in json.loads(path.read_text()).get("counts", {}).items():
            history.setdefault(key, set()).update(tuple(v) for v in values)
    return {
        "counts": {k: sorted(v) for k, v in seen.items()},
        "varies_in_run": sorted(k for k, v in seen.items() if len(v) > 1),
        "varies_across_runs": sorted(k for k, v in history.items() if len(v) > 1),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted([*QUERY_WORKLOADS, PIPELINE_WORKLOAD]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [str(ROOT), str(BENCH)]
    try:
        from market_flow_spark.plans.pipeline import run_pipeline
        from market_flow_spark.queries_all import ORACLES, QUERIES
        from market_flow_spark.session import get_spark
        from market_flow_spark.tables import clear_table_cache, load_tables
        from tests import oracle_utils  # noqa: F401  (the compare the check uses)
    except ImportError as e:
        print(f"perfbench: the library is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import inputs

    work = OUT / args.workload
    tmp = work / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    # keep the scratch files of Python, the Spark launcher and the JVM in
    # the checkout
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None

    needed = sorted({n for ops in QUERY_WORKLOADS.values() for n in ops}
                    | set(inputs.PIPELINE_TWINS.values()))
    inputs_dir = inputs.ensure(CACHE, {n: ORACLES[n] for n in needed})

    lib = SimpleNamespace(  # the library entry points the benchmark calls
        get_spark=get_spark, load_tables=load_tables,
        clear_table_cache=clear_table_cache, QUERIES=QUERIES,
        run_pipeline=run_pipeline,
    )

    b = Bench(args.workload, args.seed, args.seconds, lib, inputs_dir)
    log_dir = work / "eventlog"
    try:
        for k in range(SETUP_REPS):
            if k:
                b.stop()
            b.start()
        frames = b.one_pass("cold")
        b.loop("measured")
        b.check_queries(frames)
        del frames
        if args.trace:
            b.stop()
            shutil.rmtree(log_dir, ignore_errors=True)
            log_dir.mkdir(parents=True)
            b.start(event_log=log_dir)
            b.loop("traced")
            # untraced again, so the two untraced loops bracket the traced
            # one in JIT warmth
            b.stop()
            b.start()
            b.loop("untraced")
        peak_rss = b.peak_rss_mb()
    finally:
        b.shutdown()
    b.mark_wrong()

    failed = [op for op in b.ops if op.error is not None]
    for op in failed[:5]:
        print(f"FAILED {op.name} ({op.phase}):\n{op.error}", file=sys.stderr)
    traced_ops: list = []
    if args.trace:
        metrics, traced_ops = per_layer(b, log_dir, peak_rss)
    else:
        metrics = end_to_end(b)
    measured = [op.latency_s for op in b.ops if op.phase == "measured"]
    tail = _tail(measured)
    report = count_report(b)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": _cores(), "driver_memory": DRIVER_MEMORY,
        "ops": [{k: v for k, v in op.__dict__.items() if k != "error"} | {
            "failed": op.error is not None} for op in b.ops],
        "setups": b.setups, "peak_rss_mb": peak_rss,
        "op_p50": statistics.median(measured), "op_tail": tail,
        "traced_ops": traced_ops, **report,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    (work / f"detail-trace{args.trace}-seed{args.seed}-{os.getpid()}.json").write_text(
        json.dumps(detail, indent=1))

    print(f"peak_rss_mb: {peak_rss:.1f} MB (driver JVM VmHWM)")
    n = len(measured)
    print(f"op_p50_s: {statistics.median(measured):.4f} s of {n} measured ops")
    if tail:
        print(f"op_tail_s: p{tail[0]:.1f} of {n} measured ops = {tail[1]:.4f} s")
    else:
        print(f"op_tail_s: undefined, {n} measured ops (needs 11)")
    print(f"counts varying within the run: {report['varies_in_run'] or 'none'}")
    print(f"counts varying across runs: {report['varies_across_runs'] or 'none'}")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(b.ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
