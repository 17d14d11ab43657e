"""The ``catalog_headline`` workload: bench.py's 18 headline queries.

One operation is one pass over the 18 queries, each run to a noop sink
from a DataFrame built once (bench.py's protocol), on the seeded tables
of :mod:`catalog_data`.  Before any timing, one pass collects every
result and compares it with its DuckDB oracle by row count, columns and
``tools/check_catalog.value_hash``; that pass also warms the JIT.

``duckdb_ratio`` divides ``wall_s`` by the fastest DuckDB pass over the
oracles in the run: five before the JVM starts and three behind each
timed pass.  The fastest, because a pass is 18 queries of about 15 ms
each, so its time is mostly waiting for threads to be scheduled: from
run to run the median pass varied more than Spark's ``wall_s`` did and
did not move with it, while the JVM's busy JIT compiler threads slowed
passes taken between Spark passes by up to 80%.
"""

from __future__ import annotations

import time
from statistics import median

import duckdb

import catalog_data
import probe
from probe import LAYER_MEASURES, ActionStats, StageProbe, Tracer, noop

FRACTION = 0.02  # table sizes as a share of sf0.1 (12k lineitem rows)
SETUPS = 5  # a set-up is cheap here, and one alone is noisy
DUCK_PASSES = 5  # DuckDB passes over the oracles before the JVM starts


class CatalogRun:
    LAYER_PREFIXES = ("catalog.", "session.", "trace.")

    def __init__(self, ctx, workload: str):
        self.ctx = ctx
        self.problems = ctx.problems

    def prepare(self) -> None:
        from bench import HEADLINE
        from ena_database_build_spark.plans.catalog import TABLES

        self.queries = HEADLINE
        self.dir = self.ctx.work / "tables"
        rows = catalog_data.generate(self.dir, self.ctx.seed, FRACTION)
        self.input_rows = sum(rows.values())
        self.ctx.record["input_sizes"] = rows
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        self.duck = [self.duckdb_seconds() for _ in range(DUCK_PASSES)]

    def setup(self) -> list[float]:
        """``SETUPS`` sessions, each get_spark plus bench.py's warm-up
        scan; a traced run harvests the last warm-up as the session
        layer."""
        from ena_database_build_spark.plans.catalog import CATALOG
        from ena_database_build_spark.session import get_spark

        nproc = self.ctx.record["nproc"]
        times = []
        for k in range(SETUPS):
            if k:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(
                "perfbench", master=self.ctx.master, shuffle_partitions=min(nproc, 8)
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.ctx.spark = self.spark
            scan = CATALOG["s3_scan_projection"].spark(self.spark, str(self.dir))
            if self.ctx.trace and k == SETUPS - 1:
                self.sp = StageProbe(self.spark)
                self.session = self.sp.run("session", lambda: noop(scan))
            else:
                noop(scan)
            times.append(time.perf_counter() - t0)
        self.jvm = probe.jvm_pid(self.spark)
        return times

    def check(self) -> None:
        """Collect each query once and compare it with its oracle."""
        from ena_database_build_spark.plans.catalog import CATALOG
        from tools.check_catalog import canon, value_hash

        self.frames = {}
        result_rows = {}
        for q in self.queries:
            self.frames[q] = CATALOG[q].spark(self.spark, str(self.dir))
            got = canon(self.frames[q].toPandas())
            want = canon(self.con.sql(CATALOG[q].oracle).df())
            result_rows[q] = len(got)
            if list(got.columns) != list(want.columns):
                self.problems.append(f"{q}: columns {list(got.columns)} vs {list(want.columns)}")
            elif len(got) != len(want) or value_hash(got) != value_hash(want):
                self.problems.append(f"{q}: {len(got)} rows differ from the oracle's {len(want)}")
        self.ctx.record["result_rows"] = result_rows

    def duckdb_seconds(self) -> float:
        """DuckDB time of a pass over the 18 oracles."""
        from ena_database_build_spark.plans.catalog import CATALOG

        t0 = time.perf_counter()
        for q in self.queries:
            self.con.sql(CATALOG[q].oracle).fetchall()
        return time.perf_counter() - t0

    def run(self) -> dict:
        ctx = self.ctx
        with ctx.phase("inputs"):
            self.prepare()
        with ctx.phase("setup"):
            setup = self.setup()
        ctx.record["setup_runs_s"] = setup
        with ctx.phase("check"):
            self.check()
        if ctx.trace:
            with ctx.phase("traced"):
                return self.traced(median(setup))
        per_query: dict[str, list[float]] = {q: [] for q in self.queries}
        cpu_query: dict[str, list[float]] = {q: [] for q in self.queries}

        def one_pass(i: int) -> bool:
            for q, df in self.frames.items():
                c0, t0 = probe.cpu_seconds(self.jvm), time.perf_counter()
                noop(df)
                per_query[q].append(time.perf_counter() - t0)
                cpu_query[q].append(probe.cpu_seconds(self.jvm) - c0)
            return True

        with ctx.phase("timed"):
            ops = probe.timed_ops(
                one_pass, ctx.seconds, 2, self.jvm,
                after=lambda: self.duck.extend(self.duckdb_seconds() for _ in range(3)),
            )
        self.con.close()
        ctx.record_ops(ops)
        ctx.record.update(duckdb_s=self.duck, query_s=per_query, query_cpu_s=cpu_query)
        # a pass is the sum of each query's median, so a slow spell
        # that hits a few queries of one pass drops out
        wall = sum(median(v) for v in per_query.values())
        return {
            "setup_s": median(setup),
            "wall_s": wall,
            "records_per_s": self.input_rows / wall,
            "duckdb_ratio": wall / min(self.duck),
            "cpu_s": sum(median(v) for v in cpu_query.values()),
            "ok_frac": (ops.attempted - ops.failed) / ops.attempted,
        }

    def traced(self, setup_s: float) -> dict:
        """Alternating untraced and traced passes; each traced query
        runs in a span under its own job group and is harvested."""
        self.con.close()
        tracer, sp = Tracer(), self.sp
        self.session.s = setup_s
        stats: dict[str, list[ActionStats]] = {q: [] for q in self.queries}
        untraced, traced = [], []

        def one_pass(i: int) -> bool:
            t0 = time.perf_counter()
            if i % 2 == 0:
                for df in self.frames.values():
                    noop(df)
                untraced.append(time.perf_counter() - t0)
                return True
            with tracer.span("pass", f"pass{i}"):
                for q, df in self.frames.items():
                    with tracer.span(f"catalog.{q}", f"pass{i}"):
                        stats[q].append(sp.run(f"catalog.{q}.{i}", lambda df=df: noop(df)))
            traced.append(time.perf_counter() - t0)
            return True

        self.ctx.record_ops(probe.timed_ops(one_pass, self.ctx.seconds, 2, self.jvm))
        if sp.jobs_started_by_reads:
            self.problems.append(
                f"reading the status stores started {sp.jobs_started_by_reads} Spark jobs"
            )
        self.ctx.record.update(spans=tracer.dump(), untraced_pass_s=untraced, traced_pass_s=traced)
        m: dict[str, float] = {}
        for q, runs in stats.items():
            last = runs[-1]
            m[f"catalog.{q}.s"] = median([r.s for r in runs])
            m[f"catalog.{q}.shuffle_mb"] = last.shuffle_mb
            m[f"catalog.{q}.tasks"] = last.tasks
        lasts = [runs[-1] for runs in stats.values()]
        m["catalog.all.rows"] = sum(r.rows for r in lasts)
        m["catalog.all.spill_mb"] = sum(r.spill_mb for r in lasts)
        m["catalog.all.task_skew"] = max(r.task_skew for r in lasts)
        for measure in LAYER_MEASURES:
            m[f"session.{measure}"] = getattr(self.session, measure)
        m["session.cached_mb"] = probe.storage_mb(self.spark)
        m["trace.overhead_s"] = median(traced) - median(untraced)
        return m
