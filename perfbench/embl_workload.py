"""EMBL build workloads: gzipped EMBL files -> ``ena.tab`` via ``cli.main``.

One operation is one ``cli.main`` build to files on disk.  Every build
reads its own hard-linked copy of the corpus under a new root, so no
build can reuse the segmentation an earlier build left persisted
(``build_all`` never unpersists it); that leak shows instead as
``session.cached_mb``, the storage memory in use after each build, which
the benchmark never clears.

A traced run adds the per-layer numbers: a noop write of the DataFrame
each public module function returns (self time = that write's time
minus the time of the writes of its inputs), one harvested ``cli.main``
build split by SQL execution into the ``ena.tab`` write and the rejects
writes, and alternating untraced and traced builds for the tracing
overhead.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import replace
from pathlib import Path
from statistics import median

import duckdb

import embl_corpus
import probe
from probe import LAYER_MEASURES, ActionStats, StageProbe, Tracer, noop

# layer -> the layers whose outputs are its inputs
LAYER_INPUTS = {
    "sources.embl": [],
    "segmentation.segment_lines": ["sources.embl"],
    "segmentation.extract_records": ["segmentation.segment_lines"],
    "segmentation.extract_cds_blocks": ["segmentation.segment_lines"],
    "ena_pipeline.parse_loci": ["segmentation.segment_lines"],
    "sources.idmapping": [],
    "ena_pipeline.resolve_uniprot_ids": ["ena_pipeline.parse_loci", "sources.idmapping"],
}
REJECT_REASONS = ["ill_formatted_id", "unknown_topology", "non_fungi_eukaryote"]
SHAPES = {"embl_audit_build": embl_corpus.AUDIT, "embl_bigmap_build": embl_corpus.BIGMAP}
SETUPS = 3  # sessions set up per run; setup_s is their median


def per_layer_metrics(layers: dict[str, ActionStats]) -> dict[str, float]:
    return {
        f"{name}.{m}": getattr(st, m) for name, st in layers.items() for m in LAYER_MEASURES
    }


class DuckYardstick:
    """DuckDB, in this process, scanning the same gz files, extracting
    every protein id and joining it to the distinct idmapping pairs.
    The query reads the file list ``PASSES`` times over, so one query
    does steady throughput work (a few tenths of a second) rather than
    the start-up latency a single 2 MB scan amounts to.  Its match
    count is checked against the generator's."""

    PASSES = 6  # times the query reads the corpus
    REPS = 3  # one sample is the median of this many queries

    def __init__(self, corpus: embl_corpus.Corpus, problems: list[str]):
        files = sorted(str(p) for p in corpus.root.rglob("*.dat.gz")) * self.PASSES
        self.sql = f"""
        WITH lines AS (
          SELECT line FROM read_csv({files!r}, columns={{'line': 'VARCHAR'}},
            delim='\t', quote='', escape='', header=false, auto_detect=false,
            compression='gzip')
        ), pids AS (
          SELECT regexp_extract(line, '^FT\\s+/protein_id="([a-zA-Z0-9\\.]+)"', 1)
            AS foreign_id FROM lines WHERE line LIKE 'FT %/protein_id=%'
        ), mapping AS (
          SELECT DISTINCT foreign_id, uniprot_id FROM read_parquet('{corpus.idmapping}')
        )
        SELECT count(*) FROM pids JOIN mapping USING (foreign_id)
        """
        self.con = duckdb.connect()
        (hits,) = self.con.sql(self.sql).fetchone()
        if hits != corpus.join_hits * self.PASSES:
            problems.append(f"duckdb join hits {hits} != {self.PASSES} x {corpus.join_hits}")
        self.times: list[float] = []

    def sample(self) -> None:
        runs = []
        for _ in range(self.REPS):
            t0 = time.perf_counter()
            self.con.sql(self.sql).fetchone()
            runs.append(time.perf_counter() - t0)
        self.times.append(median(runs))

    def close(self) -> None:
        self.con.close()


class EmblRun:
    LAYER_PREFIXES = (
        "session.", "sources.", "segmentation.", "ena_pipeline.", "sinks.", "cli.", "trace."
    )

    def __init__(self, ctx, workload: str):
        self.ctx = ctx
        self.with_rejects = workload == "embl_audit_build"
        self.shape = SHAPES[workload]
        self.problems = ctx.problems
        self.builds = 0
        self.cached_mb: list[float] = []

    # -- inputs and one build --------------------------------------------
    def prepare(self) -> None:
        n = embl_corpus.check_span_goldens(self.ctx.repo / "tests" / "test_locations.py")
        self.ctx.record["span_goldens_checked"] = n
        self.corpus = embl_corpus.generate(self.ctx.work / "input", self.ctx.seed, self.shape)
        # the set-ups' warm-up builds read a 4-file corpus of the same shape
        self.warm_corpus = embl_corpus.generate(
            self.ctx.work / "warm", self.ctx.seed + 1,
            replace(self.shape, n_files=4, decoy_pairs=self.shape.decoy_pairs // 16),
        )
        self.ctx.record["input_sizes"] = self.corpus.sizes()
        self.ctx.record["warm_up_input_sizes"] = self.warm_corpus.sizes()

    def fresh_copy(self, corpus: embl_corpus.Corpus) -> Path:
        """Hard-linked copy of a corpus under a new root path."""
        self.builds += 1
        dst = self.ctx.work / f"copy{self.builds}"
        shutil.copytree(corpus.root, dst, copy_function=os.link)
        return dst

    def build(self, keep_output: bool = False, warm_up: bool = False) -> bool:
        """One ``cli.main`` build, then its output check (the check only
        reads files; it runs no Spark job)."""
        from ena_database_build_spark import cli

        corpus = self.warm_corpus if warm_up else self.corpus
        root = self.fresh_copy(corpus)
        self.out = self.ctx.work / f"out{self.builds}"
        args = [
            "--ena-paths", str(root),
            "--output-dir", str(self.out / "ena_tab"),
            "--idmapping-parquet", str(corpus.idmapping),
            "--master", self.ctx.master,
        ]
        if self.with_rejects:
            args += ["--rejects-dir", str(self.out / "rejects")]
        cli.main(args)
        problems = embl_corpus.check_build(
            corpus, self.out / "ena_tab", self.out / "rejects" if self.with_rejects else None
        )
        self.problems += problems
        self.cached_mb.append(probe.storage_mb(self.spark))
        if not keep_output:
            shutil.rmtree(self.out)
        shutil.rmtree(root)
        return not problems

    # -- the run ------------------------------------------------------------
    def setup(self) -> list[float]:
        """Set up ``SETUPS`` sessions, each get_spark plus one untimed
        warm-up build of the small corpus; the last session stays up for
        the measured builds.  A traced run harvests the last warm-up as
        the session layer."""
        from ena_database_build_spark.session import get_spark

        times = []
        for k in range(SETUPS):
            if k:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", master=self.ctx.master)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.ctx.spark = self.spark
            if self.ctx.trace and k == SETUPS - 1:
                self.sp = StageProbe(self.spark)
                self.session = self.sp.run("session", lambda: self.build(warm_up=True))
            else:
                self.build(warm_up=True)
            times.append(time.perf_counter() - t0)
        self.jvm = probe.jvm_pid(self.spark)
        return times

    def run(self) -> dict:
        ctx = self.ctx
        with ctx.phase("inputs"):
            self.prepare()
        with ctx.phase("setup"):
            setup = self.setup()
        ctx.record["setup_runs_s"] = setup
        if ctx.trace:
            with ctx.phase("traced"):
                metrics = self.traced(median(setup))
        else:
            duck = DuckYardstick(self.corpus, self.problems)
            with ctx.phase("timed"):
                # a yardstick sample right behind each build, so a
                # slower or faster spell of the host cancels in the ratio
                ops = probe.timed_ops(
                    lambda i: self.build(), ctx.seconds, 3, self.jvm, after=duck.sample
                )
            duck.close()
            ctx.record_ops(ops)
            ctx.record["duckdb_s"] = duck.times
            wall = median(ops.wall)
            metrics = {
                "setup_s": median(setup),
                "wall_s": wall,
                "records_per_s": self.corpus.records / wall,
                "duckdb_ratio": median(w / d for w, d in zip(ops.wall, duck.times)),
                "cpu_s": median(ops.cpu),
                "ok_frac": (ops.attempted - ops.failed) / ops.attempted,
            }
        self.ctx.record["cached_mb_after_each_build"] = self.cached_mb
        return metrics

    # -- traced run -----------------------------------------------------------
    def traced(self, setup_s: float) -> dict:
        tracer = Tracer()
        sp = self.sp
        layers = {"session": self.session}
        layers["session"].s = setup_s
        with tracer.span("layer_pass", "layers"):
            layers.update(self.layer_pass(sp, tracer))
        with tracer.span("sink_build", "sinks"):
            sinks, rejected = self.sink_build(sp, tracer, layers)
        layers.update(sinks)
        with tracer.span("probe.hit_frac", "probe"):
            hit_frac = self.hit_frac()

        untraced, traced = [], []

        def alternate(i: int) -> bool:
            t0 = time.perf_counter()
            if i % 2 == 0:
                ok = self.build()
                untraced.append(time.perf_counter() - t0)
                return ok
            result = []
            with tracer.span("build", f"build{i}"):
                sp.run(f"build{i}", lambda: result.append(self.build()))
            traced.append(time.perf_counter() - t0)
            return result[0]

        self.ctx.record_ops(probe.timed_ops(alternate, self.ctx.seconds, 2, self.jvm))
        self.ctx.record.update(
            spans=tracer.dump(), untraced_build_s=untraced, traced_build_s=traced
        )
        if sp.jobs_started_by_reads:
            self.problems.append(
                f"reading the status stores started {sp.jobs_started_by_reads} Spark jobs"
            )
        m = per_layer_metrics(layers)
        m["sources.embl.gz_mb"] = layers["sources.embl"].input_mb
        m["segmentation.segment_lines.kept_frac"] = layers[
            "segmentation.segment_lines"
        ].rows / max(layers["sources.embl"].rows, 1)
        for reason in REJECT_REASONS:
            m[f"segmentation.extract_records.rejected.{reason}"] = rejected.get(reason, 0)
        m["ena_pipeline.resolve_uniprot_ids.hit_frac"] = hit_frac
        m["sinks.write_ena_tab.out_mb"] = layers["sinks.write_ena_tab"].output_mb
        m["session.cached_mb"] = self.cached_mb[-1]
        m["trace.overhead_s"] = median(traced) - median(untraced)
        return m

    def layer_pass(self, sp: StageProbe, tracer: Tracer) -> dict[str, ActionStats]:
        """Noop write of each layer's output on a fresh copy; ``s`` ends
        as self time and ``self.cumulative`` keeps the raw times."""
        from ena_database_build_spark.operators import segmentation as S
        from ena_database_build_spark.plans import ena_pipeline as P
        from ena_database_build_spark.sources.embl import read_embl_lines
        from ena_database_build_spark.sources.idmapping import read_idmapping_parquet

        root = self.fresh_copy(self.corpus)
        lines = read_embl_lines(self.spark, str(root))
        seg = S.segment_lines(lines)
        self.loci = P.parse_loci(lines, segmented=seg)
        self.idmap = read_idmapping_parquet(self.spark, str(self.corpus.idmapping))
        frames = {
            "sources.embl": lines,
            "segmentation.segment_lines": seg,
            "segmentation.extract_records": S.extract_records(seg),
            "segmentation.extract_cds_blocks": S.extract_cds_blocks(seg),
            "ena_pipeline.parse_loci": self.loci,
            "sources.idmapping": self.idmap,
            "ena_pipeline.resolve_uniprot_ids": P.resolve_uniprot_ids(self.loci, self.idmap),
        }
        out = {}
        for name, df in frames.items():
            with tracer.span(name, "layers"):
                out[name] = sp.run(name, lambda df=df: noop(df))
        self.cumulative = {name: st.s for name, st in out.items()}
        for name, inputs in LAYER_INPUTS.items():
            out[name].s -= sum(self.cumulative[i] for i in inputs)
        return out

    def sink_build(self, sp: StageProbe, tracer: Tracer, layers) -> tuple[dict, dict]:
        """One ``cli.main`` build, split by SQL execution: the first
        writes ``ena.tab`` (self time: minus the resolve layer's
        cumulative time), the others write the rejects, which read the
        segmentation the first one persisted (self time: minus one noop
        scan of that cached segmentation each)."""
        from ena_database_build_spark.operators import segmentation as S
        from ena_database_build_spark.sources.embl import read_embl_lines

        before = set(sp.execution_ids())
        with tracer.span("cli.main", "sinks"):
            sp.run("sinks", lambda: self.build(keep_output=True))
        execs = [e for e in sp.execution_ids() if e not in before]
        sink = sp.execution_stats(execs[:1])
        sink.s -= self.cumulative["ena_pipeline.resolve_uniprot_ids"]
        out = {"sinks.write_ena_tab": sink, "cli.rejects": ActionStats()}
        rejected: dict[str, int] = {}
        if self.with_rejects:
            for line in embl_corpus.read_tab_lines(self.out / "rejects" / "records"):
                reason = line.rsplit("\t", 1)[1]
                rejected[reason] = rejected.get(reason, 0) + 1
            rej = sp.execution_stats(execs[1:])
            # the same root path again, so the plan matches the cached one
            root = self.ctx.work / f"copy{self.builds}"
            shutil.copytree(self.corpus.root, root, copy_function=os.link)
            with tracer.span("cached_segmentation", "sinks"):
                cached = sp.run(
                    "cached_segmentation",
                    lambda: noop(S.segment_lines(read_embl_lines(self.spark, str(root)))),
                )
            rej.s -= cached.s * len(execs[1:])
            out["cli.rejects"] = rej
        shutil.rmtree(self.out)
        return out, rejected

    def hit_frac(self) -> float:
        """Protein ids of the loci with at least one mapping, over the
        ids looked up (one probe job, outside every layer); checked
        against the generator's count."""
        from pyspark.sql import functions as F

        mapped = self.idmap.select("foreign_id").distinct().withColumn("hit", F.lit(1))
        row = (
            self.loci.select(F.explode("protein_ids").alias("foreign_id"))
            .join(mapped, "foreign_id", "left")
            .agg(F.count("*").alias("n"), F.count("hit").alias("hits"))
            .first()
        )
        if (row["n"], row["hits"]) != (self.corpus.lookups, self.corpus.hits):
            self.problems.append(
                f"loci hold {row['n']} protein ids, {row['hits']} mapped; expected "
                f"{self.corpus.lookups}, {self.corpus.hits}"
            )
        return row["hits"] / max(row["n"], 1)
