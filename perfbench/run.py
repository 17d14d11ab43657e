"""Benchmark of the ENA build engine, end to end and per layer.

    python3 perfbench/run.py --workload embl_audit_build --seed 1 \\
        --seconds 15 --trace 0

makes the workload's inputs from ``--seed`` under ``.perfbench_work/``
in the current directory (the repository root), sets up the engine in
this process on ``local[<nproc>]``, runs the workload's operation back
to back for ``--seconds``, checks every output, and prints as its last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones.  Each run also writes a JSON record
(metrics, host facts, Spark conf, seed, input sizes, spans) to
``perfbench/runs/``.  ``--workload all`` runs every BENCHMARK.json
workload in its own process and prints a metric table.

Exit status: 0 when every output was correct, 1 on any mismatch, 2
when the command was not started from a repository checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, suppress
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

WORKLOADS = ["embl_audit_build", "catalog_headline", "embl_bigmap_build"]
NPROC = len(os.sched_getaffinity(0))  # what nproc reports


@dataclass
class RunContext:
    repo: Path
    work: Path
    seed: int
    seconds: float
    trace: bool
    master: str
    record: dict = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    spark: object = None

    def record_ops(self, ops) -> None:
        """Keep the per-operation times of the measured loop."""
        self.record["op_wall_s"] = ops.wall
        self.record["op_cpu_s"] = ops.cpu
        self.record["op_jit_s"] = ops.jit
        self.attempted, self.failed = ops.attempted, ops.failed

    @contextmanager
    def phase(self, name: str):
        """Record how long one phase of the run took."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.record.setdefault("phase_s", {})[name] = time.perf_counter() - t0


def spec() -> dict:
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def isolate(work: Path) -> None:
    """Point every scratch directory of Spark, the JVM and Python at
    ``work`` before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = str(work / "warehouse")
    # JIT compiler threads that never exit, so probe.jit_seconds sees
    # all the CPU compiling takes
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)


def record_name(workload: str, args, pid: int) -> str:
    return f"{workload}-seed{args.seed}-trace{args.trace}-{pid}.json"


def run_workload(args) -> int:
    repo = Path.cwd()
    if not (repo / "ena_database_build_spark").is_dir() or not (repo / "tests").is_dir():
        print(f"{repo} holds no ena_database_build_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(repo))
    work = repo / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    isolate(work)
    ctx = RunContext(
        repo=repo,
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        master=f"local[{NPROC}]",
    )
    ctx.record.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        nproc=NPROC,
        loadavg_1m_start=os.getloadavg()[0],
        started=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    )
    metrics: dict[str, float] = {}
    if args.workload == "catalog_headline":
        from catalog_workload import CatalogRun as Run
    else:
        from embl_workload import EmblRun as Run
    try:
        metrics = Run(ctx, args.workload).run()
    except Exception:  # noqa: BLE001 — report the failure, then exit non-zero
        ctx.problems.append(traceback.format_exc())
    finally:
        if ctx.spark is not None:
            import pyspark

            import probe

            ctx.record["pyspark"] = pyspark.__version__
            ctx.record["spark_conf"] = dict(ctx.spark.sparkContext.getConf().getAll())
            ctx.record["peak_rss_mb"] = probe.peak_rss_mb(probe.jvm_pid(ctx.spark))
            if ctx.trace:
                metrics["session.peak_rss_mb"] = ctx.record["peak_rss_mb"]
            probe.stop_jvm(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        with suppress(OSError):  # still holds another run's directory
            work.parent.rmdir()
    ctx.record["loadavg_1m_end"] = os.getloadavg()[0]
    ctx.record["problems"] = ctx.problems
    ctx.record["metrics"] = metrics
    kind = "per_layer" if ctx.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec()[kind]}
    if ctx.trace:
        for name in units:
            if name not in metrics and not name.startswith(Run.LAYER_PREFIXES):
                metrics[name] = 0.0  # a layer this workload never enters
    missing = sorted(set(units) - set(metrics))
    if not ctx.problems and missing:
        ctx.problems.append(f"metrics not measured: {missing}")
    runs = HERE / "runs"
    runs.mkdir(exist_ok=True)
    name = record_name(args.workload, args, os.getpid())
    (runs / name).write_text(json.dumps(ctx.record, indent=1, default=str))
    for p in ctx.problems:
        print("PROBLEM:", p, file=sys.stderr)
    if ctx.problems:
        return 1
    print(json.dumps({
        "correct": True,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every BENCHMARK.json workload in a process of its own; prints a
    metric table, then one JSON line that sums them up."""
    names = [w["name"] for w in spec()["workloads"]]
    merged: dict[str, dict] = {}
    correct, attempted, failed = True, 0, 0
    for name in names:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
            out, _ = proc.communicate()
        if proc.returncode != 0:
            print(f"{name}: FAILED (exit {proc.returncode})")
            correct = False
            continue
        res = json.loads(out.strip().splitlines()[-1])
        record = json.loads((HERE / "runs" / record_name(name, args, proc.pid)).read_text())
        attempted += res["attempted"]
        failed += res["failed"]
        print(f"{name}: failed_frac {res['failed'] / res['attempted']:.4g} "
              f"({res['failed']} of {res['attempted']})")
        print(f"{name}: peak_rss_mb {record['peak_rss_mb']:.6g} MB")
        for metric, v in res["metrics"].items():
            print(f"{name}: {metric} {v['value']:.6g} {v['unit']}")
            merged[f"{name}.{metric}"] = v
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": merged}))
    return 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
