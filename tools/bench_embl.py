"""Head-to-head EMBL pipeline throughput: this engine vs the reference.

Generates a deterministic synthetic corpus of gzipped EMBL flat files,
then runs (a) the reference implementation
(/root/reference/ena_build/parse_embl.py, single process, DB stubbed —
exactly its per-file loop) and (b) this engine's Spark pipeline over
the same files and idmapping, verifying both emit identical row
multisets.  Prints one JSON line with wall seconds and speedup.

Usage: python tools/bench_embl.py [n_files] [records_per_file]
"""

from __future__ import annotations

import gzip
import json
import random
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, ".")

N_FILES = 64
N_RECORDS = 100


def gen_corpus(root: Path, seed: int | None = None) -> list[tuple[str, str]]:
    """Deterministic corpus + idmapping pairs (seed via arg or
    $EMBL_BENCH_SEED, default 42)."""
    import os

    if seed is None:
        seed = int(os.environ.get("EMBL_BENCH_SEED", "42"))
    rng = random.Random(seed)
    pairs = []
    for fi in range(N_FILES):
        lines = []
        for ri in range(N_RECORDS):
            rid = f"SYN{fi:03d}{ri:05d}"
            circular = rng.random() < 0.3
            # exercise the reference's dead-letter branches
            topo_roll = rng.random()
            if topo_roll < 0.02:
                topo = "XXX"  # unknown topology -> record dropped
            elif topo_roll < 0.03:
                topo = "linear"
                # ill-formatted ID (no BP length) -> record dropped
                lines.append(f"ID   {rid}; SV 1; linear; genomic DNA; WGS; PRO;")
                lines.append("OC   Bacteria; lineage.")
                lines.append("FT   CDS             1..50")
                lines.append('FT                   /protein_id="DEAD.1"')
                continue
            else:
                topo = "circular" if circular else "linear"
            chr_len = rng.randint(5_000, 50_000)
            lines.append(
                f"ID   {rid}; SV 1; {topo}; genomic DNA; WGS; PRO; {chr_len} BP."
            )
            lines.append("XX")
            oc_roll = rng.random()
            if oc_roll < 0.05:
                lines.append("OC   Eukaryota; Metazoa; Chordata.")  # dropped
            elif oc_roll < 0.10:
                lines.append("OC   Eukaryota; Fungi; Dikarya.")  # kept
            else:
                lines.append("OC   Bacteria; Pseudomonadota; synthetic lineage.")
            lines.append(f"FT   source          1..{chr_len}")
            if rng.random() < 0.05:
                # unparseable single-base CDS -> dropped, no ordinal
                lines.append("FT   CDS             467")
                lines.append('FT                   /protein_id="SKIP.1"')
            for ci in range(rng.randint(1, 5)):
                a = rng.randint(1, chr_len - 100)
                b = a + rng.randint(10, 99)
                if rng.random() < 0.3:
                    c = rng.randint(1, chr_len - 100)
                    d = c + rng.randint(10, 99)
                    loc = f"join({a}..{b},{c}..{d})"
                else:
                    loc = f"{a}..{b}"
                if rng.random() < 0.4:
                    loc = f"complement({loc})"
                lines.append(f"FT   CDS             {loc}")
                lines.append('FT                   /codon_start=1')
                pid = f"P{fi:03d}{ri:04d}{ci}.1"
                if rng.random() < 0.8:
                    lines.append(f'FT                   /protein_id="{pid}"')
                    for j in range(rng.randint(0, 2)):
                        pairs.append((pid, f"U{pid[1:-2]}{j}"))
                if rng.random() < 0.5:
                    lines.append(
                        f'FT                   /db_xref="UniProtKB/TrEMBL:X{pid[1:-2]}"'
                    )
                # realistic multi-line /translation payload (real EMBL
                # wraps protein sequences at ~59 chars over many lines)
                aa = "".join(rng.choice("ACDEFGHIKLMNPQRSTVWY") for _ in range(59))
                lines.append(f'FT                   /translation="{aa}')
                for _ in range(rng.randint(2, 8)):
                    aa = "".join(
                        rng.choice("ACDEFGHIKLMNPQRSTVWY") for _ in range(59)
                    )
                    lines.append(f"FT                   {aa}")
                lines.append('FT                   MKL"')
        p = root / "wgs" / "public" / f"s{fi:02d}" / f"SYN{fi:03d}.dat.gz"
        p.parent.mkdir(parents=True, exist_ok=True)
        with gzip.open(p, "wt") as f:
            f.write("\n".join(lines) + "\n")
    return pairs


class StubMapper:
    def __init__(self, pairs):
        self.table = defaultdict(set)
        for k, v in pairs:
            self.table[k].add(v)

    def reverse_mapping(self, ids):
        mapping = {i: self.table[i] for i in ids if i in self.table}
        return mapping, [i for i in ids if i not in self.table]


def run_reference(root: Path, pairs) -> tuple[float, list]:
    sys.path.insert(0, "/root/reference/ena_build")
    import parse_embl  # noqa: PLC0415

    db = StubMapper(pairs)
    rows = []
    with tempfile.TemporaryDirectory() as tmp:
        st = time.perf_counter()
        for i, f in enumerate(sorted(root.rglob("*.dat.gz"))):
            out = Path(tmp) / f"{i}.tab"
            parse_embl.process_file(str(f), db, str(out))
            if out.exists():
                rows.extend(out.read_text().splitlines())
        secs = time.perf_counter() - st
    return secs, sorted(rows)


def run_spark(root: Path, pairs) -> tuple[float, list]:
    from ena_database_build_spark.plans.ena_pipeline import build_ena_tab
    from ena_database_build_spark.session import get_spark
    from ena_database_build_spark.sources.embl import read_embl_records

    spark = get_spark("embl-bench")
    spark.sparkContext.setLogLevel("ERROR")
    idmap = spark.createDataFrame(
        pairs, "foreign_id string, uniprot_id string"
    ).cache()
    idmap.count()

    def build(paths: str):
        return build_ena_tab(
            read_embl_records(spark, paths), idmap, broadcast_mapping=True
        ).drop("file")

    # JIT/codegen warm-up on one shard only — the timed run below
    # builds FRESH DataFrames so no data is cached between runs
    one_shard = str(sorted((root / "wgs" / "public").iterdir())[0])
    build(one_shard).write.format("noop").mode("overwrite").save()

    with tempfile.TemporaryDirectory() as outdir:
        out_path = f"{outdir}/ena_tab"
        tab = build(str(root))
        st = time.perf_counter()
        tab.write.mode("overwrite").option("sep", "\t").csv(out_path)
        secs = time.perf_counter() - st
        rows = []
        for f in Path(out_path).glob("*.csv"):
            rows.extend(f.read_text().splitlines())
    return secs, sorted(rows)


def main() -> None:
    global N_FILES, N_RECORDS
    if len(sys.argv) > 1:
        N_FILES = int(sys.argv[1])
    if len(sys.argv) > 2:
        N_RECORDS = int(sys.argv[2])
    with tempfile.TemporaryDirectory() as d:
        root = Path(d)
        pairs = gen_corpus(root)
        import os

        load_before_ref = round(os.getloadavg()[0], 1)
        ref_secs, ref_rows = run_reference(root, pairs)
        load_before_spark = round(os.getloadavg()[0], 1)
        spark_secs, spark_rows = run_spark(root, pairs)
        match = ref_rows == spark_rows
        print(
            json.dumps(
                {
                    "n_files": N_FILES,
                    "records_per_file": N_RECORDS,
                    "rows": len(spark_rows),
                    "rows_match_reference": match,
                    "reference_sec": round(ref_secs, 2),
                    "spark_sec": round(spark_secs, 2),
                    "speedup": round(ref_secs / spark_secs, 2),
                    # external load skews a 32-way engine far more than
                    # the single-core reference loop — interpret with
                    # these (sampled BEFORE each phase; the end-of-run
                    # value would mostly measure our own threads)
                    "load_before_reference": load_before_ref,
                    "load_before_spark": load_before_spark,
                }
            )
        )
        if not match:
            only_ref = set(ref_rows) - set(spark_rows)
            only_spark = set(spark_rows) - set(ref_rows)
            print("only_ref:", list(only_ref)[:3])
            print("only_spark:", list(only_spark)[:3])
            sys.exit(1)


if __name__ == "__main__":
    main()
