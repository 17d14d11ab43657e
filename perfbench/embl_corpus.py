"""Seeded EMBL corpora for the benchmark, with their expected outputs.

Every file, record and CDS feature is drawn from ``random.Random(seed)``
and the expected ``ena.tab`` rows and dead-letter entries are derived
from those same draws, never by parsing the text that was written.  The
rules the derivation applies are the pipeline's documented semantics:

* an ID line without ``<n> BP`` rejects its record as
  ``ill_formatted_id``, a topology other than linear/circular as
  ``unknown_topology``, and an ``OC`` line naming Eukaryota without
  `` Fungi`` as ``non_fungi_eukaryote`` (that reason wins);
* a CDS whose location holds no ``x..y`` range is a rejected block and
  takes no locus number; the others are numbered 1.. within the record;
* direction is 0 when the location says ``complement``, else 1;
* the span is min/max of all endpoints on a linear record, and the
  circular gap rule (:func:`resolve_span`) on a circular one;
* a locus whose protein ids have any mapping emits one row per distinct
  (protein id, uniprot id) pair; otherwise one row per distinct
  ``UniProtKB`` xref; otherwise nothing.
"""

from __future__ import annotations

import ast
import gzip
import math
import random
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_AA = b"ACDEFGHIKLMNPQRSTVWY"
# byte -> amino-acid letter, so random bytes become a payload in one call
_AA_TABLE = bytes(_AA[i % len(_AA)] for i in range(256))
_QUAL = "FT                   "

LINEAR, CIRCULAR = 1, 0


def resolve_span(
    ranges: list[tuple[int, int]], chr_struct: int, chr_len: int
) -> tuple[int, int]:
    """Span of a CDS from its ranges (in location-string order).

    Linear: min and max over every endpoint.  Circular: sort ranges by
    start (stable), then the first inner gap strictly larger than the
    wrap-around gap and every earlier inner gap marks the origin
    crossing, and the span runs from the range after it to the range
    before it (so ``end < start``); otherwise first start to last end.
    """
    if chr_struct != CIRCULAR:
        flat = [p for r in ranges for p in r]
        return min(flat), max(flat)
    r = sorted(ranges, key=lambda x: x[0])
    best = (chr_len - r[-1][1]) + (r[0][0] - 1)
    cut = None
    for j in range(len(r) - 1):
        gap = r[j + 1][0] - r[j][1] - 1
        if gap > best:
            best, cut = gap, j
    if cut is None:
        return r[0][0], r[-1][1]
    return r[cut + 1][0], r[cut][1]


def check_span_goldens(test_file: Path) -> int:
    """Run :func:`resolve_span` over the golden ``SPAN_CASES`` of the
    repository's location tests (read as data, not imported) and raise
    on the first disagreement.  Returns the number of cases checked."""
    consts: dict[str, object] = {}
    for node in ast.parse(test_file.read_text()).body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            name = getattr(node.targets[0], "id", None)
            if name in ("LINEAR", "CIRCULAR", "CHR_LEN", "SPAN_CASES"):
                consts[name] = node.value
    env = {
        k: ast.literal_eval(consts[k]) for k in ("LINEAR", "CIRCULAR", "CHR_LEN")
    }
    cases = ast.literal_eval(
        ast.unparse(consts["SPAN_CASES"])
        .replace("LINEAR", str(env["LINEAR"]))
        .replace("CIRCULAR", str(env["CIRCULAR"]))
    )
    assert (env["LINEAR"], env["CIRCULAR"]) == (LINEAR, CIRCULAR)
    for case_id, ranges, struct, expected in cases:
        got = resolve_span(ranges, struct, env["CHR_LEN"])
        if got != tuple(expected):
            raise RuntimeError(
                f"span rule disagrees with golden {case_id}: {got} != {expected}"
            )
    return len(cases)


@dataclass
class Shape:
    """Knobs of one corpus family."""

    n_files: int
    records_median: float  # log-normal median of records per file
    records_sigma: float  # 0 gives every file the median
    records_cap: int
    cds_per_record: tuple[int, int]
    payload_lines: tuple[int, int]  # /translation continuation lines
    pids_per_cds: tuple[int, int]
    maps_per_pid: tuple[int, int]
    decoy_pairs: int  # idmapping pairs whose foreign id is in no file


AUDIT = Shape(
    n_files=64,
    records_median=28,
    records_sigma=0.7,
    records_cap=1200,
    cds_per_record=(1, 5),
    payload_lines=(2, 8),
    pids_per_cds=(1, 1),
    maps_per_pid=(0, 2),
    decoy_pairs=2_000,
)

BIGMAP = Shape(
    n_files=16,
    records_median=40,
    records_sigma=0.0,
    records_cap=40,
    cds_per_record=(15, 30),
    payload_lines=(0, 1),
    pids_per_cds=(2, 4),
    maps_per_pid=(0, 3),
    decoy_pairs=2_000_000,
)


@dataclass
class Corpus:
    root: Path  # directory tree holding the *.dat.gz files
    idmapping: Path  # parquet with foreign_id, uniprot_id
    files: int = 0
    records: int = 0
    lines: int = 0
    gz_bytes: int = 0
    idmapping_pairs: int = 0
    expected_rows: list[str] = field(default_factory=list)  # ena.tab lines
    # (file name, record_idx, reason) of every rejected record
    expected_record_rejects: set[tuple[str, int, str]] = field(default_factory=set)
    # (file name, record_idx, block_idx) of every unparseable CDS block
    expected_block_rejects: set[tuple[str, int, int]] = field(default_factory=set)
    lookups: int = 0  # protein ids of live, parsed loci
    hits: int = 0  # ... of which have at least one mapping
    join_hits: int = 0  # (protein id line, mapping pair) matches, all CDS

    def sizes(self) -> dict[str, int]:
        return {
            "files": self.files,
            "records": self.records,
            "lines": self.lines,
            "gz_bytes": self.gz_bytes,
            "idmapping_pairs": self.idmapping_pairs,
            "expected_rows": len(self.expected_rows),
        }


class _Writer:
    """Draws one corpus and keeps the expected outputs in step."""

    def __init__(self, rng: random.Random, shape: Shape, corpus: Corpus):
        self.rng = rng
        self.shape = shape
        self.c = corpus
        self.pairs: list[tuple[str, str]] = []
        self.mapping: dict[str, list[str]] = {}
        # feature starts so far in the current file: block_idx runs
        # over the whole file, not per record
        self.blocks = 0

    def payload(self, n: int) -> str:
        return self.rng.randbytes(n).translate(_AA_TABLE).decode()

    def location(self, chr_len: int, circular: bool) -> tuple[str, list]:
        """One CDS location string, its ranges in string order, and the
        lines it is written on (long joins wrap onto a second line)."""
        rng = self.rng
        roll = rng.random()
        if circular and roll < 0.15 and chr_len > 400:
            # origin-crossing join on a circular record
            a = rng.randint(chr_len - 150, chr_len - 60)
            b = rng.randint(20, 120)
            ranges = [(a, chr_len), (1, b)]
        elif roll < 0.45:
            a = rng.randint(1, chr_len // 2)
            b = a + rng.randint(10, 99)
            c = rng.randint(b + 1, chr_len - 100)
            d = c + rng.randint(10, 99)
            ranges = [(a, b), (c, d)]
        else:
            a = rng.randint(1, chr_len - 100)
            ranges = [(a, a + rng.randint(10, 99))]
        parts = [f"{s}..{e}" for s, e in ranges]
        if len(ranges) == 1 and rng.random() < 0.05:
            parts = [f"<{ranges[0][0]}..>{ranges[0][1]}"]
        loc = parts[0] if len(parts) == 1 else "join(" + ",".join(parts) + ")"
        if rng.random() < 0.4:
            loc = f"complement({loc})"
        if len(parts) > 1 and rng.random() < 0.3:
            cut = loc.index(",") + 1
            lines = [loc[:cut], loc[cut:]]
        else:
            lines = [loc]
        return loc, ranges, lines

    def record(self, fi: int, ri: int, name: str, out: list[str]):
        """Append record ``ri`` of file ``fi`` to ``out``."""
        rng, shape, c = self.rng, self.shape, self.c
        record_idx = ri + 1  # record_idx counts ID lines, from 1
        rid = f"SYN{fi:03d}{ri:05d}"
        topo_roll = rng.random()
        if topo_roll < 0.01:
            reason = "ill_formatted_id"
            out.append(f"ID   {rid}; SV 1; linear; genomic DNA; WGS; PRO;")
            circular, chr_len = False, 1000
        else:
            chr_len = rng.randint(5_000, 50_000)
            if topo_roll < 0.03:
                topo, reason = "XXX", "unknown_topology"
            else:
                topo, reason = ("circular" if rng.random() < 0.3 else "linear"), None
            circular = topo == "circular"
            out.append(
                f"ID   {rid}; SV 1; {topo}; genomic DNA; WGS; PRO; {chr_len} BP."
            )
        out.append("XX")
        oc_roll = rng.random()
        if oc_roll < 0.05:
            out.append("OC   Eukaryota; Metazoa; Chordata.")
            reason = "non_fungi_eukaryote"
        elif oc_roll < 0.10:
            out.append("OC   Eukaryota; Fungi; Dikarya.")
        else:
            out.append("OC   Bacteria; Pseudomonadota; synthetic lineage.")
        out.append("XX")
        out.append("FH   Key             Location/Qualifiers")
        out.append(f"FT   source          1..{chr_len}")
        out.append('FT                   /mol_type="genomic DNA"')
        if reason is not None:
            c.expected_record_rejects.add((name, record_idx, reason))
        live = reason is None
        chr_struct = CIRCULAR if circular else LINEAR
        self.blocks += 1  # the source feature
        locus = 0
        for ci in range(rng.randint(*shape.cds_per_record)):
            self.blocks += 1
            if rng.random() < 0.05:
                # single-base location: no x..y range, a rejected block
                out.append(f"FT   CDS             {rng.randint(1, chr_len)}")
                out.append(f'{_QUAL}/protein_id="SKIP{fi}x{ri}x{ci}.1"')
                c.expected_block_rejects.add((name, record_idx, self.blocks))
                continue
            loc, ranges, loc_lines = self.location(chr_len, circular)
            out.append(f"FT   CDS             {loc_lines[0]}")
            out.extend(_QUAL + rest for rest in loc_lines[1:])
            out.append(f"{_QUAL}/codon_start=1")
            pids = []
            if rng.random() < 0.8:
                for k in range(rng.randint(*shape.pids_per_cds)):
                    pid = f"P{fi:03d}{ri:05d}{ci:02d}{k}.1"
                    pids.append(pid)
                    out.append(f'{_QUAL}/protein_id="{pid}"')
                    ups = [
                        f"U{pid[1:-2]}{j}"
                        for j in range(rng.randint(*shape.maps_per_pid))
                    ]
                    self.mapping[pid] = ups
                    self.pairs.extend((pid, u) for u in ups)
                    c.join_hits += len(ups)
            xrefs = []
            if rng.random() < 0.5:
                xrefs.append(f"X{fi:03d}{ri:05d}{ci:02d}")
                out.append(f'{_QUAL}/db_xref="UniProtKB/TrEMBL:{xrefs[0]}"')
            n_payload = rng.randint(*shape.payload_lines)
            out.append(f'{_QUAL}/translation="{self.payload(59)}')
            out.extend(_QUAL + self.payload(59) for _ in range(n_payload))
            out.append(f'{_QUAL}MKL"')
            locus += 1
            if not live:
                continue
            mapped = [u for p in pids for u in self.mapping[p]]
            c.lookups += len(pids)
            c.hits += sum(1 for p in pids if self.mapping[p])
            start, end = resolve_span(ranges, chr_struct, chr_len)
            direction = 0 if "complement" in loc else 1
            for uid in mapped or xrefs:
                c.expected_rows.append(
                    f"{rid}\t{uid}\t{locus}\t{chr_struct}\t{direction}\t{start}\t{end}"
                )
        out.append("XX")
        out.append("SQ   Sequence 0 BP; 0 A; 0 C; 0 G; 0 T; 0 other;")
        out.append("//")


def _records_per_file(rng: random.Random, shape: Shape) -> list[int]:
    """Log-normal file sizes taken at evenly spaced quantiles, so every
    seed gets the same sizes (and the same total work) in another order."""
    z = NormalDist()
    n = shape.n_files
    sizes = [
        max(1, min(shape.records_cap, round(
            shape.records_median * math.exp(shape.records_sigma * z.inv_cdf((i + 0.5) / n))
        )))
        for i in range(n)
    ]
    rng.shuffle(sizes)
    return sizes


def generate(out_dir: Path, seed: int, shape: Shape) -> Corpus:
    """Write one corpus and its idmapping parquet under ``out_dir``."""
    rng = random.Random(seed)
    corpus = Corpus(root=out_dir / "ena", idmapping=out_dir / "idmapping.parquet")
    w = _Writer(rng, shape, corpus)
    for fi, n_records in enumerate(_records_per_file(rng, shape)):
        name = f"SYN{fi:03d}.dat.gz"
        path = corpus.root / "wgs" / "public" / f"s{fi % 8:02d}" / name
        path.parent.mkdir(parents=True, exist_ok=True)
        out: list[str] = []
        w.blocks = 0
        for ri in range(n_records):
            w.record(fi, ri, name, out)
        with gzip.open(path, "wt", compresslevel=6) as f:
            f.write("\n".join(out) + "\n")
        corpus.files += 1
        corpus.records += n_records
        corpus.lines += len(out)
        corpus.gz_bytes += path.stat().st_size
    corpus.expected_rows.sort()
    _write_idmapping(corpus, w.pairs, shape, rng.randrange(2**32))
    return corpus


def _write_idmapping(corpus: Corpus, pairs, shape: Shape, seed: int) -> None:
    """Real pairs, a few exact duplicates of them, and decoys whose
    foreign ids look real but occur in no file; rows are shuffled."""
    gen = np.random.default_rng(seed)
    fid = pa.array([p for p, _ in pairs], pa.string())
    uid = pa.array([u for _, u in pairs], pa.string())
    dups = pa.array(gen.integers(0, max(len(pairs), 1), size=len(pairs) // 20))
    ids = pa.array(gen.permutation(shape.decoy_pairs) + 10_000_000)
    text = pc.cast(ids, pa.string())
    fid = pa.concat_arrays(
        [fid, fid.take(dups), pc.binary_join_element_wise("Q", text, ".1", "")]
    )
    uid = pa.concat_arrays(
        [uid, uid.take(dups), pc.binary_join_element_wise("V", text, "")]
    )
    order = pa.array(gen.permutation(len(fid)))
    table = pa.table({"foreign_id": fid.take(order), "uniprot_id": uid.take(order)})
    pq.write_table(table, corpus.idmapping, row_group_size=1 << 18)
    corpus.idmapping_pairs = len(fid)


def read_tab_lines(out_dir: Path) -> list[str]:
    """All lines of the part files of one CSV output directory, sorted."""
    lines: list[str] = []
    for part in out_dir.glob("part-*"):
        lines.extend(part.read_text().splitlines())
    lines.sort()
    return lines


def check_build(corpus: Corpus, out_dir: Path, rejects_dir: Path | None) -> list[str]:
    """Compare one build's files with the expected outputs; returns the
    list of problems (empty when the build is correct)."""
    problems = []
    got = read_tab_lines(out_dir)
    if got != corpus.expected_rows:
        missing = Counter(corpus.expected_rows) - Counter(got)
        extra = Counter(got) - Counter(corpus.expected_rows)
        problems.append(
            f"ena.tab: {len(got)} rows, expected {len(corpus.expected_rows)}; "
            f"missing {sum(missing.values())} e.g. {list(missing)[:2]}, "
            f"extra {sum(extra.values())} e.g. {list(extra)[:2]}"
        )
    if rejects_dir is not None:
        recs = {
            (f.rsplit("/", 1)[-1], int(i), r)
            for f, i, r in (ln.split("\t") for ln in read_tab_lines(rejects_dir / "records"))
        }
        if recs != corpus.expected_record_rejects:
            problems.append(
                f"rejected records: {Counter(r for *_, r in recs)} expected "
                f"{Counter(r for *_, r in corpus.expected_record_rejects)}"
            )
        blocks = {
            (f.rsplit("/", 1)[-1], int(i), int(b))
            for f, i, b, _ in (ln.split("\t") for ln in read_tab_lines(rejects_dir / "blocks"))
        }
        if blocks != corpus.expected_block_rejects:
            problems.append(
                f"rejected blocks: {len(blocks)} expected "
                f"{len(corpus.expected_block_rejects)}"
            )
    return problems
