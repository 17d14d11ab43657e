"""Seeded catalog tables for the ``catalog_headline`` workload.

Writes the ten parquet tables the catalog queries read (TPC-H-like
``region nation customer supplier part orders lineitem`` plus
``events documents embeddings``) with the column names, types and value
ranges of the repository's reference test tables.  Row counts are fixed
by ``fraction`` (1.0 = the sf0.1 sizes: 600k lineitem rows); the seed
only changes the values.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _pick(gen, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[gen.integers(0, len(values), n)], pa.string())


def _cents(gen, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(gen.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), pa.timestamp("us"))


def generate(out_dir: Path, seed: int, fraction: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts per table."""
    gen = np.random.default_rng(seed)
    n = {k: max(1, round(v * fraction)) for k, v in BASE_ROWS.items()}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": gen.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _cents(gen, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(
                gen,
                ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"],
                n["customer"],
            ),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": gen.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _cents(gen, -999.99, 9999.99, n["supplier"]),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    adjectives = "blue old red large hot cold small new".split()
    nouns = "widget gizmo ring gear bolt plate rod anvil".split()
    p_name = [f"{a} {b}" for a in adjectives for b in nouns]
    retail = np.round(900 + (pk % 1000) * 0.1, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(gen, p_name, n["part"]),
            "p_brand": _pick(gen, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
            "p_type": _pick(
                gen, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n["part"]
            ),
            "p_size": gen.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    days = gen.integers(0, 2404, n["orders"])  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": gen.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(gen, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _cents(gen, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _ts(_EPOCH_1995 + days * _DAY_US),
            "o_orderpriority": _pick(
                gen,
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n["orders"],
            ),
        }
    )
    m = n["lineitem"]
    okey = gen.integers(0, n["orders"], m)
    lpart = gen.integers(0, n["part"], m)
    qty = gen.integers(1, 51, m).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": lpart,
            "l_suppkey": gen.integers(0, n["supplier"], m),
            "l_linenumber": gen.integers(1, 8, m).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[lpart] * gen.uniform(0.02, 2.33, m), 2),
            "l_discount": gen.integers(0, 11, m) / 100.0,
            "l_tax": gen.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(gen, ["N", "A", "R"], m),
            "l_linestatus": _pick(gen, ["O", "F"], m),
            "l_shipdate": _ts(
                _EPOCH_1995 + (days[okey] + gen.integers(1, 95, m)) * _DAY_US
            ),
        }
    )
    e = n["events"]
    tables["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _ts(np.sort(_EPOCH_2024 + gen.integers(0, 30 * _DAY_US, e))),
            "user_id": gen.integers(0, max(1, round(1500 * fraction)), e),
            "event_type": _pick(gen, ["signup", "click", "error", "view", "purchase"], e),
            "value": np.round(gen.exponential(50.0, e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in gen.integers(0, 100, e)], pa.string()),
        }
    )
    tables["documents"] = _documents(gen, n["documents"])
    tables["embeddings"] = _embeddings(gen, n["embeddings"])
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def _documents(gen, n: int) -> pa.Table:
    """Word-salad documents: 5% repeat an earlier text plus `` dup``,
    and a handful repeat one verbatim (exact duplicates)."""
    words = np.array(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        roll = gen.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(gen.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(gen.integers(0, i))])
        else:
            texts.append(" ".join(words[gen.integers(0, len(WORDS), int(gen.integers(10, 100)))]))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(gen, ["en", "fr", "es", "zh", "de"], n),
            "source": _pick(gen, [f"src{i}" for i in range(20)], n),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(gen, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around one centre per label (0..9)."""
    labels = gen.integers(0, 10, n)
    centres = gen.normal(0.0, 1.0, (10, dim))
    vecs = centres[labels] + gen.normal(0.0, 0.8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
