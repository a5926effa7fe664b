"""Benchmark inputs: the tables, the stored oracle results and the expected
pipeline row counts, built once per checkout into ``perfbench/.cache``.

The tables follow the schema and value domains of the library's test
tables (TESTDATA.md, FIXTURES.md §8): a TPC-H-ish star schema, an
``events`` stream whose ``ts`` is stored as TIMESTAMP(NANOS), a small
text corpus with planted near-duplicates and unit-norm embeddings. They
are generated from a fixed seed, so every run of every workload reads the
same bytes; the run's ``--seed`` only orders the ops.

The DuckDB oracle of every benchmarked query is evaluated once here and
stored as a table in ``oracles.duckdb``; a run compares its Spark result
against ``SELECT * FROM <stored table>`` with ``tests/oracle_utils.py``
unchanged, which is cheaper than re-running the oracle SQL on every run.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# lineitem rows = 6M * SF, as in TPC-H; the corpus tables have a floor of
# 500 rows, as the library's sf0.01 test tables do
SF = 0.01

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# tables run_pipeline reads; their bytes are the base of the write
# amplification ratio
PIPELINE_INPUTS = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events",
]

# run_pipeline output table -> registry query that builds the same rows
PIPELINE_TWINS = {
    "stg_monthly_events": "monthly_event_stats",
    "dim_product": "dim_product",
    "dim_date": "dim_date",
    "dim_country": "dim_country_merged",
    "fact_transactions": "fact_transactions",
    "flagship_wide": "flagship_wide",
}

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def generate_tables(sf: float = SF, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every input table, deterministic in (sf, seed)."""
    rng = np.random.default_rng(seed)
    n = _table_sizes(sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, k),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k
        ),
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, k),
    })
    k = n["part"]
    adjectives = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    t["part"] = pa.table({
        "p_partkey": pa.array(range(k), pa.int64()),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, k), rng.integers(0, 8, k))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": _pick(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k
        ),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(k)],
    })
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000, 500000, k),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", k),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k
        ),
    })
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, k),
        "l_discount": np.round(rng.integers(0, 11, k) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, k) / 100, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", k),
    })
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "ns")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**9, k))
    t["events"] = pa.table({
        "event_id": pa.array(range(k), pa.int64()),
        # microsecond values in a nanosecond column, as the test tables
        # store them (load_table truncates nanos to micros)
        "ts": pa.array(start + (offsets // 1000 * 1000).astype("timedelta64[ns]"),
                       pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n["users"], k), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        # one doc in twenty repeats an earlier doc with a trailing " dup"
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    langs = ["en", "de", "es", "fr", "zh"]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(k), pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in rng.choice(5, k, p=[0.42] + [0.145] * 4)],
        "source": [f"src{i}" for i in rng.integers(0, 20, k)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    k = n["embeddings"]
    vecs = rng.standard_normal((k, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })
    return t


def _fingerprint(oracles: dict[str, str]) -> str:
    h = hashlib.sha256(Path(__file__).read_bytes())
    h.update(json.dumps(oracles, sort_keys=True).encode())
    return h.hexdigest()[:16]


def _pipeline_expected_rows(con, oracles: dict[str, str]) -> dict[str, int]:
    """Rows each run_pipeline output must hold: the row count of the
    registry oracle that builds the same table, and for the staging join
    (no registry twin) the lineitem ⋈ orders count."""
    def rows(sql: str) -> int:
        return con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]

    expected = {table: rows(oracles[q]) for table, q in PIPELINE_TWINS.items()}
    expected["stg_transactions"] = rows(
        "SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    )
    return expected


def ensure(cache_root: Path, oracles: dict[str, str]) -> Path:
    """Build the inputs under ``cache_root`` unless an identical build is
    there already; return its directory. ``oracles`` maps each benchmarked
    query to its DuckDB SQL."""
    import duckdb

    out = cache_root / _fingerprint(oracles)
    if (out / "expected.json").exists():
        return out
    tmp = cache_root / f"{out.name}.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "data").mkdir(parents=True)
    for name, table in generate_tables().items():
        pq.write_table(table, tmp / "data" / f"{name}.parquet")
    con = duckdb.connect(str(tmp / "oracles.duckdb"))
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{tmp / 'data' / name}.parquet'"
        )
    for name, sql in sorted(oracles.items()):
        con.execute(f'CREATE TABLE "oracle_{name}" AS {sql}')
    expected = _pipeline_expected_rows(con, oracles)
    for name in TABLES:  # the views name the partial path
        con.execute(f"DROP VIEW {name}")
    con.close()
    (tmp / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True))
    if out.exists():
        shutil.rmtree(out)
    tmp.rename(out)
    return out


def input_bytes(data_dir: Path, names: list[str]) -> int:
    return sum((data_dir / f"{n}.parquet").stat().st_size for n in names)
