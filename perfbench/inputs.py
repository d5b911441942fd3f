"""Seeded input generators for the benchmark.

Every input is a pure function of the workload seed: the same seed
writes byte-identical parquet files and returns the same expected
counts.  The program under test only ever sees these files.

Floating-point columns are dyadic rationals (k / 2**j with small j)
so every SUM over them is exact in IEEE doubles whatever the
summation order; the DuckDB oracle comparison is then bitwise-stable
across seeds instead of hinging on Spark's partial-sum order.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the generated headline fixtures (the sf0.01 shape of
#: the repo's fixture tables).
FIXTURE_ROWS = {
    "supplier": 100,
    "customer": 1_500,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
#: The 31-word vocabulary of the fixture documents.
SMALL_VOCAB = (
    "a agg batch big column customer data fast filter group hash index "
    "join key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts another stream's values."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _ts_us(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    return rng.integers(lo, hi, n)


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    """Midnight timestamps (µs) drawn uniformly between two dates."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi, n) * _DAY_US


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng, n: int, vocab: list[str], lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = np.array(vocab)
    return [" ".join(words[rng.integers(0, len(vocab), k)]) for k in lens]


def write_fixtures(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten fixture tables the headline queries read (schemas as
    in FIXTURES.md) and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = FIXTURE_ROWS
    ts = pa.timestamp("us")
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    r = _rng(seed, "supplier")
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": r.integers(-99_900, 999_900, n["supplier"]) / 4,
    }))
    r = _rng(seed, "customer")
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": r.integers(-99_900, 999_900, n["customer"]) / 4,
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n["customer"])],
    }))
    r = _rng(seed, "part")
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": [f"part {i}" for i in range(n["part"])],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 6, n["part"])],
        "p_type": [f"TYPE{i}" for i in r.integers(0, 6, n["part"])],
        "p_size": pa.array(r.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": r.integers(3_600, 8_400, n["part"]) / 4,
    }))
    r = _rng(seed, "orders")
    no = n["orders"]
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, no)],
        "o_totalprice": r.integers(4_000, 2_000_000, no) / 4,
        "o_orderdate": pa.array(_days(r, no, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)],
    }))
    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl) * 1.0,
        "l_extendedprice": r.integers(3_600, 420_000, nl) / 4,
        "l_discount": r.integers(0, 7, nl) / 64,
        "l_tax": r.integers(0, 6, nl) / 64,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(r, nl, "1995-01-02", "2001-11-04"), ts),
    }))
    r = _rng(seed, "events")
    ne = n["events"]
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(_ts_us(r, ne, "2024-01-01", "2024-01-31"), ts),
        "user_id": pa.array(r.integers(0, 150, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, ne)],
        "value": r.integers(0, 6_400, ne) / 64,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
    }))
    r = _rng(seed, "documents")
    nd = n["documents"]
    texts = _texts(r, nd, SMALL_VOCAB, 15, 60)
    # exact duplicates by construction (the dedup_exact target)
    for i in range(0, nd, 10):
        texts[i] = texts[(i * 7 + 3) % nd]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, 5, nd)],
        "source": [f"src{i}" for i in r.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    r = _rng(seed, "embeddings")
    nv = n["embeddings"]
    emb = (r.integers(-48, 49, (nv, 64)) / 256).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32()),
    }))
    return {"region": 5, "nation": 25, **FIXTURE_ROWS}


# --- etl_rw -------------------------------------------------------------

#: Rows of each ETL batch.
ETL_BASE_ROWS = 10_000
ETL_APPEND_ROWS = 2_500
ETL_MERGE_UPDATES = 1_000
ETL_MERGE_INSERTS = 500
#: Mapper source: entities scanned per cycle, and shards.
ETL_ENTITIES = 20_000
ETL_ENTITY_SHARDS = 4
#: Changefeed: keys in the feed and keys per micro-batch.
FEED_ENTITIES = 16_000
FEED_BATCH = 4_000

ETL_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("grp", pa.int32()),
    ("amount", pa.float64()),
    ("note", pa.string()),
])


@dataclass(frozen=True)
class EtlPlan:
    """The files one ETL cycle commits and the counts the seed implies."""

    base: str
    appends: tuple[str, ...]
    merge: str
    delete_lo: int
    delete_hi: int
    mapper_key_limit: int
    #: ``count_rows`` after create, each append, merge and delete
    counts: tuple[int, ...]
    #: (grp, rows, amount sum) of the final snapshot, sorted by grp
    final_by_grp: tuple[tuple[int, int, float], ...]
    #: Parquet-encoded bytes of every committed user row (the logical
    #: size ``bytes_per_user_byte`` divides by)
    user_bytes: int


def _etl_batch(rng, ids: np.ndarray) -> pa.Table:
    n = len(ids)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "grp": pa.array(rng.integers(0, 16, n), pa.int32()),
        "amount": rng.integers(0, 400_000, n) / 16,
        "note": [f"n{v:06d}" for v in rng.integers(0, 1_000_000, n)],
    }, schema=ETL_SCHEMA)


def _logical_bytes(t: pa.Table) -> int:
    """Plain (uncompressed) value bytes of the rows: 8 + 4 + 8 + len(note)."""
    notes = sum(len(s) for s in t.column("note").to_pylist())
    return t.num_rows * (8 + 4 + 8) + notes


def write_etl_inputs(out_dir: str, seed: int) -> EtlPlan:
    """Write the batches of one ETL cycle and derive every count the
    cycle's commits must produce."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "etl")
    next_id = 0
    files: list[str] = []
    tables: list[pa.Table] = []
    for i, n in enumerate([ETL_BASE_ROWS] + [ETL_APPEND_ROWS] * 3):
        t = _etl_batch(r, np.arange(next_id, next_id + n))
        next_id += n
        path = os.path.join(out_dir, f"batch{i}.parquet")
        pq.write_table(t, path)
        files.append(path)
        tables.append(t)
    live = pa.concat_tables(tables)
    upd_ids = np.sort(r.choice(next_id, ETL_MERGE_UPDATES, replace=False))
    new_ids = np.arange(next_id, next_id + ETL_MERGE_INSERTS)
    merge_t = _etl_batch(r, np.concatenate([upd_ids, new_ids]))
    merge_path = os.path.join(out_dir, "merge.parquet")
    pq.write_table(merge_t, merge_path)

    # expected state, row by row, in plain Python dicts keyed by id
    state = {row["id"]: row for row in live.to_pylist()}
    counts = [ETL_BASE_ROWS]
    for _ in range(3):
        counts.append(counts[-1] + ETL_APPEND_ROWS)
    for row in merge_t.to_pylist():
        state[row["id"]] = row
    counts.append(len(state))
    width = int(r.integers(800, 1_200))
    lo = int(r.integers(0, next_id - width))
    hi = lo + width - 1
    for k in range(lo, hi + 1):
        state.pop(k, None)
    counts.append(len(state))
    by_grp: dict[int, list] = {}
    for row in state.values():
        acc = by_grp.setdefault(row["grp"], [0, 0.0])
        acc[0] += 1
        acc[1] += row["amount"]
    user_bytes = sum(_logical_bytes(t) for t in tables) + _logical_bytes(merge_t)
    return EtlPlan(
        base=files[0],
        appends=tuple(files[1:]),
        merge=merge_path,
        delete_lo=lo,
        delete_hi=hi,
        mapper_key_limit=int(r.integers(ETL_ENTITIES * 3 // 4, ETL_ENTITIES)),
        counts=tuple(counts),
        final_by_grp=tuple(sorted((g, c, s) for g, (c, s) in by_grp.items())),
        user_bytes=user_bytes,
    )


# --- op order -----------------------------------------------------------

def op_order(names: list[str], rounds: int, seed: int) -> list[str]:
    """``rounds`` passes over ``names``, each pass in its own seeded
    order: every op runs equally often, and the seed fixes the order."""
    rnd = random.Random(seed)
    out: list[str] = []
    for _ in range(rounds):
        batch = list(names)
        rnd.shuffle(batch)
        out.extend(batch)
    return out
