"""Seeded input generation for the benchmark workloads.

The engine only ever sees the parquet files written here. Every file is
a pure function of the seed and the sizes: the row order, file count
and values do not depend on the core count or on Spark's partitioning.

- ``write_change_stream``: an LSN-ordered CDC stream with the shape of
  ``synth.gen_events`` (hot keys, deletes, schema-evolution marks),
  written as a fixed number of LSN-ordered segments.
- ``write_curate_tables``: the ten star-schema + corpus tables the query
  registry reads (region ... embeddings), with the column names and
  parquet types of the engine's reference test data.

Both are generated with numpy and pyarrow: no Spark job runs, and the
inputs stay independent of the engine under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# segments of the written change stream; fixed so the inputs do not
# change with the box (the stream is range-partitioned on lsn)
EVENT_FILES = 8

CURATE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# The change stream follows ``synth.gen_events``' defaults: 20% of events
# on 4 hot keys, 8% deletes (NULL payload), 30% inserts, 8..64 tokens
# from a 50K vocabulary, schema version 1 -> 2 (adds ``lang``) at 40% and
# 2 -> 3 at 70% of the stream. It is generated here rather than by the
# engine, so the oracle never checks the engine against its own output.
HOT_FRACTION, N_HOT, DELETE_PCT, INSERT_PCT = 0.2, 4, 8, 30
TOK_LO, TOK_HI, VOCAB = 8, 64, 50_000
EVOLVE_V2_FRAC, EVOLVE_V3_FRAC = 0.4, 0.7
EVENT_LANGS = ("en", "es", "de", "fr", "pt", "it")
EVENT_SOURCES = ("web", "books", "code", "wiki")


def change_stream(n_events: int, n_keys: int, seed: int) -> pa.Table:
    """LSN-ordered change events: (lsn, op, doc_id, tokens, n_tok,
    source, lang, schema_version)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    lsn = np.arange(n_events, dtype=np.int64)
    hot = rng.random(n_events) < HOT_FRACTION
    doc_id = np.where(
        hot,
        np.char.add("hot-", rng.integers(0, N_HOT, n_events).astype(str)),
        np.char.add("doc-", rng.integers(0, n_keys, n_events).astype(str)),
    )
    op_r = rng.integers(0, 100, n_events)
    op = np.where(op_r < DELETE_PCT, "D", np.where(op_r < DELETE_PCT + INSERT_PCT, "I", "U"))
    deleted = op == "D"
    sv = np.where(
        lsn < int(n_events * EVOLVE_V2_FRAC), 1,
        np.where(lsn < int(n_events * EVOLVE_V3_FRAC), 2, 3),
    ).astype(np.int32)
    n_tok = rng.integers(TOK_LO, TOK_HI + 1, n_events)
    lengths = np.where(deleted, 0, n_tok)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    values = pa.array(rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32))
    tokens = pa.ListArray.from_arrays(pa.array(offsets), values, mask=pa.array(deleted))
    source = np.array(EVENT_SOURCES)[rng.integers(0, len(EVENT_SOURCES), n_events)]
    lang = np.array(EVENT_LANGS)[rng.integers(0, len(EVENT_LANGS), n_events)]
    return pa.table({
        "lsn": lsn,
        "op": op.astype(object),
        "doc_id": doc_id.astype(object),
        "tokens": tokens,
        "n_tok": pa.array(n_tok, pa.int64(), mask=deleted),
        "source": pa.array(source.astype(object), pa.string(), mask=deleted),
        "lang": pa.array(lang.astype(object), pa.string(), mask=deleted | (sv < 2)),
        "schema_version": sv,
    })


def write_change_stream(path: str, n_events: int, n_keys: int, seed: int) -> None:
    """The stream as ``EVENT_FILES`` LSN-ordered segments: the layout a
    WAL/binlog tail produces, so a chunk's LSN filter prunes files."""
    os.makedirs(path, exist_ok=True)
    table = change_stream(n_events, n_keys, seed)
    per_file = -(-n_events // EVENT_FILES)
    for i in range(EVENT_FILES):
        part = table.slice(i * per_file, per_file)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


@dataclass(frozen=True)
class CurateSizes:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    users: int
    events: int
    documents: int
    embeddings: int


WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "small", "hot", "cold", "old", "red", "blue", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBED_DIM = 64


def _us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: tuple, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _distinct_sorted_us(rng: np.random.Generator, start: int, span: int, n: int) -> np.ndarray:
    """``n`` strictly increasing microsecond instants inside ``span``:
    no two events share a timestamp, so latest-per-key queries have one
    winner in both engines."""
    gaps = rng.integers(1, max(2 * span // max(n, 1), 2), n)
    return start + np.cumsum(gaps)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents; about 10% are near copies of an earlier
    document (one or two words changed) and 1% exact copies, so the
    dedup and near-duplicate operators have work to do."""
    docs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.10:
            words = docs[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            docs.append(" ".join(words))
        elif i and r < 0.11:
            docs.append(docs[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            docs.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return docs


def curate_tables(sizes: CurateSizes, seed: int) -> dict[str, pa.Table]:
    rng = np.random.Generator(np.random.PCG64(seed))
    s = sizes
    out: dict[str, pa.Table] = {}
    region_names = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(region_names),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(s.customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
        "c_mktsegment": _pick(rng, SEGMENTS, s.customers),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s.suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(range(s.parts), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, s.parts), _pick(rng, PART_NOUN, s.parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
        "p_type": _pick(rng, PART_TYPES, s.parts),
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(s.parts) % 1000) * 0.1, 2),
    })
    day = 86_400_000_000
    o_start = _us(1995, 1, 1)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(s.orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), s.orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
        "o_orderdate": _ts(o_start + rng.integers(0, 2404, s.orders) * day),
        "o_orderpriority": _pick(rng, PRIORITIES, s.orders),
    })
    n = s.lineitems
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s.orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s.parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _ts(o_start + rng.integers(1, 2500, n) * day),
    })
    ts = _distinct_sorted_us(rng, _us(2024, 1, 1), 30 * day, s.events)
    order = rng.permutation(s.events)
    out["events"] = pa.table({
        "event_id": pa.array(range(s.events), pa.int64()),
        "ts": _ts(ts[order]),
        "user_id": pa.array(rng.integers(0, s.users, s.events), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, s.events),
        "value": _money(rng, 0.0, 560.0, s.events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
    })
    docs = _documents(rng, s.documents)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(s.documents), pa.int64()),
        "text": docs,
        "lang": _pick(rng, LANGS, s.documents),
        "source": [f"src{i}" for i in rng.integers(0, 20, s.documents)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    labels = rng.integers(0, 10, s.embeddings)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (s.embeddings, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(s.embeddings), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_curate_tables(out_dir: str, sizes: CurateSizes, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in curate_tables(sizes, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
