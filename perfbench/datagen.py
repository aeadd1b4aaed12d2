"""Benchmark inputs, written with pyarrow before any timed phase.

Two families:

- ``write_chain``: the ``logs`` and ``blocks`` tables for blocks
  ``[0, n_blocks)``, row for row the shape the engine's mock RPC
  transports emit (``sources/ethereum_rpc.py``: ``make_mock_transport``
  with two logs per block, ``make_mock_blocks_transport`` decoded the
  way ``EthereumBlocksReader`` decodes it). The live workload ingests
  the blocks after ``n_blocks`` through the real ``ethereum_logs``
  source, so table rows and ingested rows agree by construction;
  ``mock_rows_match`` checks that on a small range.
- ``write_corpus``: the fixture-shaped tables the declared analytics
  queries read (TPC-H-ish star, ``events``, ``documents``,
  ``embeddings``), drawn from the seed with fixed sizes and a fixed
  number of planted near-duplicates, so every seed costs the same.

Table contents for the chain are seed-independent (the mock transport
is a closed form); the seed chooses windows and filters instead.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TRANSFER = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
APPROVAL = "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925"
LOGS_PER_BLOCK = 2

LOGS_ARROW = pa.schema([
    ("address", pa.string()), ("data", pa.string()),
    ("topics", pa.list_(pa.string())), ("blockNumber", pa.int64()),
    ("transactionHash", pa.string()), ("transactionIndex", pa.int32()),
    ("blockHash", pa.string()), ("logIndex", pa.int32()),
    ("removed", pa.bool_()),
])

_BLOCK_STRINGS = ("hash", "parentHash", "nonce", "sha3Uncles", "logsBloom",
                  "transactionsRoot", "stateRoot", "receiptsRoot", "author",
                  "miner", "mixHash", "difficulty", "totalDifficulty",
                  "extraData")
BLOCKS_ARROW = pa.schema(
    [("number", pa.int64())]
    + [(c, pa.string()) for c in _BLOCK_STRINGS]
    + [(c, pa.int64()) for c in ("size", "gasLimit", "gasUsed", "timestamp")]
    + [(c, pa.list_(pa.string())) for c in ("transactions", "uncles", "sealFields")]
)


def logs_rows(lo: int, hi: int) -> pa.Table:
    """Logs of blocks ``[lo, hi)`` in mock-transport order."""
    seq = range(lo * LOGS_PER_BLOCK, hi * LOGS_PER_BLOCK)
    block = [s // LOGS_PER_BLOCK for s in seq]
    idx = [s % LOGS_PER_BLOCK for s in seq]
    data = [f"0x{s:064x}" for s in seq]
    topic0 = [TRANSFER if s % 2 == 0 else APPROVAL for s in seq]
    return pa.table({
        "address": [f"0x{'a' if s % 3 else 'b'}{b % 7}" for s, b in zip(seq, block)],
        "data": data,
        "topics": [[t, d] for t, d in zip(topic0, data)],
        "blockNumber": block,
        "transactionHash": [f"0xtx{s:08d}" for s in seq],
        "transactionIndex": idx,
        "blockHash": [f"0xblk{b:08d}" for b in block],
        "logIndex": idx,
        "removed": [False] * len(seq),
    }, schema=LOGS_ARROW)


def blocks_rows(lo: int, hi: int) -> pa.Table:
    """Blocks ``[lo, hi)`` as ``EthereumBlocksReader`` decodes the mock
    transport: quantities to int64, nonce/difficulty as raw hex, absent
    fields null."""
    n = range(lo, hi)
    none = [None] * len(n)
    cols = {c: none for c in _BLOCK_STRINGS}
    cols.update({
        "number": list(n),
        "hash": [f"0xblk{b:08d}" for b in n],
        "parentHash": [f"0xblk{b - 1:08d}" if b > 0 else "0x" + "0" * 16 for b in n],
        "nonce": ["0x" + format(b, "016x") for b in n],
        "miner": [f"0xminer{b % 5:02d}" for b in n],
        "difficulty": [hex(1000 + b) for b in n],
        "size": [500 + b % 100 for b in n],
        "gasLimit": [30_000_000] * len(n),
        "gasUsed": [(b * 1_337) % 30_000_000 for b in n],
        "timestamp": [1_600_000_000 + b * 12 for b in n],
        "transactions": [[f"0xtx{b * 2:08d}", f"0xtx{b * 2 + 1:08d}"] for b in n],
        "uncles": [[] for _ in n],
        "sealFields": none,
    })
    return pa.table({f.name: cols[f.name] for f in BLOCKS_ARROW}, schema=BLOCKS_ARROW)


def write_chain(out_dir: str, n_blocks: int, chunk: int = 50_000) -> pa.Table:
    """Write ``logs.parquet`` and ``blocks.parquet`` for ``[0, n_blocks)``
    and return the logs table (the generator filters it to check
    tickets)."""
    os.makedirs(out_dir, exist_ok=True)
    parts = []
    with pq.ParquetWriter(f"{out_dir}/logs.parquet", LOGS_ARROW) as lw, \
            pq.ParquetWriter(f"{out_dir}/blocks.parquet", BLOCKS_ARROW) as bw:
        for lo in range(0, n_blocks, chunk):
            hi = min(lo + chunk, n_blocks)
            logs = logs_rows(lo, hi)
            lw.write_table(logs, row_group_size=2 * chunk)
            bw.write_table(blocks_rows(lo, hi), row_group_size=chunk)
            parts.append(logs)
    return pa.concat_tables(parts)


def mock_rows_match(lo: int, hi: int) -> list[str]:
    """Compare ``logs_rows``/``blocks_rows`` with what the engine's mock
    readers yield for ``[lo, hi)``; returns mismatch descriptions."""
    from web3_flight_rpc_server_spark.sources.ethereum_rpc import (
        BlockRangePartition,
        EthereumBlocksReader,
        EthereumLogsReader,
    )

    part = BlockRangePartition(lo, hi - 1)
    problems = []
    got_logs = list(EthereumLogsReader({"startblock": lo, "endblock": hi - 1}).read(part))
    ours = logs_rows(lo, hi).to_pylist()
    if [tuple(r.values()) for r in ours] != [tuple(r) for r in got_logs]:
        problems.append(f"logs rows differ from make_mock_transport on [{lo}, {hi})")
    got_blocks = list(EthereumBlocksReader({"startblock": lo, "endblock": hi - 1}).read(part))
    ours = blocks_rows(lo, hi).to_pylist()
    if [tuple(r.values()) for r in ours] != [tuple(r) for r in got_blocks]:
        problems.append(f"blocks rows differ from make_mock_blocks_transport on [{lo}, {hi})")
    return problems


# -- analytics corpus ---------------------------------------------------

VOCAB = ("a the data spark table stream batch query join group agg sort hash "
         "scan filter merge window row column key value part order line "
         "customer vector fast slow big small").split()
LANGS = ("en", "de", "fr", "es", "zh")


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(rng: np.random.Generator, n: int, start: str, stop: str) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(stop, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int), n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _documents(rng: np.random.Generator, n_docs: int, n_dups: int) -> pa.Table:
    """Random texts over a small vocabulary plus ``n_dups`` planted
    near-duplicates (a copy of an earlier document with its last word
    dropped or one word appended). True pairs sit at word-3-gram
    Jaccard >= 0.94 and every other pair below 0.1: the structure of
    the declared fixture corpus (true pairs 0.8-1.0), on which
    MinHash-LSH banding finds every true pair and so matches its exact
    oracle. Their number is the same on every seed."""
    texts = []
    for _ in range(n_docs - n_dups):
        n_words = int(rng.integers(20, 90))
        texts.append(" ".join(rng.choice(VOCAB, n_words)))
    # each original is copied at most once: two copies of one original
    # would form a sibling pair below the near-duplicate margin
    for src in rng.choice(n_docs - n_dups, n_dups, replace=False):
        words = texts[int(src)].split()
        if rng.random() < 0.5:
            words.pop()
        else:
            words.append(str(rng.choice(VOCAB)))
        texts.append(" ".join(words))
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_corpus(out_dir: str, seed: int) -> None:
    """Write the ten fixture-shaped tables (0.01 fixture scale) under
    ``out_dir`` as ``<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed % 2**64)  # any int seed, negatives too
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_orders, n_items = 15_000, 60_000
    n_events, n_users, n_docs, n_vecs = 10_000, 300, 500, 500
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    i32 = pa.int32()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.permutation(np.arange(25) % 5), i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _round2(rng.uniform(-999, 9999, n_cust)),
            "c_mktsegment": rng.choice(segments, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _round2(rng.uniform(-999, 9999, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part),
            "p_name": [f"{rng.choice(['large', 'small'])} {rng.choice(['ring', 'bolt', 'gear'])}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 50, n_part)],
            "p_type": rng.choice(["LARGE", "SMALL", "MEDIUM"], n_part),
            "p_size": pa.array(rng.integers(1, 50, n_part), i32),
            "p_retailprice": _round2(rng.uniform(900, 2000, n_part)),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
            "o_totalprice": _round2(rng.uniform(1000, 400_000, n_orders)),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(priorities, n_orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_orders, n_items),
            "l_partkey": rng.integers(0, n_part, n_items),
            "l_suppkey": rng.integers(0, n_supp, n_items),
            "l_linenumber": pa.array(rng.integers(1, 8, n_items), i32),
            "l_quantity": rng.integers(1, 51, n_items).astype(float),
            "l_extendedprice": _round2(rng.uniform(900, 100_000, n_items)),
            "l_discount": rng.integers(0, 11, n_items) / 100.0,
            "l_tax": rng.integers(0, 9, n_items) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_items),
            "l_linestatus": rng.choice(["O", "F"], n_items),
            "l_shipdate": _days(rng, n_items, "1995-01-01", "2001-12-01"),
        }),
    }
    # Events span 12 hours over few users, so the 30-minute sessionizer
    # emits a few thousand sessions: well under the Flight server's
    # stream threshold on every seed.
    t0 = np.datetime64("2024-01-01T00:00:00", "ns")
    ts = t0 + rng.integers(0, 12 * 3600 * 10**9, n_events).astype("timedelta64[ns]")
    tables["events"] = pa.table({
        "event_id": np.arange(n_events),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_events),
        "value": _round2(rng.exponential(60.0, n_events)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    tables["documents"] = _documents(rng, n_docs, n_docs // 10)
    vec = rng.normal(0.0, 0.1, (n_vecs, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
