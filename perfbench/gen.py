"""Seeded input generator for the benchmark.

Every input a workload reads is derived from ``--seed`` here, in one
process, with numpy and pyarrow. The same seed always gives
byte-identical files (``digest`` checks that in the self-test).

* ``write_tables`` writes the ten fixture tables (FIXTURES.md §B) with the
  fixture's schema and physical types (``events.ts`` is parquet
  TIMESTAMP(NANOS), the other timestamps are micros), one file per table
  at ``<dir>/<table>.parquet``, so ``catalog.table`` and the DuckDB
  oracle views read them unchanged. Each table is a single row group,
  like the fixtures: ``catalog.spread`` keys off the scan's split count.
* ``write_wordcount`` writes the faithful-mode WordCount input: a text
  file whose tokens follow a Zipf law over a vocabulary with skewed
  first letters (so the first-char partitioner, quirk Q3, is skewed),
  plus the locality file with one map task per chunk.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: One row group per table, as in the fixtures; larger than any table.
ROW_GROUP_ROWS = 1 << 20

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "large", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

#: Rows per table, matching the fixtures at sf0.001.
ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
}
USERS = 15
DOCUMENTS = 500
EMBEDDINGS = 500
EMBED_DIM = 64
#: Nodes the WordCount locality file spreads the chunks over.
NODES = 4


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    d0 = (lo - dt.date(1970, 1, 1)).days
    d1 = (hi - dt.date(1970, 1, 1)).days
    us = rng.integers(d0, d1 + 1, n).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for _ in range(DOCUMENTS):
        if texts and rng.random() < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
        elif texts and rng.random() < 0.01:  # exact duplicate
            texts.append(texts[int(rng.integers(len(texts)))])
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(DOC_VOCAB, n)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, DOCUMENTS, p=LANG_P), pa.string()),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, 20, DOCUMENTS)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel(), pa.float32()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, EMBEDDINGS), pa.int32()),
        }
    )


def build_tables(seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables at sf0.001 row counts."""
    rng = np.random.default_rng([seed, 1])
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, c), pa.string()),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": pa.array(_money(rng, s, -999.99, 9999.99), pa.float64()),
        }
    )
    p = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": pa.array(
                [
                    f"{a} {b}"
                    for a, b in zip(rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))
                ],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, p)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, p), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(p) % 1000) / 10, 1), pa.float64()
            ),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o), pa.string()),
            "o_totalprice": pa.array(_money(rng, o, 1000, 500000), pa.float64()),
            "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, o), pa.string()),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, li, 900, 105000), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], li), pa.string()),
            "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    e = n["events"]
    t0_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ts_us = np.sort(rng.integers(t0_us, t0_us + 30 * 86_400_000_000, e))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, USERS, e), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, e), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, e), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()
            ),
        }
    )
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write_tables(out_dir: str, seed: int) -> dict[str, dict[str, int]]:
    """Write every table; return {table: {rows, bytes, row_group_rows}}."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, tbl in build_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=ROW_GROUP_ROWS)
        stats[name] = {
            "rows": tbl.num_rows,
            "bytes": os.path.getsize(path),
            "row_group_rows": min(tbl.num_rows, ROW_GROUP_ROWS),
        }
    return stats


def write_wordcount(out_dir: str, seed: int, lines: int, chunk_size: int) -> dict[str, object]:
    """Zipf-vocabulary text plus its locality file.

    Every line has 6-15 single-space-separated lowercase words. Nine
    lines in ten end with a space; the rest fuse with the next line
    under quirk Q2, and a chunk whose last line has no trailing space
    loses that word under quirk Q1.
    """
    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    first_p = 1.0 / np.arange(1, 27) ** 1.1  # skewed first letters
    first_p /= first_p.sum()
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < 4000:
        # the word of rank r has 3 + r % 7 letters, so the text's size
        # and hence input_mb_per_s do not vary with the seed
        w = str(rng.choice(letters, p=first_p)) + "".join(
            rng.choice(letters, 2 + len(vocab) % 7)
        )
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    rank_p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1  # Zipf token frequency
    rank_p /= rank_p.sum()
    per_line = rng.integers(6, 16, lines)
    tokens = rng.choice(len(vocab), int(per_line.sum()), p=rank_p)
    trailing = rng.random(lines) < 0.9
    os.makedirs(out_dir, exist_ok=True)
    text_path = os.path.join(out_dir, "wordcount.txt")
    pos = 0
    with open(text_path, "w") as f:
        for i in range(lines):
            words = [vocab[t] for t in tokens[pos : pos + per_line[i]]]
            pos += per_line[i]
            f.write(" ".join(words) + (" " if trailing[i] else "") + "\n")
    chunks = (lines + chunk_size - 1) // chunk_size
    loc_path = os.path.join(out_dir, "locality.txt")
    with open(loc_path, "w") as f:
        for cid, node in enumerate(rng.integers(1, NODES + 1, chunks), start=1):
            f.write(f"{cid} {node}\n")
    return {
        "input": text_path,
        "locality": loc_path,
        "lines": lines,
        "chunks": chunks,
        "bytes": os.path.getsize(text_path),
    }


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (names and contents)."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
