"""Seeded generator for the registry's input tables.

Writes the ten tables the registry queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file per table, with the column names, types and value distributions of
the TPC-H-like fixtures the queries were written against:

* keys are dense ``0..n-1``; foreign keys are uniform over their parent;
* ``l_extendedprice = l_quantity * p_retailprice``;
* events are sorted by ``ts`` and numbered in that order;
* 5 % of documents are a near-duplicate of another (its text plus
  `` dup``), so the dedup operators have pairs to find;
* embeddings are random unit vectors in 64 dimensions.

``replicate_constant`` builds the constant-density N-fold replica
(every copy gets fresh ids, suffixed document tokens and perturbed
vectors, so per-key frequencies stay at 1x while volume grows N-fold).

The same ``(seed, sf)`` always yields byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_COLORS = "blue cold hot large new old red small".split()
_NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EMB_DIM = 64
_DAY_US = 86_400_000_000

def _epoch_us(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days * _DAY_US


def _days(rng, lo: dt.date, n_days: int, n: int) -> pa.Array:
    us = _epoch_us(lo) + rng.integers(0, n_days, n, dtype=np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _text(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    out, i = [], 0
    for k in lens:
        out.append(" ".join(words[i : i + k]))
        i += k
    return out


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1500, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(150, n_cust // 10)
    n_ev = max(1000, round(1_000_000 * sf))
    n_doc = max(50, round(50_000 * sf))
    n_emb = max(20, round(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    partkeys = np.arange(n_part)
    retail = 900.0 + (partkeys % 1000) / 10.0
    t["part"] = pa.table({
        "p_partkey": pa.array(partkeys, i64),
        "p_name": [
            f"{_COLORS[c]} {_NOUNS[m]}"
            for c, m in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": retail,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_part = rng.integers(0, n_part, n_line)
    l_qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(l_part, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": l_qty,
        "l_extendedprice": np.round(l_qty * retail[l_part], 2),
        "l_discount": np.round(rng.binomial(10, 0.5, n_line) / 100.0, 2),
        "l_tax": np.round(rng.binomial(8, 0.5, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_line),
    })
    ts = np.sort(
        _epoch_us(dt.date(2024, 1, 1)) + rng.integers(0, 30 * _DAY_US, n_ev)
    )
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _text(rng, n_doc)
    is_dup = rng.random(n_doc) < 0.05
    originals = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    vecs = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


OFFSET = 1_000_000_000


def replicate_constant(base: dict[str, pa.Table], n: int) -> dict[str, pa.Table]:
    """Constant-density ``n``-fold replica of ``base``: copy ``k`` offsets
    every fact id by ``k * OFFSET``, suffixes every document token and
    customer name with ``k``, and perturbs each embedding element by a
    deterministic amount in [-0.05, 0.05). Dimension tables are kept once."""
    out = {}
    for name, tbl in base.items():
        if name in ("region", "nation", "supplier", "part"):
            out[name] = tbl
            continue
        parts = [tbl]
        for k in range(1, n):
            off = k * OFFSET
            c = tbl
            if name == "documents":
                text = [
                    " ".join(w + str(k) for w in s.split(" "))
                    for s in tbl["text"].to_pylist()
                ]
                c = c.set_column(c.schema.get_field_index("text"), "text", pa.array(text))
            if name == "embeddings":
                vecs = np.stack(tbl["embedding"].to_numpy(zero_copy_only=False))
                ids = tbl["vec_id"].to_numpy()
                noise = ((ids[:, None] * 131 + np.arange(EMB_DIM) * 17 + k) * 2654435761) % 1000
                vecs = (vecs + (noise / 1000.0 - 0.5) * 0.1).astype(np.float32)
                emb = pa.FixedSizeListArray.from_arrays(
                    pa.array(vecs.ravel(), pa.float32()), EMB_DIM
                ).cast(pa.list_(pa.float32()))
                c = c.set_column(c.schema.get_field_index("embedding"), "embedding", emb)
            if name == "customer":
                names = [s + str(k) for s in tbl["c_name"].to_pylist()]
                c = c.set_column(c.schema.get_field_index("c_name"), "c_name", pa.array(names))
            for col in {
                "documents": ["doc_id"], "embeddings": ["vec_id"],
                "events": ["event_id", "user_id"], "orders": ["o_orderkey", "o_custkey"],
                "lineitem": ["l_orderkey"], "customer": ["c_custkey"],
            }[name]:
                i = c.schema.get_field_index(col)
                c = c.set_column(i, col, pc.add(c[col], pa.scalar(off, pa.int64())))
            parts.append(c)
        out[name] = pa.concat_tables(parts)
    return out


def write_tables(tables: dict[str, pa.Table], dest: str) -> dict[str, dict]:
    """One snappy parquet file per table (a single row group, no pandas
    metadata); returns ``{table: {rows, bytes}}``."""
    os.makedirs(dest, exist_ok=True)
    info = {}
    for name, tbl in tables.items():
        path = os.path.join(dest, f"{name}.parquet")
        pq.write_table(
            tbl.replace_schema_metadata(None), path,
            compression="snappy", row_group_size=max(1, tbl.num_rows),
        )
        info[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return info
