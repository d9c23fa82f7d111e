"""Seeded synthetic inputs for the benchmark.

Every input is a pure function of the seed:

- ``write_fixture``: the ten fixture tables the query registry reads
  (``region nation customer supplier part orders lineitem events
  documents embeddings``, one parquet file each) with the column names,
  physical types and value domains of the repository's TPC-H-ish star
  schema (TESTDATA.md). Row counts follow the scale factor; ``sf=0.01``
  gives about 60k lineitem rows. Keys join as in the reference fixture:
  every foreign key hits its dimension, and ``events.user_id`` is drawn
  from the customer key domain.
- ``opensky_payload``: one OpenSky ``/states/all`` JSON snapshot, the
  bytes the ingest engine's HTTP transport returns.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a the join hash row batch scan customer column filter small slow merge "
    "order vector line table data agg value key stream window spark group "
    "part big sort query fast"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def fixture_tables(seed: int, sf: float = 0.01) -> dict[str, pa.Table]:
    """The fixture tables at scale factor ``sf``; same seed, same tables."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_lines = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = int(15_000 * sf), int(1_000_000 * sf)
    n_docs = n_vecs = int(50_000 * sf)
    i32 = pa.int32()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _days(rng, n_orders, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    per_order = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)[:n_lines]
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)[:n_lines]
    n = len(okeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, 2498) + np.timedelta64(1, "D"),
    })
    gaps = rng.exponential(30 * _DAY_US / n_events, n_events).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return t


def write_fixture(seed: int, out_dir: str, sf: float = 0.01) -> dict[str, int]:
    """Write the fixture tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def opensky_payload(seed: int, poll: int, n_states: int = 10_000) -> bytes:
    """One ``{"time": t, "states": [[18 values], ...]}`` snapshot.

    States follow ``schema.FLIGHTS_SCHEMA`` order. As in the live API,
    integral fields may arrive as JSON floats, ``sensors`` is a list or
    null, and position fields of an aircraft without a fix are null.
    """
    rng = np.random.default_rng([seed, 2, poll])
    now = 1_700_000_000 + 60 * poll
    lon = np.round(rng.uniform(-180.0, 180.0, n_states), 4)
    lat = np.round(rng.uniform(-90.0, 90.0, n_states), 4)
    alt = np.round(rng.uniform(0.0, 12_000.0, n_states), 2)
    vel = np.round(rng.uniform(0.0, 300.0, n_states), 2)
    track = np.round(rng.uniform(0.0, 360.0, n_states), 2)
    vrate = np.round(rng.normal(0.0, 5.0, n_states), 2)
    lag = rng.integers(0, 30, n_states)
    no_fix = rng.random(n_states) < 0.03
    ground = rng.random(n_states) < 0.1
    countries = rng.integers(0, 40, n_states)
    sensors = rng.integers(-1, 3, n_states)
    states = []
    for i in range(n_states):
        fix = not no_fix[i]
        states.append([
            float(now) if i % 7 == 0 else now,
            f"{int(rng.integers(0, 1 << 24)):06x}",
            f"FLT{i % 5000:04d}",
            f"Country{countries[i]}",
            int(now - lag[i]) if fix else None,
            int(now - lag[i] // 2),
            float(lon[i]) if fix else None,
            float(lat[i]) if fix else None,
            float(alt[i]) if fix else None,
            bool(ground[i]),
            float(vel[i]),
            float(track[i]),
            float(vrate[i]),
            None if sensors[i] < 0 else list(range(int(sensors[i]) + 1)),
            float(alt[i] + 25.0) if fix else None,
            f"{i % 7777:04d}",
            i % 97 == 0,
            int(i % 4),
        ])
    return json.dumps({"time": now, "states": states}).encode()
