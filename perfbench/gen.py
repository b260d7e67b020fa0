"""Seeded input generators (numpy + pyarrow, no Spark).

Everything the program reads comes from here: event files in the
`events` table schema for the stream workloads, and a small star
schema for the batch headline. The same seed gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
HOUR_US = 3_600_000_000
#: Event-time start of every generated log (2024-01-01T00:00Z).
T0_US = 1_704_067_200_000_000
#: Bounded out-of-order delay (the reference's 30-minute random delay);
#: the stream jobs run with a watermark of the same length.
MAX_DELAY_US = 30 * 60 * 1_000_000


def _events_table(ids, ts_us, users, types, cents, ks, tz):
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us", tz=tz)),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(EVENT_TYPES[types]),
            "value": pa.array(cents / 100.0, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in ks.tolist()]),
        }
    )


def event_log(seed: int, n_events: int, n_users: int, gap_us: int,
              communities: int = 0) -> pa.Table:
    """`n_events` events in arrival order.

    Arrival times advance by `gap_us` on average; each event's
    timestamp lags its arrival by a uniform delay below
    `MAX_DELAY_US`, so no event is ever behind a 30-minute watermark.
    Users are uniform. With `communities`, each user draws its props
    key from one of `communities` overlapping 12-key ranges, so
    item sets overlap inside a community (recommendation input).
    """
    rng = np.random.default_rng(seed)
    arrival = T0_US + np.cumsum(rng.integers(gap_us // 2, gap_us * 3 // 2 + 1, n_events))
    ts = arrival - rng.integers(0, MAX_DELAY_US, n_events)
    users = rng.integers(0, n_users, n_events)
    if communities:
        base = (users % communities) * 7
        ks = (base + rng.integers(0, 12, n_events)) % 100
        types = (users + rng.integers(0, 2, n_events)) % len(EVENT_TYPES)
    else:
        ks = rng.integers(0, 100, n_events)
        types = rng.integers(0, len(EVENT_TYPES), n_events)
    cents = rng.integers(0, 50_000, n_events)
    return _events_table(np.arange(n_events), ts, users, types, cents, ks, "UTC")


def write_backlog(log: pa.Table, out_dir: str, events_per_file: int) -> int:
    """Stage `log` as consecutive parquet files, oldest first.

    File modification times increase with arrival order, so a file
    stream with `maxFilesPerTrigger` reads them in generation order.
    Returns the file count.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_files = -(-log.num_rows // events_per_file)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(log.slice(i * events_per_file, events_per_file), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return n_files


# --- batch headline star schema ---------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
#: The test data's document vocabulary: 30 words drawn uniformly, plus
#: "dup", which only near-duplicates carry.
_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
_LANGS = np.array(["de", "en", "es", "fr", "zh"])
_LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
#: Share of documents that repeat another document with " dup" appended.
_NEAR_DUP_SHARE = 0.05
_DAY_US = 24 * HOUR_US
_D1995 = 788_918_400_000_000  # 1995-01-01T00:00 in epoch micros


def _days(rng, n, lo_day, hi_day):
    return _D1995 + rng.integers(lo_day, hi_day, n) * _DAY_US


def star_schema(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten tables `tables.table` knows, at scale `sf`.

    Shapes are measured from the repository's sf0.001-sf0.1 test data:
    row counts linear in `sf` (documents and embeddings floored at 500
    rows), TPC-H-like keys and date ranges, 30 days of events from
    sf * 15,000 users; documents of 10-100 words over a 30-word
    vocabulary, 5% of them another document with " dup" appended;
    unit-normalized Gaussian 64-d embeddings with labels uniform over
    10 (no cluster structure). Timestamps are naive microseconds, the
    layout `tables.table` normalizes to session-time TIMESTAMP.
    Returns row counts by table.
    """
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    ts_naive = pa.timestamp("us")
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": rng.integers(-99_999, 1_000_000, n_cust) / 100.0,
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": rng.integers(-99_999, 1_000_000, n_supp) / 100.0,
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"part {i % 97}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
            "p_type": _PART_TYPES[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100.0,
            "o_orderdate": pa.array(_days(rng, n_ord, 0, 2404), ts_naive),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n_li) / 100.0,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(_days(rng, n_li, 1, 2499), ts_naive),
        }),
    }
    ev_ts = np.sort(T0_US + rng.integers(0, 30 * _DAY_US, n_ev))
    ev = _events_table(np.arange(n_ev), ev_ts, rng.integers(0, max(15, int(15_000 * sf)), n_ev),
                       rng.integers(0, 5, n_ev), rng.integers(0, 56_000, n_ev),
                       rng.integers(0, 100, n_ev), None)
    tables["events"] = ev
    n_words = rng.integers(10, 101, n_doc)
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]) for k in n_words.tolist()]
    dups = rng.choice(n_doc, int(n_doc * _NEAR_DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n_doc), dups)
    for i, src in zip(dups.tolist(), rng.choice(originals, len(dups)).tolist()):
        texts[i] = texts[src] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(0, 1, (n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
