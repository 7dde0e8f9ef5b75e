"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed as an argument and writes plain
files (parquet, JSON lines); the program under test reads only these.
The same seed gives byte-identical inputs.
"""
import functools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z and the pinned OSL `now` (graft.Queries.OslNow).
JAN_2024_MS = 1704067200000
OSL_NOW_MS = 1719792000000
DAY_MS = 86_400_000

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def _ts_us(ms: np.ndarray) -> pa.Array:
    return pa.array(ms.astype(np.int64) * 1000, type=pa.timestamp("us"))


def _days(rng, n, lo_ms, hi_ms):
    days = rng.integers(0, (hi_ms - lo_ms) // DAY_MS + 1, n)
    return lo_ms + days * DAY_MS


def _date_ms(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "ms").astype(np.int64))


def registry_tables(seed: int, sf: float, out: str) -> None:
    """The ten registry tables (schema of the TPC-H-like star plus the
    events, documents and embeddings tables the registry queries read),
    scaled like the reference data: sf 0.1 = 600k lineitem rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vec = int(50_000 * sf), int(20_000 * sf)

    _write({"r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           f"{out}/region.parquet")
    _write({"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
           f"{out}/nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write({"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)]},
           f"{out}/customer.parquet")
    _write({"s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp)},
           f"{out}/supplier.parquet")

    adj = np.array(["blue", "cold", "hot", "red", "small", "new", "old", "large"])
    noun = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    price = 900.0 + (np.arange(n_part) % 1000) / 10.0
    _write({"p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                  noun[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": ptypes[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": price},
           f"{out}/part.parquet")

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write({"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _ts_us(_days(rng, n_ord, _date_ms(1995, 1, 1), _date_ms(2001, 8, 1))),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)]},
           f"{out}/orders.parquet")

    partkey = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write({"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(0.999, 1.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts_us(_days(rng, n_line, _date_ms(1995, 1, 2), _date_ms(2001, 11, 4)))},
           f"{out}/lineitem.parquet")

    # events: ascending stamps over 30 days, microsecond precision
    ts_us = np.sort(rng.integers(0, 30 * DAY_MS * 1000, n_ev)) + JAN_2024_MS * 1000
    _write({"event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           f"{out}/events.parquet")

    # documents: word salad from a 31-word vocabulary; ~5% are edited
    # copies of an earlier document (tagged "dup") and a few exact copies,
    # so the dedup and near-dup operators find real clusters
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            toks = texts[rng.integers(0, i)].split(" ")
            toks[rng.integers(0, len(toks))] = words[rng.integers(0, len(words))]
            texts.append(" ".join(toks + ["dup"]))
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 100))]))
    _write({"doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_docs)],
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           f"{out}/documents.parquet")

    # embeddings: unit vectors around 10 cluster centres
    centres = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_vec)
    vec = centres[label] + rng.normal(0, 0.8, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write({"vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
                pa.list_(pa.float32())),
            "label": label.astype(np.int32)},
           f"{out}/embeddings.parquet")


@functools.lru_cache(maxsize=None)
def _zipf_p(persons: int, top_share: float) -> np.ndarray:
    ranks = np.arange(1, persons + 1, dtype=np.float64)
    # bisect the exponent so that p(rank 1) ~= top_share
    lo, hi = 0.0, 2.0
    for _ in range(40):
        s = (lo + hi) / 2
        p1 = 1.0 / np.sum(ranks ** -s)
        lo, hi = (s, hi) if p1 < top_share else (lo, s)
    p = ranks ** -s
    return p / p.sum()


def zipf_ids(rng, n: int, persons: int, top_share: float) -> np.ndarray:
    """Person ids 0..persons-1 with a Zipf-like skew: id 0 gets about
    `top_share` of the draws, the rest fall off by rank."""
    return rng.choice(persons, size=n, p=_zipf_p(persons, top_share))


def person_history(seed: int, events: int, persons: int, out: str) -> None:
    """A person-keyed event history for the catalog table the OSL routes
    read: (id, stamp, event, value, product, tag, event_id)."""
    rng = np.random.default_rng(seed)
    ids = zipf_ids(rng, events, persons, 0.02)
    stamps = JAN_2024_MS + rng.integers(0, 180 * DAY_MS, events)
    _write({"id": ids.astype(np.int64),
            "stamp": stamps.astype(np.int64),
            "event": np.array(EVENT_TYPES)[rng.choice(5, events, p=[0.1, 0.3, 0.05, 0.4, 0.15])],
            "value": np.round(rng.exponential(50.0, events), 2),
            "product": np.char.add("p", rng.integers(0, 50, events).astype(str)),
            "tag": rng.integers(0, 20, events).astype(np.int64),
            "event_id": np.arange(events, dtype=np.int64)},
           out)


def insert_batches(seed: int, n: int, batch: int, persons: int, out: str) -> None:
    """`n` raw-JSON insert batches, one JSON list of event objects per line.
    Person ids follow the history's skew; event ids continue above it."""
    rng = np.random.default_rng(seed + 1)
    next_event = 10**9
    with open(out, "w") as f:
        for _ in range(n):
            evs = []
            for pid in zipf_ids(rng, batch, persons, 0.02):
                evs.append(json.dumps({
                    "id": int(pid),
                    "stamp": int(OSL_NOW_MS - DAY_MS + rng.integers(0, DAY_MS)),
                    "event": EVENT_TYPES[int(rng.integers(0, 5))],
                    "value": round(float(rng.exponential(50.0)), 2),
                    "product": f"p{int(rng.integers(0, 50))}",
                    "tag": int(rng.integers(0, 20)),
                    "event_id": next_event}, separators=(",", ":")))
                next_event += 1
            f.write(json.dumps(evs) + "\n")
