"""Seeded inputs for the benchmark.

``write_tables`` writes the fixture tables the warehouse queries read
(region nation customer supplier part orders lineitem events documents), one
parquet file each, with the schemas and value domains of the engine's test
fixtures. ``LogGenerator`` renders BaseLogApp app-log lines (page, start,
display, action and err records plus malformed lines) from a pool built up
front, so producing a tick of input is only string joins.

The same seed always gives the same bytes of table data and the same log
lines; only the wall-clock stamps of the log lines depend on when they are
scheduled.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of one scale unit (the engine's sf0.01 fixture tier).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_days, hi_days, n):
    d = rng.integers(lo_days, hi_days, n)
    return np.array([_EPOCH_1995 + dt.timedelta(days=int(x)) for x in d], dtype="datetime64[us]")


def build_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(np_), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": rng.choice(PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _days(rng, 0, 2404, no),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    # 1-7 lines per order, numbered 1..k: (l_orderkey, l_linenumber) is a key
    per_order = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), per_order)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order])
    nl = min(n["lineitem"], len(okey))
    perm = rng.permutation(nl)
    okey, lnum = okey[:nl][perm], lnum[:nl][perm]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, 1, 2499, nl),
        }
    )
    ne = n["events"]
    # sorted arrival times over 30 days, microsecond grid
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(
                np.datetime64(_EPOCH_2024, "us") + us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(np.minimum(rng.exponential(50, ne), 490) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, nd)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ----------------------------------------------------------------- app logs
MALFORMED_SHARE = 0.01


class LogGenerator:
    """App-log lines in the BaseLogApp envelope (FIXTURES.md A2).

    Every line is a pre-rendered ``(prefix, suffix)`` pair around its ``ts``
    field, so a tick costs one string join per line. ``tally`` counts what
    each rendered batch holds per DWD branch: page, start, err, display,
    action and dirty (malformed) rows.
    """

    def __init__(self, seed: int, pool_size: int = 4096):
        rng = np.random.default_rng(seed)
        self._rng = rng
        self.pool: list[tuple[str, str, dict[str, int]]] = []
        for i in range(pool_size):
            self.pool.append(self._render(rng, i))

    @staticmethod
    def _render(rng, i: int) -> tuple[str, str, dict[str, int]]:
        tally = dict.fromkeys(("page", "start", "err", "display", "action", "dirty"), 0)
        if rng.random() < MALFORMED_SHARE:
            tally["dirty"] = 1
            # truncated envelope: from_json gives an all-null struct
            return f'{{"common":{{"mid":"mid_{i}","ts":', "", tally
        common = {
            "ar": str(int(rng.integers(1, 35))),
            "ch": str(rng.choice(["web", "oppo", "xiaomi", "appstore"])),
            "vc": f"v2.1.{int(rng.integers(100, 140))}",
            "mid": f"mid_{int(rng.integers(0, 2000))}",
            "uid": str(int(rng.integers(1, 1000))),
            "is_new": str(int(rng.integers(0, 2))),
            "ba": "Xiaomi",
            "md": "Xiaomi 10 Pro",
            "os": "Android 11.0",
        }
        body: dict = {"common": common}
        r = rng.random()
        if r < 0.05:
            body["err"] = f"error {int(rng.integers(1000, 4000))}"
            tally["err"] = 1
        elif r < 0.20:
            body["start"] = {"entry": "icon", "loading_time": str(int(rng.integers(1000, 9000)))}
            tally["start"] = 1
        else:
            body["page"] = {
                "page_id": str(rng.choice(["home", "good_detail", "cart", "search", "mine"])),
                "last_page_id": str(rng.choice(["home", "search", "good_list"])),
                "item": str(rng.choice(["phone", "tv", "book"])),
                "item_type": str(rng.choice(["keyword", "sku_id"])),
                "during_time": int(rng.integers(1000, 20000)),
            }
            nd = int(rng.integers(0, 4))
            na = int(rng.integers(0, 3))
            if nd:
                body["displays"] = [
                    {"item": str(int(rng.integers(1, 40))), "item_type": "sku_id",
                     "pos_id": str(j)} for j in range(nd)
                ]
            if na:
                body["actions"] = [
                    {"action_id": "cart_add", "item": str(int(rng.integers(1, 40))),
                     "item_type": "sku_id"} for _ in range(na)
                ]
            tally["page"] = 1
            tally["display"] = nd
            tally["action"] = na
        text = json.dumps(body, separators=(",", ":"))
        return text[:-1] + ',"ts":', "}", tally

    def pick(self, n: int) -> np.ndarray:
        return self._rng.integers(0, len(self.pool), n)

    def render(self, idx: np.ndarray, ts_ms: np.ndarray) -> tuple[str, dict[str, int]]:
        tally = dict.fromkeys(("page", "start", "err", "display", "action", "dirty"), 0)
        lines = []
        for i, ts in zip(idx.tolist(), ts_ms.tolist()):
            pre, post, t = self.pool[i]
            lines.append(f"{pre}{ts}{post}" if post else pre)
            for k, v in t.items():
                tally[k] += v
        return "\n".join(lines) + "\n", tally
