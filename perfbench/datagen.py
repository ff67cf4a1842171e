"""Seeded input generators.

Two families, both pure functions of the seed (same seed -> byte-identical
files):

- ``write_star_tables``: the star-schema tables the query registry reads
  (region .. lineitem, events, documents, embeddings), with the column types
  and value distributions of the repository's reference test data
  (TESTDATA.md), scaled by ``sf``.
- ``ods_plan``: the two gmall ODS topics as JSON-lines file contents — the
  behaviour log (dirty lines, start/page mix, ``displays`` arrays, hot
  devices, local out-of-order events) and Debezium CDC for order_info,
  order_detail and the user_info dimension. Contents are built up front so
  the replay thread only writes them on schedule.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy",
    )


def star_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (the reference test
    data's shape: the corpora have a 500-row floor)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def write_star_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table the registry reads to ``out_dir/<table>.parquet``.
    Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = star_sizes(sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })

    def money(lo: float, hi: float, k: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, k), 2)

    k = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(k, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k, dtype="int32")),
        "c_acctbal": pa.array(money(-999.99, 9999.99, k)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, k)]),
    })
    k = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(k, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(rng.integers(0, 25, k, dtype="int32")),
        "s_acctbal": pa.array(money(-999.99, 9999.99, k)),
    })
    k = n["part"]
    keys = np.arange(k, dtype="int64")
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names[rng.integers(0, len(names), k)]),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(1, 26, k).astype(str))
        ),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, k)]),
        "p_size": pa.array(rng.integers(1, 51, k, dtype="int32")),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
    })
    k = n["orders"]
    d0, d1 = _epoch_us(1995, 1, 1) // _DAY_US, _epoch_us(2001, 8, 1) // _DAY_US
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(k, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k, dtype="int64")),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, k)]),
        "o_totalprice": pa.array(money(1000.0, 500_000.0, k)),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, k) * _DAY_US),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, k)]),
    })
    k = n["lineitem"]
    s0, s1 = _epoch_us(1995, 1, 2) // _DAY_US, _epoch_us(2001, 11, 4) // _DAY_US
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, n["part"], k, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, k, dtype="int32")),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype("float64")),
        "l_extendedprice": pa.array(money(900.0, 105_000.0, k)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, k)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, k)]),
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, k) * _DAY_US),
    })
    k = n["events"]
    t0 = _epoch_us(2024, 1, 1)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(k, dtype="int64")),
        "ts": _ts(np.sort(rng.integers(t0, t0 + 30 * _DAY_US, k))),
        "user_id": pa.array(
            rng.integers(0, max(int(15_000 * sf), 10), k, dtype="int64")
        ),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, k)]),
        "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    })

    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup operators'
            # positive cases); ~0.2% are exact copies
            src = texts[int(rng.integers(0, i))]
            texts.append(src if rng.random() < 0.04 else src + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(k, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, k, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(k)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    k = n["embeddings"]
    vecs = rng.standard_normal((k, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(k, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k, dtype="int32")),
    })
    return {"region": 5, "nation": 25, **n}


def dir_digest(path: str) -> str:
    """sha256 over the sorted (name, bytes) of every file in ``path``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# ODS stream replay inputs
# ---------------------------------------------------------------------------

# event time of the replay's first file: two minutes before midnight, so a
# replay crosses a civil-date boundary (daily UV) within its first files
ODS_T0_MS = int(dt.datetime(2024, 1, 1, 23, 58, tzinfo=dt.timezone.utc).timestamp() * 1000)
_PAGES = ["home", "good_list", "good_detail", "cart", "trade", "payment", "mine"]
_ENTRIES = ["icon", "notice", "install"]


# traffic shape every replay shares: hot devices and their share of events,
# dirty (truncated) lines, start vs page events, entry pages, pages with a
# ``displays`` array, locally swapped lines, user_info dim rows and changes
# per CDC file, and the event time each file spans
HOT_DEVICES = 4
HOT_SHARE = 0.2
DIRTY_SHARE = 0.02
START_SHARE = 0.12
ENTRY_SHARE = 0.3
DISPLAY_SHARE = 0.5
DISORDER_SHARE = 0.1
DIM_ROWS = 100
DIM_CHANGES = 6
SPAN_MS = 10_000


@dataclass(frozen=True)
class OdsShape:
    """Size of one replay: file pairs, events per log file, devices and
    orders per CDC file."""

    files: int
    log_events: int = 200
    devices: int = 200
    orders: int = 8


@dataclass
class OdsPlan:
    """File contents in replay order and the traffic properties measured
    on them."""

    log_files: list[bytes]
    cdc_files: list[bytes]
    props: dict = field(default_factory=dict)


def _log_file(rng, shape: OdsShape, k: int, stats: dict) -> bytes:
    n = shape.log_events
    base = ODS_T0_MS + k * SPAN_MS
    ts = base + np.sort(rng.choice(SPAN_MS, n, replace=False))
    hot = rng.random(n) < HOT_SHARE
    dev = np.where(
        hot,
        rng.integers(0, HOT_DEVICES, n),
        rng.integers(HOT_DEVICES, shape.devices, n),
    )
    # local disorder: swap some adjacent lines (event time stays unique and
    # within this file, so no event is late for the 1 s watermark)
    order = np.arange(n)
    swaps = np.flatnonzero(rng.random(n - 1) < DISORDER_SHARE / 2)
    for i in swaps:
        order[i], order[i + 1] = order[i + 1], order[i]
    lines = []
    for j in order:
        mid = f"mid_{int(dev[j])}"
        rec: dict = {
            "common": {
                "mid": mid, "uid": str(int(dev[j]) % 97), "ar": "110000",
                "ba": "Xiaomi", "ch": "web", "md": "Xiaomi 9", "os": "Android 11",
                "vc": "v2.1.134",
                "is_new": "1" if rng.random() < 0.3 else "0",
            },
            "ts": int(ts[j]),
        }
        if rng.random() < START_SHARE:
            rec["start"] = {
                "entry": _ENTRIES[int(rng.integers(0, 3))],
                "loading_time": int(rng.integers(100, 20_000)),
                "open_ad_id": int(rng.integers(1, 20)),
                "open_ad_ms": int(rng.integers(100, 9000)),
                "open_ad_skip_ms": 0,
            }
            stats["start"] += 1
        else:
            entry = rng.random() < ENTRY_SHARE
            rec["page"] = {
                "page_id": _PAGES[int(rng.integers(0, len(_PAGES)))],
                "last_page_id": None if entry else _PAGES[int(rng.integers(0, 7))],
                "during_time": int(rng.integers(1000, 20_000)),
            }
            if rng.random() < DISPLAY_SHARE:
                rec["displays"] = [
                    {
                        "display_type": "query", "item": str(int(rng.integers(1, 35))),
                        "item_type": "sku_id", "order": o + 1,
                        "pos_id": int(rng.integers(1, 6)),
                    }
                    for o in range(int(rng.integers(1, 5)))
                ]
            stats["page"] += 1
        line = json.dumps(rec, separators=(",", ":"))
        if rng.random() < DIRTY_SHARE:
            line = line[: len(line) // 2]  # truncated record -> dirty side
            stats["dirty"] += 1
        stats["hot"] += int(hot[j])
        lines.append(line)
    stats["events"] += n
    stats["out_of_order"] += int(np.sum(ts[order][1:] < ts[order][:-1]))
    return ("\n".join(lines) + "\n").encode()


def _debezium(table: str, op: str, before, after, ts_ms: int) -> str:
    return json.dumps(
        {
            "before": before, "after": after,
            "source": {"db": "gmall", "table": table},
            "op": op, "ts_ms": ts_ms,
        },
        separators=(",", ":"),
    )


def _fmt_time(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _cdc_file(rng, shape: OdsShape, k: int, stats: dict, dims: dict) -> bytes:
    base = ODS_T0_MS + k * SPAN_MS
    lines = []
    for i in range(shape.orders):
        oid = k * shape.orders + i
        o_ms = base + int(rng.integers(0, SPAN_MS))
        info = {
            "id": str(oid), "user_id": str(int(rng.integers(0, DIM_ROWS))),
            "province_id": str(int(rng.integers(1, 35))),
            "order_status": "1001",
            "total_amount": f"{rng.uniform(10, 5000):.2f}",
            "create_time": _fmt_time(o_ms),
        }
        lines.append(_debezium("order_info", "c", None, info, o_ms))
        stats["c"] += 1
        for d in range(int(rng.integers(1, 6))):
            # most details fall inside the +-5 s interval join, some miss it
            d_ms = o_ms + int(rng.integers(-3000, 8000))
            detail = {
                "id": str(oid * 10 + d), "order_id": str(oid),
                "sku_id": str(int(rng.integers(1, 35))),
                "sku_num": str(int(rng.integers(1, 4))),
                "order_price": f"{rng.uniform(1, 999):.2f}",
                "create_time": _fmt_time(d_ms),
            }
            lines.append(_debezium("order_detail", "c", None, detail, d_ms))
            stats["c"] += 1
        if rng.random() < 0.2:
            # status change: no routing config row, dropped by the router
            upd = dict(info, order_status="1002")
            lines.append(_debezium("order_info", "u", info, upd, o_ms + 1))
            stats["u"] += 1
    for _ in range(DIM_CHANGES):
        pk = int(rng.integers(0, DIM_ROWS))
        old = dims.get(pk)
        roll = rng.random()
        if old is not None and roll < 0.08:
            lines.append(_debezium("user_info", "d", old, None, base))
            stats["d"] += 1
            del dims[pk]
            continue
        # the zero-padded version leads the row after the pk, so the dim
        # upsert's in-batch tie-break (lexicographic max) is last-write-wins
        ver = dims.get(("v", pk), 0) + 1
        dims[("v", pk)] = ver
        new = {
            "id": str(pk), "version": f"{ver:06d}",
            "name": f"user{pk}_{int(rng.integers(0, 1000))}",
            "gender": "MF"[int(rng.integers(0, 2))],
        }
        op = "u" if old is not None else "c"
        lines.append(_debezium("user_info", op, old, new, base))
        stats[op] += 1
        dims[pk] = new
    return ("\n".join(lines) + "\n").encode()


def ods_plan(shape: OdsShape, seed: int) -> OdsPlan:
    """Build every replay file for ``seed``; ``props`` holds the traffic
    properties measured on the generated records."""
    rng = np.random.default_rng([seed, 2])
    log_stats = dict(events=0, dirty=0, hot=0, out_of_order=0, start=0, page=0)
    cdc_stats = dict(c=0, u=0, d=0)
    dims: dict = {}
    log_files, cdc_files = [], []
    for k in range(shape.files):
        log_files.append(_log_file(rng, shape, k, log_stats))
        cdc_files.append(_cdc_file(rng, shape, k, cdc_stats, dims))
    ev = max(log_stats["events"], 1)
    cdc_n = max(sum(cdc_stats.values()), 1)
    props = {
        "files": shape.files,
        "events_per_file": shape.log_events,
        "cdc_records_per_file": round(cdc_n / shape.files, 2),
        "dirty_share": round(log_stats["dirty"] / ev, 4),
        "hot_device_share": round(log_stats["hot"] / ev, 4),
        "out_of_order_share": round(log_stats["out_of_order"] / ev, 4),
        "start_share": round(log_stats["start"] / ev, 4),
        "cdc_op_mix": {op: round(c / cdc_n, 4) for op, c in cdc_stats.items()},
    }
    return OdsPlan(log_files, cdc_files, props)
