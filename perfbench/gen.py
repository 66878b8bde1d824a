"""Seeded input generators. The same seed gives byte-identical inputs;
the program under test only ever sees these files.

- ``write_tables``: a TPC-H-shaped star (lineitem / orders / customer
  / events) as one parquet file per namespace, the layout the ``dir``
  source lists.
- ``write_emails``: email-shaped documents (nested headers, to/cc
  arrays, a body) like the reference's Enron integration corpus.
- ``change_log``: an insert/update/delete feed over Zipf-distributed
  keys with out-of-order and re-delivered changes, as JSON lines in
  the envelope shape the ``jsonl_tail`` source reads.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from typing import List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per namespace at scale 1.0: TPC-H sf0.1's lineitem, orders and
#: customer counts, and an events table of 100k rows
TABLE_ROWS = {"lineitem": 600_000, "orders": 150_000, "customer": 15_000, "events": 100_000}

_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def _scaled(n: int, scale: float) -> int:
    return max(10, int(n * scale))


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Writes ``<ns>.parquet`` for the four namespaces."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li = _scaled(TABLE_ROWS["lineitem"], scale)
    n_o = _scaled(TABLE_ROWS["orders"], scale)
    n_c = _scaled(TABLE_ROWS["customer"], scale)
    n_e = _scaled(TABLE_ROWS["events"], scale)
    flags = np.array(["A", "N", "R"])
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    etypes = np.array(["click", "view", "purchase", "signup", "logout"])

    def ts(n, span_days):
        secs = rng.integers(0, span_days * 86400, n)
        return _EPOCH + secs.astype("timedelta64[s]")

    qty = rng.integers(1, 51, n_li).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2)
    tables = {
        "lineitem": pa.table({
            "l_orderkey": rng.integers(1, n_o + 1, n_li, dtype=np.int64),
            "l_partkey": rng.integers(1, 20_000, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(1, 1_000, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": flags[rng.integers(0, 3, n_li)],
            "l_linestatus": status[rng.integers(0, 2, n_li)],
            "l_shipdate": ts(n_li, 2000),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_c + 1, n_o, dtype=np.int64),
            "o_orderstatus": status[rng.integers(0, 3, n_o)],
            "o_totalprice": np.round(rng.uniform(1000.0, 400_000.0, n_o), 2),
            "o_orderdate": ts(n_o, 2000),
            "o_orderpriority": prio[rng.integers(0, 5, n_o)],
        }),
        "customer": pa.table({
            "c_custkey": np.arange(1, n_c + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_c + 1)],
            "c_nationkey": rng.integers(0, 25, n_c, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_c), 2),
            "c_mktsegment": segs[rng.integers(0, 5, n_c)],
        }),
        "events": pa.table({
            "event_id": np.arange(1, n_e + 1, dtype=np.int64),
            "ts": ts(n_e, 30),
            "user_id": rng.integers(1, 5_000, n_e, dtype=np.int64),
            "event_type": etypes[rng.integers(0, 5, n_e)],
            "value": np.round(rng.uniform(0.0, 500.0, n_e), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_e)],
        }),
    }
    for ns, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{ns}.parquet"))


_WORDS = (
    "meeting gas power contract trading deal price market energy report "
    "review schedule call attached please thanks regards forward update "
    "question agreement capacity pipeline volume desk risk credit "
    "the a of to and in for on with is be this that"
).split()
_PEOPLE = [f"user{i:03d}" for i in range(400)]
_DOMAINS = ["enron.com", "enron.com", "enron.com", "aol.com", "hotmail.com", "dynegy.com"]
_FOLDERS = ["inbox", "sent_items", "deleted_items", "discussion_threads", "all_documents"]


def _addr(rng, n=None):
    if n is None:
        return f"{_PEOPLE[rng.integers(len(_PEOPLE))]}@{_DOMAINS[rng.integers(len(_DOMAINS))]}"
    return [_addr(rng) for _ in range(n)]


def email_docs(seed: int, n: int) -> List[dict]:
    """ASCII-only documents with no null fields, so the JSON the UDF
    receives is exactly this dict."""
    rng = np.random.default_rng(seed)
    docs = []
    for i in range(n):
        words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(20, 160)))]
        if rng.random() < 0.08:
            words.append("unsubscribe")
        sender = _addr(rng)
        docs.append({
            "msg_id": i + 1,
            "date": str(_EPOCH + np.timedelta64(int(rng.integers(0, 3 * 365 * 86400)), "s")),
            "headers": {
                "from": sender.upper() if rng.random() < 0.2 else sender,
                "subject": "  " + " ".join(words[:5]) + " ",
                "x_folder": "/".join(["enron", _PEOPLE[rng.integers(len(_PEOPLE))],
                                       _FOLDERS[rng.integers(len(_FOLDERS))]]),
            },
            "to": _addr(rng, int(rng.integers(1, 6))),
            "cc": _addr(rng, int(rng.integers(0, 4))),
            "body": " ".join(words),
        })
    return docs


EMAIL_SCHEMA = pa.schema([
    ("msg_id", pa.int64()),
    ("date", pa.string()),
    ("headers", pa.struct([("from", pa.string()), ("subject", pa.string()),
                           ("x_folder", pa.string())])),
    ("to", pa.list_(pa.string())),
    ("cc", pa.list_(pa.string())),
    ("body", pa.string()),
])


def write_emails(path: str, docs: List[dict]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, schema=EMAIL_SCHEMA), path)
    return path


CDC_PAYLOAD = "id BIGINT, v BIGINT, name STRING, seq BIGINT"


def change_log(seed: int, n: int, keys: int, first_seq: int = 0,
               live: dict = None) -> Tuple[List[str], dict]:
    """``n`` changes as JSON lines, plus the per-key liveness the next
    call continues from (pass it back as ``live``).

    Change ``seq`` gets the unique event time EPOCH + seq µs. Keys are
    Zipf-distributed (s=1.1). A key's first change, and its first after
    a delete, is an insert; later ones are updates, or deletes with
    probability 0.1. 3% of changes are emitted 1-40 positions late (out
    of order), and 2% are emitted a second time 5-200 positions later
    (re-delivery). Last-writer-wins over event time makes the final
    state independent of emission order."""
    rng = np.random.default_rng(seed)
    live = dict(live or {})
    ranks = np.arange(1, keys + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    picked = rng.choice(keys, size=n, p=p).tolist()
    delete = (rng.random(n) < 0.1).tolist()
    values = rng.integers(0, 1_000_000, n).tolist()
    names = rng.integers(0, 10_000, n).tolist()
    late = np.where(rng.random(n) < 0.03, rng.integers(1, 41, n), 0)
    pos = (np.arange(n) + late).tolist()
    again = np.where(rng.random(n) < 0.02, rng.integers(5, 201, n), 0).tolist()
    base = dt.datetime(2024, 1, 1)
    entries = []  # (position, index, line)
    for j in range(n):
        seq = first_seq + j
        k = picked[j]
        if not live.get(k):
            op = "insert"
            live[k] = True
        elif delete[j]:
            op = "delete"
            live[k] = False
        else:
            op = "update"
        ts = (base + dt.timedelta(microseconds=seq)).isoformat(sep=" ")
        line = json.dumps({
            "op": op, "ts": ts, "ns": "cdc",
            "data": {"id": k, "v": values[j], "name": f"n{names[j]}", "seq": seq},
        })
        entries.append((pos[j], j, line))
        if again[j]:
            entries.append((pos[j] + again[j], j, line))
    entries.sort()
    return [line for _, _, line in entries], live
