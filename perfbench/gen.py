"""Seeded input generators. The engine only ever sees what these return.

Everything here is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, and different seeds give inputs with the same sizes
and distributions, so work per run does not depend on the seed.

- :func:`write_tables` writes the TPC-H-like star schema plus ``events`` and
  a given ``documents`` table as parquet, with the column names, types and
  value distributions of the engine's registered queries' fixture tables
  (row counts scale with ``sf``: lineitem = 6M x sf).
- :func:`user_docs` / :func:`ingest_batches` build the bitemporal store's
  pre-load and its seeded transaction stream.
- :func:`corpus` adds seeded near-duplicate and exact-duplicate copies to the
  documents table (:func:`documents`), and records which pairs were
  injected.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def write_parquet(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents_text(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    out, i = [], 0
    for k in lens:
        out.append(" ".join(words[i:i + k]))
        i += k
    return out


def n_documents(sf: float) -> int:
    return max(500, int(50_000 * sf))


def documents(sf: float, seed: int) -> dict[str, list]:
    """The ``documents`` table's columns, from a seeded stream of its own,
    so its size does not change the other tables."""
    rng = np.random.default_rng([seed, 6])
    n_docs = n_documents(sf)
    text = documents_text(rng, n_docs)
    return {
        "doc_id": list(range(n_docs)),
        "text": text,
        "lang": _pick(rng, LANGS, n_docs, LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in text],
    }


def write_tables(out: str, sf: float, seed: int, docs: dict) -> dict[str, int]:
    """Write every table the registered read queries use into ``out``, with
    ``docs`` as the documents table; returns row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    write_parquet(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    write_parquet(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write_parquet(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    write_parquet(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    write_parquet(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    write_parquet(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    write_parquet(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    ev_start = np.datetime64("2024-01-01", "us")
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    write_parquet(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_start + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    write_parquet(out, "documents", docs)
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "events": n_ev,
            "documents": len(docs["doc_id"])}


# -- bitemporal_ingest ------------------------------------------------------

INGEST_T0 = dt.datetime(2020, 1, 1)
INGEST_GROUPS = 16
INGEST_SCHEMA = "name string, grp long, score long, tag string"


def _doc(rng, eid: str, version: int) -> dict:
    return {
        "id": eid,
        "name": f"{eid}-v{version}",
        "grp": int(rng.integers(0, INGEST_GROUPS)),
        "score": int(rng.integers(0, 1_000_000)),
        "tag": VOCAB[int(rng.integers(0, len(VOCAB)))],
    }


def user_docs(seed: int, n_entities: int, versions: int) -> list[tuple]:
    """Pre-load rows ``(eid, valid_from, tx_id, doc)``: every entity gets
    ``versions`` puts at strictly increasing valid times (a day apart,
    staggered by a second per entity), all before :data:`INGEST_T0`; ``tx_id`` is the
    row's rank in (valid_from, eid) order, so tx order equals valid-time
    order per entity."""
    rng = np.random.default_rng([seed, 2])
    base = INGEST_T0 - dt.timedelta(days=30)
    rows = []
    for e in range(n_entities):
        eid = f"u{e}"
        for v in range(versions):
            vf = base + dt.timedelta(hours=24 * v, seconds=e)
            rows.append((eid, vf, _doc(rng, eid, v)))
    rows.sort(key=lambda r: (r[1], r[0]))
    return [(eid, vf, i + 1, doc) for i, (eid, vf, doc) in enumerate(rows)]


def ingest_batches(seed: int, n_entities: int, n_batches: int,
                   batch_size: int) -> list[dict]:
    """Seeded transactions, one per ingest cycle; batch ``i`` commits at
    ``INGEST_T0 + i hours``. Three batches in four are all-put: updates of
    pre-loaded entities plus one new entity in eight. The second batch of
    every four also deletes one entity in five and back-dates the valid
    time of another one in five, and ends with a ``match`` on an entity
    created by an earlier batch, expecting the doc it was created with, so
    the transaction commits. Each batch names the entity and the valid
    time its reads look at."""
    rng = np.random.default_rng([seed, 3])
    out = []
    created: list[dict] = []
    for i in range(n_batches):
        tx_time = INGEST_T0 + dt.timedelta(hours=i)
        ops: list[tuple] = []
        mixed = i % 4 == 1
        n_new = batch_size // 8
        picks = rng.choice(n_entities, batch_size - n_new, replace=False)
        for j, e in enumerate(picks):
            eid = f"u{e}"
            if mixed and j % 5 == 1:
                ops.append(("delete", eid))
            elif mixed and j % 5 == 2:
                back = tx_time - dt.timedelta(days=int(rng.integers(1, 20)))
                ops.append(("put", _doc(rng, eid, 1000 + i), back))
            else:
                ops.append(("put", _doc(rng, eid, 1000 + i)))
        new_docs = [_doc(rng, f"n{i}-{j}", 0) for j in range(n_new)]
        ops.extend(("put", d) for d in new_docs)
        if mixed:
            d = created[int(rng.integers(0, len(created)))]
            ops.append(("match", d["id"], d))
        created.extend(new_docs)
        touched = [op[1]["id"] if op[0] == "put" else op[1] for op in ops]
        out.append({
            "tx_time": tx_time,
            "ops": ops,
            "mixed": mixed,
            "read_eid": touched[int(rng.integers(0, len(touched)))],
            "asof_grp": int(rng.integers(0, INGEST_GROUPS)),
            "asof_back": dt.timedelta(hours=int(rng.integers(0, 48))),
        })
    return out


# -- corpus ------------------------------------------------------------------

def corpus(docs: dict, seed: int, near_dup_rate: float, exact_dup_rate: float):
    """Append near-duplicate and exact copies of seeded base documents.

    Bases have at least 40 words, and a near-duplicate replaces one word in
    each run of forty, so its word-trigram Jaccard to the base is above 0.7,
    well over the dedup gates' 0.5 threshold. Returns
    ``(columns, near_pairs, exact_pairs)``; pairs are ``(base_id, copy_id)``.
    """
    rng = np.random.default_rng([seed, 4])
    ids = list(docs["doc_id"])
    text = list(docs["text"])
    n = len(ids)
    next_id = max(ids) + 1
    n_near = int(n * near_dup_rate)
    n_exact = int(n * exact_dup_rate)
    long_enough = [i for i in range(n) if text[i].count(" ") >= 39]
    bases = rng.choice(long_enough, n_near + n_exact, replace=False)
    near, exact = [], []
    out = {k: list(v) for k, v in docs.items()}
    for k, b in enumerate(bases):
        t = text[b]
        if k < n_near:
            w = t.split(" ")
            for j in range(0, len(w), 40):
                w[j + int(rng.integers(0, min(40, len(w) - j)))] = "dup"
            t = " ".join(w)
            near.append((ids[b], next_id))
        else:
            exact.append((ids[b], next_id))
        out["doc_id"].append(next_id)
        out["text"].append(t)
        out["lang"].append(out["lang"][b])
        out["source"].append(out["source"][b])
        out["n_chars"].append(len(t))
        next_id += 1
    return out, near, exact
