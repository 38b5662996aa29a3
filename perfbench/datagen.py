"""Seeded input generators for the benchmark.

Two corpora, both a pure function of ``seed`` (same seed, same bytes):

- ``write_tables``: the engine's ten-table star schema (TPC-H-like tables
  plus ``events``, ``documents`` and ``embeddings``), one single-row-group
  parquet file per table, with the same column names, types, value domains
  and row counts per scale factor as the engine's shipped test corpus.
- ``write_etl_corpus``: drop-zone CSV batches for the three file groups of
  ``fixtures/ingest_config.yaml`` (alpha stm ``;``, beta stm ``,``, beta
  sec). Each batch holds new files plus files re-delivered verbatim from
  earlier batches; the returned manifest records how many new keys each
  batch adds.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _days(rng, n, first: dt.date, last: dt.date) -> pa.Array:
    span = (last - first).days + 1
    base = np.datetime64(first.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _choice(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> list[str]:
    """Bag-of-words texts; every twentieth is an earlier text plus ' dup'
    (the near-duplicates the minhash and dedup queries look for)."""
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    return texts


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust = max(1, round(150000 * sf))
    n_supp = max(1, round(10000 * sf))
    n_part = max(1, round(200000 * sf))
    n_ord = max(1, round(1500000 * sf))
    n_li = max(1, round(6000000 * sf))
    n_ev = max(1, round(1000000 * sf))
    n_users = max(1, round(15000 * sf))
    n_docs = max(500, round(50000 * sf))
    n_emb = max(500, round(20000 * sf))
    i32 = pa.int32()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = 0.15 * centroids[labels] + rng.normal(0, 1 / np.sqrt(EMBED_DIM), (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- incremental ETL drop zone ----------------------------------------------

def _alpha_stm(rng, n, uid):
    dates = _dates(rng, n, "%d.%m.%Y")
    amounts = [f"{a:.2f}".replace(".", ",") for a in rng.uniform(1, 5000, n)]
    dcs = np.asarray(["D", "C"])[rng.integers(0, 2, n)]
    return [
        ("EE123456789012345678", d, a, c, f"payee-{u}")
        for d, a, c, u in zip(dates, amounts, dcs, uid)
    ]


def _beta_stm(rng, n, uid):
    dates = _dates(rng, n, "%Y/%m/%d")
    amounts = [f"{a:.2f}" for a in rng.uniform(1, 5000, n)]
    dcs = np.asarray(["D", "C"])[rng.integers(0, 2, n)]
    return [
        ("EE555000111222333444", d, a, c, f"shop {u}")
        for d, a, c, u in zip(dates, amounts, dcs, uid)
    ]


def _beta_sec(rng, n, uid):
    send = _dates(rng, n, "%Y-%m-%d")
    effect = _dates(rng, n, "%Y-%m-%d")
    prices = [f"{p:.4f}" for p in rng.uniform(1, 500, n)]
    return [
        (s, e, f"EE{u:010d}", str(int(q)), p)
        for s, e, u, q, p in zip(send, effect, uid, rng.integers(1, 1000, n), prices)
    ]


def _dates(rng, n, fmt):
    base = dt.date(2023, 1, 1)
    return [(base + dt.timedelta(days=int(d))).strftime(fmt) for d in rng.integers(0, 730, n)]


# (bank, acc_type, mapping_type, separator, header, row formatter)
GROUPS = (
    ("alpha", "current", "stm", ";", ("Account", "Date", "Amount", "D/C", "Payee"), _alpha_stm),
    ("beta", "savings", "stm", ",", ("Konto", "Kuupaev", "Summa", "DC", "Kirjeldus"), _beta_stm),
    ("beta", "broker", "sec", ",",
     ("SendDate", "EffectiveDate", "ISIN", "Quantity", "Price"), _beta_sec),
)


def write_etl_corpus(
    out_dir: str, seed: int, batches: int, files_per_group: int, rows_per_file: int
) -> list[dict]:
    """Write ``batches`` drop-zone directories under ``out_dir``; return the
    manifest, one entry per batch: its directory, the new keys it adds per
    mapping type, the rows it offers, and the re-delivered file names.

    Every generated row carries a unique id in a key column, so new rows
    never collide; a batch after the first also re-delivers one file per
    group, copied byte for byte from a random earlier batch."""
    rng = np.random.default_rng([seed, 2])
    manifest: list[dict] = []
    history: list[list[tuple[str, bytes]]] = []  # per batch: (name, bytes)
    uid = 0
    day = 0
    for b in range(batches):
        bdir = os.path.join(out_dir, f"batch_{b:03d}")
        os.makedirs(bdir, exist_ok=True)
        new = {"stm": 0, "sec": 0}
        files: list[tuple[str, bytes]] = []
        for bank, acc, mtype, sep, header, rows_fn in GROUPS:
            for _ in range(files_per_group):
                stamp = (dt.date(2025, 1, 1) + dt.timedelta(days=day)).strftime("%Y%m%d")
                day += 1
                ids = range(uid, uid + rows_per_file)
                uid += rows_per_file
                lines = [sep.join(header)] + [sep.join(r) for r in rows_fn(rng, rows_per_file, ids)]
                files.append((f"{bank}_{acc}_{mtype}_{stamp}.csv", ("\n".join(lines) + "\n").encode()))
                new[mtype] += rows_per_file
        redelivered = []
        if history:
            for g in range(len(GROUPS)):
                src = history[int(rng.integers(0, len(history)))]
                name, data = src[g * files_per_group + int(rng.integers(0, files_per_group))]
                redelivered.append(name)
                files.append((name, data))
        for name, data in files:
            with open(os.path.join(bdir, name), "wb") as f:
                f.write(data)
        history.append(files[: len(GROUPS) * files_per_group])
        offered = sum(new.values()) + len(redelivered) * rows_per_file
        manifest.append({"dir": bdir, "new": new, "offered": offered, "redelivered": redelivered})
    return manifest
