"""Seeded input generator for the benchmark.

`base(out, seed, sf)` writes the ten tables the engine's queries read
(`region nation customer supplier part orders lineitem events documents
embeddings`, one parquet each) at scale factor `sf`, with the same
schema, types, value ranges and parquet layout as the engine's test
data: uniform keys, TPC-H style dates, a 30-word text vocabulary with
5% near-duplicate documents, unit-norm 64-d embeddings.

`scale_up(base_dir, out, k, seed)` expands a base set k times:
  - every replica offsets its keys (customers, orders, parts, suppliers,
    documents, events, event users, vectors), so joins stay referentially
    intact and per-user joins and patterns grow k-fold, not k^2-fold;
  - replicas after the first get perturbed prices, balances and event
    values, fresh embeddings, and half the words of each document
    redrawn, so replicas are neither exact nor near duplicates;
  - the dup structure is kept inside each replica, and event times get
    jitter but stay in the same range, so per-window state grows k-fold.

Both write to a temporary directory and rename it into place, so an
interrupted run never leaves a half-written set behind.
"""
import datetime as dt
import os
import shutil

import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
DAY0 = dt.datetime(1995, 1, 1)
EV0 = dt.datetime(2024, 1, 1)
EV_SPAN_US = 30 * 86400 * 10**6
N_USERS = 1500  # event user ids are 0..N_USERS-1 at every scale factor


def _write(df, path):
    for c in df.columns:  # microsecond timestamps, as Spark reads them
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    df.to_parquet(path, index=False, compression="snappy")


def _publish(tmp, out):
    os.makedirs(os.path.dirname(out), exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _days(rng, lo, hi, n):
    d = rng.integers(lo, hi + 1, n)
    return pd.to_datetime(DAY0) + pd.to_timedelta(d, unit="D")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return out


def _with_dups(rng, texts):
    """5% of documents copy another document's text plus ' dup'."""
    n = len(texts)
    dups = rng.choice(n, n // 20, replace=False)
    src = rng.integers(0, n, len(dups))
    out = list(texts)
    for d, s in zip(dups, src):
        if s != d:
            out[d] = texts[s] + " dup"
    return out


def _unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def base(out, seed, sf=0.1):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_vec = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    ship_hi = (dt.datetime(2001, 11, 4) - DAY0).days
    ord_hi = (dt.datetime(2001, 8, 1) - DAY0).days
    i32 = np.int32
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, 0, ord_hi, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, 1, ship_hi, n_line)}),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.to_datetime(EV0) + pd.to_timedelta(
                np.sort(rng.integers(0, EV_SPAN_US, n_ev)), unit="us"),
            "user_id": rng.integers(0, N_USERS, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
    }
    texts = _with_dups(rng, _texts(rng, n_doc))
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(_unit_vectors(rng, n_vec)),
        "label": rng.integers(0, 10, n_vec).astype(i32)})
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in tables.items():
        _write(df, os.path.join(tmp, f"{name}.parquet"))
    _publish(tmp, out)


def _perturb_words(rng, text):
    words = text.split()
    redraw = rng.random(len(words)) < 0.5
    picks = rng.integers(0, len(VOCAB), len(words))
    return " ".join(VOCAB[p] if r else w for w, r, p in zip(words, redraw, picks))


def scale_up(base_dir, out, k, seed):
    rng = np.random.default_rng(seed)
    src = {t: pd.read_parquet(os.path.join(base_dir, f"{t}.parquet")) for t in TABLES}
    n = {t: len(df) for t, df in src.items()}
    parts = {t: [] for t in TABLES}
    for r in range(k):
        def noise(col, rel):
            if r == 0:
                return col
            return np.round(col * rng.uniform(1 - rel, 1 + rel, len(col)), 2)
        c = src["customer"].copy()
        c["c_custkey"] += r * n["customer"]
        c["c_name"] = [f"Customer#{i:09d}" for i in c["c_custkey"]]
        c["c_acctbal"] = noise(c["c_acctbal"].to_numpy(), 0.05)
        s = src["supplier"].copy()
        s["s_suppkey"] += r * n["supplier"]
        s["s_name"] = [f"Supplier#{i:09d}" for i in s["s_suppkey"]]
        s["s_acctbal"] = noise(s["s_acctbal"].to_numpy(), 0.05)
        p = src["part"].copy()
        p["p_partkey"] += r * n["part"]
        o = src["orders"].copy()
        o["o_orderkey"] += r * n["orders"]
        o["o_custkey"] += r * n["customer"]
        o["o_totalprice"] = noise(o["o_totalprice"].to_numpy(), 0.05)
        li = src["lineitem"].copy()
        li["l_orderkey"] += r * n["orders"]
        li["l_partkey"] += r * n["part"]
        li["l_suppkey"] += r * n["supplier"]
        li["l_extendedprice"] = noise(li["l_extendedprice"].to_numpy(), 0.05)
        ev = src["events"].copy()
        ev["event_id"] += r * n["events"]
        ev["user_id"] += r * N_USERS
        ev["value"] = noise(ev["value"].to_numpy(), 0.2)
        if r:
            # jitter within ±30 min, clipped to the base time range
            us = (ev["ts"] - pd.Timestamp(EV0)).to_numpy().astype("timedelta64[us]").astype(np.int64)
            us = np.clip(us + rng.integers(-1800, 1801, len(us)) * 10**6, 0, EV_SPAN_US - 1)
            ev["ts"] = pd.to_datetime(EV0) + pd.to_timedelta(us, unit="us")
        d = src["documents"].copy()
        d["doc_id"] += r * n["documents"]
        if r:
            base_texts = [t[:-4] if t.endswith(" dup") else t for t in d["text"]]
            fresh = [_perturb_words(rng, t) for t in base_texts]
            # keep the replica's near-dup pairs: a dup copies its source's new text
            by_text = {}
            for i, t in enumerate(base_texts):
                by_text.setdefault(t, i)
            d["text"] = [fresh[by_text[b]] + " dup" if t.endswith(" dup") else fresh[i]
                         for i, (t, b) in enumerate(zip(d["text"], base_texts))]
            d["n_chars"] = np.array([len(t) for t in d["text"]], dtype=np.int64)
        e = src["embeddings"].copy()
        e["vec_id"] += r * n["embeddings"]
        if r:
            e["embedding"] = list(_unit_vectors(rng, len(e)))
        for t, df in zip(["customer", "supplier", "part", "orders", "lineitem",
                          "events", "documents", "embeddings"],
                         [c, s, p, o, li, ev, d, e]):
            parts[t].append(df)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in TABLES:
        if parts[t]:
            df = pd.concat(parts[t], ignore_index=True)
            if t == "events":
                df = df.sort_values(["ts", "event_id"], kind="stable", ignore_index=True)
        else:
            df = src[t]
        _write(df, os.path.join(tmp, f"{t}.parquet"))
    _publish(tmp, out)
