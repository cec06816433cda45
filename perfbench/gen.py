#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes, from one integer seed:

* the star-schema tables plus ``events``, ``documents`` and ``embeddings``
  as one parquet file each (the schemas and value domains of FIXTURES.md
  section 5), read by the query mix;
* the Xetra-CSV layout of FIXTURES.md section 1 derived from ``events``
  with the ``ops.EventBars`` column mapping (user_id -> ISIN, ts ->
  Date/Time, value -> Start/End/Min/MaxPrice, props.k -> TradedVolume,
  event_type -> Mnemonic): ``<date>/<date>_BINS_XETR<HH>.csv``, one file
  per hour, replicated R times with seeded ISIN offsets and a seeded row
  order inside each file.

Every random draw comes from ``numpy.random.default_rng(seed)``, so the same
seed gives byte-identical files. Event timestamps are distinct
microseconds, so (ISIN, Date) groups never tie on Time and the report's
first/last prices are well defined.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
CSV_HEADER = ("ISIN,Mnemonic,Date,Time,StartPrice,EndPrice,MinPrice,"
              "MaxPrice,TradedVolume")
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small big order customer "
         "query stream group filter vector").split()


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _days_us(rng, n, lo, hi):
    """n timestamps at midnight between two ISO dates (as epoch micros)."""
    a = dt.date.fromisoformat(lo).toordinal()
    b = dt.date.fromisoformat(hi).toordinal()
    epoch = dt.date(1970, 1, 1).toordinal()
    return (rng.integers(a, b + 1, n) - epoch) * 86_400_000_000


def make_tables(rng, sf, days, events_per_day):
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), \
        int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(_days_us(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days_us(rng, n_li, "1995-01-02", "2001-11-04"))})

    # events: distinct microsecond timestamps over `days` days, ids in ts
    # order, so no two bars of one instrument share a Time
    n_ev = events_per_day * days
    span = days * 86_400_000_000
    offs = np.unique(rng.integers(0, span, n_ev + n_ev // 10))
    offs = np.sort(rng.choice(offs, n_ev, replace=False))
    base_us = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) \
        * 1_000_000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(base_us + offs),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_doc = max(50, int(50_000 * sf))
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(np.array(WORDS)[
            rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    n_vec = max(50, int(50_000 * sf))
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return t


def write_xetra(rng, events, out, replicas):
    """Xetra-CSV layout from events; returns (dates, rows, files, bytes)."""
    ts = events.column("ts").to_numpy().astype("datetime64[us]")
    user = events.column("user_id").to_numpy()
    etype = np.array(events.column("event_type").to_pylist())
    value = events.column("value").to_numpy()
    k = np.array([int(p[6:-1]) for p in events.column("props").to_pylist()])
    day = ts.astype("datetime64[D]")
    hour = (ts - day).astype("timedelta64[h]").astype(int)
    # replica r shifts every ISIN by a seeded offset; the gaps between
    # offsets exceed the user-id range, so replicas never collide
    width = int(user.max()) + 1
    offsets = np.sort(rng.choice(np.arange(1, 1000), replicas, replace=False))
    offsets = offsets * 10 ** len(str(width))
    isin = [[f"DE{u + o:010d}" for u in user] for o in offsets]
    # each line is an ISIN and the event's columns after it
    rest = []
    for i, t in enumerate(ts):
        p = repr(float(value[i]))
        rest.append(f",{etype[i].upper()},{str(t)[:10]},{str(t)[11:26]},"
                    f"{p},{p},{p},{p},{k[i]}")
    dates = sorted({str(d) for d in day})
    rows = files = nbytes = 0
    for d in dates:
        os.makedirs(os.path.join(out, d), exist_ok=True)
    for d in dates:
        in_day = day == np.datetime64(d)
        for h in range(24):
            idx = np.nonzero(in_day & (hour == h))[0]
            lines = [isin[r][i] + rest[i] for r in range(replicas) for i in idx]
            lines = [lines[j] for j in rng.permutation(len(lines))]
            body = "\n".join([CSV_HEADER] + lines) + "\n"
            path = os.path.join(out, d, f"{d}_BINS_XETR{h:02d}.csv")
            with open(path, "w") as f:
                f.write(body)
            rows += len(lines)
            files += 1
            nbytes += len(body)
    return dates, rows, files, nbytes


def generate(seed, out, days=30, replicas=1, sf=0.01, events_per_day=334):
    rng = np.random.default_rng(seed)
    tables = make_tables(rng, sf, days, events_per_day)
    tdir = os.path.join(out, "tables")
    os.makedirs(tdir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(tdir, f"{name}.parquet"))
    dates, rows, files, nbytes = write_xetra(
        rng, tables["events"], os.path.join(out, "xetra"), replicas)
    manifest = {"seed": seed, "dates": dates, "csv_rows": rows,
                "csv_files": files, "csv_bytes": nbytes,
                "replicas": replicas, "sf": sf,
                "table_rows": {n: t.num_rows for n, t in tables.items()}}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
