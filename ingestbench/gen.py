"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the program reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
at a given scale factor. The shapes follow the program's testdata
contract: TPC-H-like star schema row counts (lineitem = 6M x sf), an
`events` table spread over January 2024, a `documents` corpus with ~5%
near-duplicates (a copy of another document plus the token `dup`), and
unit-norm 64-d `embeddings`.

The tables use a fixed internal seed, so every run at a scale reads the
same bytes. The run's `--seed` drives only the op order and the E1 input:
ConsumptionIndustry envelopes covering 30 days x 98 municipalities x 5
branches x 24 hours (352,800 distinct records), plus ~10% same-day
duplicates, each an exact copy placed in a random envelope of the same
day. One envelope per (day, municipality), in parquet column `js`.

    python3 gen.py <out_dir> <sf>
"""
import datetime as dt
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
E1_FILES = 4
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate widget gear gizmo".split()


def _ts(base, seconds):
    return (np.datetime64(base, "us")
            + (np.asarray(seconds) * 1e6).astype("timedelta64[us]"))


def _days(base, days):
    return np.datetime64(base, "us") + np.asarray(days).astype(
        "timedelta64[D]").astype("timedelta64[us]")


def tables(sf):
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days("1995-01-01", rng.integers(1, 2499, n_li))})
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(["click", "view", "purchase", "signup",
                                  "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 101, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return out


def envelopes(out_dir, seed):
    """Writes the E1 input; returns (records in, the distinct records as a
    DataFrame in the contract's columns, ConsumptionkWh rounded to float
    as the contract types it)."""
    rng = np.random.default_rng(seed)
    munis = [str(101 + 7 * i) for i in range(98)]
    branches = ["Erhverv", "Offentligt", "Privat", "Landbrug", "Industri"]
    start = dt.datetime(2024, 11, 1)
    docs = []
    distinct = {c: [] for c in ("HourUTC", "HourDK", "MunicipalityNo", "Branche",
                                "ConsumptionkWh")}
    for day in range(30):
        hours = [start + dt.timedelta(days=day, hours=h) for h in range(24)]
        utc = [f"{u:%Y-%m-%dT%H:%M:%S}" for u in hours]
        dk = [f"{u + dt.timedelta(hours=1):%Y-%m-%dT%H:%M:%S}" for u in hours]
        heads = [f'{{"HourUTC": "{u}", "HourDK": "{d}", ' for u, d in zip(utc, dk)]
        by_muni = []
        for muni in munis:
            kwh = (rng.integers(0, 10_000_000, 24 * len(branches)) / 1000).tolist()
            keys = [f'"MunicipalityNo": "{muni}", "Branche": "{b}", "ConsumptionkWh": '
                    for b in branches]
            by_muni.append([f"{heads[i // len(branches)]}{keys[i % len(branches)]}{k}}}"
                            for i, k in enumerate(kwh)])
            distinct["HourUTC"] += [u for u in utc for _ in branches]
            distinct["HourDK"] += [d for d in dk for _ in branches]
            distinct["MunicipalityNo"] += [muni] * len(kwh)
            distinct["Branche"] += branches * len(hours)
            distinct["ConsumptionkWh"] += kwh
        day_recs = [r for recs in by_muni for r in recs]
        dups = np.flatnonzero(rng.random(len(day_recs)) < 0.1)
        for i, m in zip(dups, rng.integers(0, len(munis), len(dups))):
            by_muni[m].append(day_recs[i])
        docs += [recs for recs in by_muni]
    os.makedirs(out_dir, exist_ok=True)
    for f in range(E1_FILES):
        part = docs[f::E1_FILES]
        js = [f'{{"total": {len(r)}, "dataset": "ConsumptionIndustry", '
              f'"records": [{",".join(r)}]}}' for r in part]
        pq.write_table(pa.table({"js": js}), os.path.join(out_dir, f"part-{f}.parquet"))
    distinct = pd.DataFrame(distinct)
    distinct["ConsumptionkWh"] = distinct["ConsumptionkWh"].astype(np.float32).astype(np.float64)
    return sum(len(r) for r in docs), distinct


def write(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
