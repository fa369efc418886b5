#!/usr/bin/env python3
"""Output check of one run, untimed, after the timed phase.

Every op writes its full result as parquet under `<run>/out/<op>`. Ops
that carry an oracle SQL are compared with DuckDB on the run's own
tables, canonicalized as scripts/oracle_check.py does; an op without
one fails the check. The E1 pass must write one frame per distinct
generated record, and decoding the frames must give back exactly the
distinct records, canonicalized the same way.

The oracle's result depends only on its SQL and the tables, whose
content is fixed per scale, so it is cached beside the tables.
"""
import glob
import hashlib
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))

from oracle_check import TABLES, canon  # noqa: E402


def clear_program_scratch():
    """The program keeps scratch at fixed paths /tmp/graft_*."""
    for p in glob.glob("/tmp/graft_*"):
        shutil.rmtree(p, ignore_errors=True)


def _expected(con, sql, data_dir):
    with open(data_dir + ".stamp") as fh:
        key = hashlib.sha256((fh.read() + sql).encode()).hexdigest()
    path = os.path.join(data_dir + ".oracle", key + ".pkl")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con.execute(sql).fetchdf().to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
    return pd.read_pickle(path)


def _same(expected, got, ref):
    e, g = canon(expected), canon(got)
    if list(e.columns) != list(g.columns):
        return f"columns {list(g.columns)} != {ref} {list(e.columns)}"
    if e.shape != g.shape:
        return f"shape {g.shape} != {ref} {e.shape}"
    return "ok" if e.equals(g) else f"values differ from {ref}"


def check(run_dir, data_dir, rec, distinct):
    """Per-op status: 'ok', 'threw', or why its output failed the check.
    `distinct` holds the E1 input's distinct records, or is None."""
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    statuses = {}
    for op in rec["ops"]:
        name = op["name"]
        out = os.path.join(run_dir, "out", name)
        try:
            if op["error"] is not None:
                statuses[name] = "threw"
            elif name == "e1_e2_pass":
                frames = con.execute(
                    f"SELECT count(*) FROM '{run_dir}/frames/*.parquet'").fetchone()[0]
                got = con.execute(f"SELECT * FROM '{out}/*.parquet'").fetchdf()
                statuses[name] = (
                    _same(distinct, got, "generated records")
                    if frames == len(got) == len(distinct) else
                    f"frames {frames}, e2 rows {len(got)}, distinct records {len(distinct)}")
            elif name in oracle:
                got = con.execute(f"SELECT * FROM '{out}/*.parquet'").fetchdf()
                statuses[name] = _same(_expected(con, oracle[name], data_dir), got, "oracle")
            else:
                statuses[name] = "no oracle SQL"
        except Exception as ex:  # a check that cannot run is a failed check
            statuses[name] = f"check error: {ex}"[:300]
    return statuses
