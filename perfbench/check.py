"""Output checks against independent references computed in DuckDB.

Each check_* function takes the harness record of one run and returns
(failed_ops, problems): the operations whose output disagrees with the
reference, and a description of each disagreement.
"""
import glob
import json
import os
import re

import duckdb
import pandas as pd

# Columns the engine adds with wall-clock values, and the layout column.
def _kept(cols):
    return [c for c in cols if not c.startswith("_sdc_") and c != "__p"]


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET threads = 2")
    return con


def _files(pattern):
    return sorted(glob.glob(pattern))


def _plist(files):
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def _same(con, expected_sql, actual_sql):
    """Row multisets of two queries with the same columns are equal."""
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (({expected_sql}) EXCEPT ALL ({actual_sql}))),"
        f" (SELECT count(*) FROM (({actual_sql}) EXCEPT ALL ({expected_sql})))"
    ).fetchone()
    return diff == (0, 0), diff


# --- elt_batch ----------------------------------------------------------

ELT_KEYS = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"],
            "customer": ["c_custkey"], "supplier": ["s_suppkey"]}
ELT_STREAMS = {"orders": "public-orders", "lineitem": "public-lineitem",
               "customer": "public-customer", "supplier": "public-supplier"}
# The pipeline's masking rules, restated in DuckDB SQL.
ELT_MASKS = {
    "orders": {"o_clerk": "substr(o_clerk, 1, 6) || sha256(substr(o_clerk, 7))"},
    "lineitem": {"l_comment": "'hidden'"},
    "customer": {
        "c_name": "sha256(c_name)",
        "c_phone": "substr(c_phone, 1, 3) || sha256(substr(c_phone, 4))",
        "c_acctbal": "CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 0.0 "
                     "ELSE c_acctbal END"},
    "supplier": {"s_address": "'hidden'", "s_phone": "sha256(s_phone)"},
}


def _epoch_of(path):
    return int(re.search(r"e(\d{4})\.parquet$", path).group(1))


def _lww(table, files):
    """Last-write-wins replay of a table's source files: per key, the row
    with the largest updated_at (unique per key by construction)."""
    keys = ", ".join(ELT_KEYS[table])
    return (f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {keys} ORDER BY updated_at DESC) AS rn "
            f"FROM read_parquet({_plist(files)})) WHERE rn = 1")


def check_elt(rec):
    con = _connect()
    problems, failed = [], 0
    epochs = [{"epoch": 0, "read": rec["snapshot_read"]}] + rec["epochs"]
    for table, src in rec["sources"].items():
        files = _files(os.path.join(src, "e*.parquet"))
        key = ELT_KEYS[table][0]
        for ep in epochs:
            upto = [f for f in files if _epoch_of(f) <= ep["epoch"]]
            if table == "supplier":
                # a full-table source keeps only its current extract
                if ep is not epochs[-1]:
                    continue
                upto = files
            want = con.execute(
                f"SELECT count(*), coalesce(sum({key}), 0), "
                f"coalesce(sum(updated_at), 0) FROM ({_lww(table, upto)})").fetchone()
            got = tuple(ep["read"][table])
            if tuple(want) != got:
                failed += 1
                problems.append(f"elt {table} epoch {ep['epoch']}: target "
                                f"(count, sum key, sum updated_at) {got} != replay {want}")
        # final target, row by row, with the masking rules applied
        tgt = rec["targets"][table]
        actual = (f"SELECT * FROM read_parquet('{tgt}/**/*.parquet', "
                  f"hive_partitioning = true, union_by_name = true)")
        cols = [r[0] for r in con.execute(f"DESCRIBE {actual}").fetchall()]
        cols = _kept(cols)
        sel = ", ".join(f"{ELT_MASKS[table].get(c, c)} AS {c}" for c in cols)
        ok, diff = _same(con, f"SELECT {sel} FROM ({_lww(table, files)})",
                         f"SELECT {', '.join(cols)} FROM ({actual})")
        if not ok:
            failed += 1
            problems.append(f"elt {table} final target differs from the masked "
                            f"replay (missing, extra) = {diff}")
    # bookmarks: each INCREMENTAL stream's max updated_at
    with open(rec["state_path"]) as f:
        state = json.load(f)["bookmarks"]
    for table in ("orders", "lineitem", "customer"):
        files = _files(os.path.join(rec["sources"][table], "e*.parquet"))
        want = con.execute(
            f"SELECT max(updated_at) FROM read_parquet({_plist(files)})").fetchone()[0]
        got = state.get(ELT_STREAMS[table], {}).get("replication_key_value")
        if got != want:
            failed += 1
            problems.append(f"elt bookmark {table}: {got} != max updated_at {want}")
    return failed, problems


# --- cdc_slot -----------------------------------------------------------

def _wal_events(wal_dir):
    rows = []
    for seg in _files(os.path.join(wal_dir, "wal_*.log")):
        with open(seg) as f:
            for line in f:
                lsn, payload = line.rstrip("\n").split("\t", 1)
                m = json.loads(payload)
                if m["action"] not in ("I", "U", "D"):
                    continue
                vals = {c["name"]: c["value"] for c in
                        m.get("columns") or m.get("identity")}
                rows.append((m["table"], int(lsn), m["action"], vals["id"],
                             vals.get("v"), vals.get("n")))
    return pd.DataFrame(rows, columns=["tbl", "lsn", "action", "id", "v", "n"])


def _replay(table, head):
    return (f"SELECT id, v, n FROM (SELECT *, row_number() OVER (PARTITION BY id "
            f"ORDER BY lsn DESC) AS rn FROM ev WHERE tbl = '{table}' "
            f"AND lsn <= {head}) WHERE rn = 1 AND action <> 'D'")


def check_cdc(rec):
    con = _connect()
    con.register("ev", _wal_events(rec["wal_dir"]))
    problems, bad_steps = [], set()
    for st in rec["steps"]:
        for fb in ("feedback_a", "feedback_b"):
            if st[fb] != st["head_lsn"]:
                bad_steps.add(st["step"])
                problems.append(f"cdc step {st['step']}: {fb} {st[fb]} != "
                                f"log head {st['head_lsn']}")
        for table in ("ta", "tb"):
            want = con.execute(
                f"SELECT count(*), coalesce(sum(id), 0), coalesce(sum(n), 0) "
                f"FROM ({_replay(table, st['head_lsn'])})").fetchone()
            got = tuple(st["read"][table])
            if tuple(want) != got:
                bad_steps.add(st["step"])
                problems.append(f"cdc step {st['step']} {table}: read "
                                f"(count, sum id, sum n) {got} != replay {want}")
    head = rec["steps"][-1]["head_lsn"]
    for table, path in rec["targets"].items():
        actual = (f"SELECT id, v, n FROM read_parquet('{path}/**/*.parquet', "
                  f"hive_partitioning = true, union_by_name = true)")
        ok, diff = _same(con, _replay(table, head), actual)
        if not ok:
            bad_steps.add(rec["steps"][-1]["step"])
            problems.append(f"cdc {table} final target differs from the WAL "
                            f"replay (missing, extra) = {diff}")
    return len(bad_steps), problems


# --- curate_corpus --------------------------------------------------------

def check_curate(rec):
    con = _connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{rec['corpus']}/*.parquet')")
    with open(rec["oracle_sql"]) as f:
        sql = f.read()
    # DuckDB inlines CTEs, so the recursive components step would recompute
    # the whole LSH pipeline per iteration; materialising is a plan hint
    # only and leaves the result unchanged
    for cte in ("pairs", "edges"):
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    con.execute(f"CREATE TABLE oracle AS {sql}")
    problems, failed = [], 0
    for run in rec["runs"]:
        if not run["ok"]:
            continue
        ok, diff = _same(con, "SELECT doc_id, source, split FROM oracle",
                         f"SELECT doc_id, source, split FROM "
                         f"read_parquet('{run['out']}/*.parquet')")
        if not ok:
            failed += 1
            problems.append(f"curate run {run['run']} differs from the oracle "
                            f"(missing, extra) = {diff}")
    return failed, problems


CHECKS = {"elt_batch": check_elt, "cdc_slot": check_cdc,
          "curate_corpus": check_curate}
