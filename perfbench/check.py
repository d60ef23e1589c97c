"""Correctness check for a benchmark run.

Every output a run leaves in its check directory is compared with an
independent recomputation from the run's parquet inputs:

- ETL outputs (CSV files and the Derby tables, dumped by the harness)
  must match pandas/DuckDB recomputations of the task semantics in row
  count and in an order-insensitive digest of canonicalized rows.
- Query results must match the DuckDB oracle SQL of `SparkEntry.oracleSql`
  under the canonicalization of `tools/compare_oracle.py`.

`check(workload, ...)` returns a list of mismatch messages; empty means
correct. `python3 perfbench/check.py --selftest` corrupts copies of the
last run's outputs and shows that each corruption is caught.
"""
import glob
import hashlib
import json
import math
import os
import re
import shutil
import sys

import duckdb
import pandas as pd

TS = re.compile(r"^\d{4}-\d\d-\d\d[ T]\d\d:\d\d:\d\d(\.\d+)?$")


def cell(v) -> str:
    """Canonical text of one cell: numbers by value, timestamps in one
    format, empty and null alike.
    """
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ""
    if isinstance(v, pd.Timestamp):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    s = str(v)
    if TS.match(s):
        return pd.Timestamp(s).strftime("%Y-%m-%d %H:%M:%S.%f")
    try:
        return repr(round(float(s), 9))
    except ValueError:
        return s


def digest(df: pd.DataFrame) -> tuple:
    """(columns, row count, order-insensitive digest) of a frame."""
    cols = sorted(c.lower() for c in df.columns)
    df = df.rename(columns=str.lower)[cols]
    rows = sorted("\x1f".join(cell(v) for v in r)
                  for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return cols, len(rows), h


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list:
    g, w = digest(got), digest(want)
    if g[0] != w[0]:
        return [f"{name}: columns {g[0]} != {w[0]}"]
    if g[1] != w[1]:
        return [f"{name}: {g[1]} rows, expected {w[1]}"]
    if g[2] != w[2]:
        return [f"{name}: row digest differs from the recomputation"]
    return []


def read_out(path: str, names=None) -> pd.DataFrame:
    """A `;`-separated output file, every cell as text."""
    return pd.read_csv(path, sep=";", dtype=str, keep_default_na=False,
                       header=None if names else "infer", names=names)


def lineitem_transform(li: pd.DataFrame) -> pd.DataFrame:
    """The lineitem tasks' transform block: empty_as_null, convert
    (lower, float), filter, remove, rename, in the runner's order.
    """
    d = li.copy()
    d["l_shipmode"] = d["l_shipmode"].replace("", None)
    d["l_returnflag"] = d["l_returnflag"].str.lower()
    d["l_linestatus"] = d["l_linestatus"].str.lower()
    d = d[(d["l_discount"] >= 0.02) & d["l_shipmode"].notna()]
    d = d.drop(columns=["l_tax", "l_suppkey"])
    return d.rename(columns={"l_extendedprice": "extended_price",
                             "l_returnflag": "return_flag"})


def check_etl_bulk(out: str, tables: str) -> list:
    li = pd.read_parquet(f"{tables}/lineitem.parquet")
    orders = pd.read_parquet(f"{tables}/orders.parquet")
    errs = compare("lineitem_out.csv", read_out(f"{out}/lineitem_out.csv"),
                   lineitem_transform(li))
    errs += compare("derby orders table", read_out(f"{out}/orders_db.csv"), orders)
    agg = duckdb.sql(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
        "SUM(o_custkey) AS custsum, MIN(o_totalprice) AS minprice, "
        "MAX(o_totalprice) AS maxprice FROM orders WHERE o_totalprice > 250000 "
        "GROUP BY 1, 2").df()
    errs += compare("orders_agg.csv", read_out(f"{out}/orders_agg.csv"), agg)
    return errs


def check_many_small(out: str, tables: str, small_rows: int) -> list:
    li = pd.read_parquet(f"{tables}/lineitem.parquet")
    drops = json.load(open(f"{out}/drops.json"))

    def small(k):
        start = (k * small_rows) % len(li)
        return li.iloc[start:start + small_rows]

    errs = []
    if os.path.getsize(f"{out}/log_errors.txt") > 0:
        errs.append("watcher logged processing errors")
    by_type = {}
    for d in drops:
        by_type.setdefault(d["type"], []).append(d)
    trunc = by_type.get("csv-csv-truncate", [])
    if trunc:
        errs += compare("trunc.csv", read_out(f"{out}/trunc.csv"),
                        lineitem_transform(small(trunc[-1]["input"])))
    appends = by_type.get("csv-csv-append", [])
    if appends:
        want = pd.concat([lineitem_transform(small(d["input"])) for d in appends])
        errs += compare("appended.csv",
                        read_out(f"{out}/appended.csv", list(want.columns)), want)

    def loaded(before=None):
        parts = [small(d["input"]) for d in by_type.get("csv-db", [])
                 if before is None or d["i"] < before]
        if not parts:
            return pd.DataFrame(columns=["l_orderkey", "l_returnflag",
                                         "l_extendedprice", "l_shipmode"])
        d = pd.concat(parts)
        d = d[d["l_shipmode"] != ""]
        return d[["l_orderkey", "l_returnflag", "l_extendedprice", "l_shipmode"]]

    errs += compare("derby SMALL table", read_out(f"{out}/small_db.csv"), loaded())
    exports = [d for d in by_type.get("db-csv", []) if len(loaded(d["i"]))]
    if exports:
        src = loaded(exports[-1]["i"])  # noqa: F841 (read by duckdb)
        want = duckdb.sql("SELECT l_returnflag, COUNT(*) AS n, "
                          "SUM(CAST(l_orderkey AS BIGINT)) AS keysum "
                          "FROM src GROUP BY 1").df()
        errs += compare("db_export.csv", read_out(f"{out}/db_export.csv"), want)
    audit = pd.DataFrame({"id": [d["i"] for d in by_type.get("sql-exec", [])]})
    errs += compare("derby AUDIT table", read_out(f"{out}/audit_db.csv"), audit)
    return errs


def check_sql(out: str, tables: str, tools: str) -> list:
    sys.path.insert(0, tools)
    from compare_oracle import TABLES, canon
    con = duckdb.connect()
    for t in TABLES:
        p = f"{tables}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    errs = []
    for name, sql in sorted(json.load(open(f"{out}/oracle_sql.json")).items()):
        files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
        if not files:
            errs.append(f"{name}: no engine output")
            continue
        eng = canon(pd.concat([pd.read_parquet(f) for f in files]), name)
        ora = canon(con.sql(sql).df(), name)
        if list(eng.columns) != list(ora.columns):
            errs.append(f"{name}: columns {list(eng.columns)} vs {list(ora.columns)}")
        elif len(eng) != len(ora):
            errs.append(f"{name}: {len(eng)} rows, oracle {len(ora)}")
        elif not eng.equals(ora):
            errs.append(f"{name}: values differ from the oracle")
    return errs


def check(workload: str, out: str, tables: str, tools: str, small_rows: int) -> list:
    if workload == "etl_bulk":
        return check_etl_bulk(out, tables)
    if workload == "etl_many_small":
        return check_many_small(out, tables, small_rows)
    return check_sql(out, tables, tools)


def _drop_last_row(path: str) -> None:
    lines = open(path).read().splitlines(keepends=True)
    open(path, "w").write("".join(lines[:-1]))


def _alter_cell(path: str) -> None:
    lines = open(path).read().splitlines(keepends=True)
    cells = lines[-1].rstrip("\n").split(";")
    cells[0] = cells[0] + "9"
    lines[-1] = ";".join(cells) + "\n"
    open(path, "w").write("".join(lines))


def _alter_parquet(path: str) -> None:
    df = pd.read_parquet(path)
    col = df.columns[0]
    df.loc[df.index[0], col] = df[col].iloc[-1] if len(df) > 1 else None
    df.to_parquet(path)


def selftest(root: str) -> int:
    """Corrupt copies of each workload's last outputs; every corruption
    must fail the check while the untouched copy passes.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    from run import SIZES
    status = 0
    cases = {
        "etl_bulk": [("lineitem_out.csv", _drop_last_row),
                     ("orders_db.csv", _alter_cell),
                     ("orders_agg.csv", _alter_cell)],
        "etl_many_small": [("appended.csv", _drop_last_row),
                           ("small_db.csv", _alter_cell),
                           ("audit_db.csv", _drop_last_row)],
        "sql_relational": [("q11_agg_hash", _alter_parquet),
                           ("q04_join_inner", _alter_parquet)],
        "ops_expr": [("q35_token_count", _alter_parquet),
                     ("q100_pq_topk", _alter_parquet)],
    }
    for wl, corruptions in cases.items():
        last = f"{root}/work/{wl}/last.json"
        if not os.path.exists(last):
            print(f"{wl}: no finished run to test against, skipped")
            continue
        meta = json.load(open(last))
        args = (meta["tables"], meta["tools"], SIZES[wl].get("small_rows", 0))
        base = check(wl, meta["check"], *args)
        print(f"{wl}: untouched outputs -> {'pass' if not base else base}")
        status |= bool(base)
        for target, corrupt in corruptions:
            copy = f"{root}/selftest/{wl}"
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(meta["check"], copy)
            path = f"{copy}/{target}"
            if os.path.isdir(path):
                path = sorted(glob.glob(f"{path}/*.parquet"))[0]
            corrupt(path)
            errs = check(wl, copy, *args)
            print(f"{wl}: corrupted {target} ({corrupt.__name__}) -> "
                  f"{'caught: ' + errs[0] if errs else 'NOT CAUGHT'}")
            status |= not errs
    return status


if __name__ == "__main__":
    if sys.argv[1:] == ["--selftest"]:
        sys.exit(selftest(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), ".bench_build")))
    print(__doc__)
    sys.exit(2)
