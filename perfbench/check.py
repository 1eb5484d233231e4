"""Golden results and output checks, both in DuckDB.

A golden result is written once per seed at set-up, as parquet, before
any timed window. An operation's written output is compared with it as
a multiset: rows missing from the output and rows the golden result
does not have are both counted, so a dropped, duplicated or corrupted
row fails the check.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def connect(inputs_dir: str, tables: list) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated input table, under
    the table names the driver-query oracle SQL uses."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs_dir}/{t}.parquet')")
    return con


def write_golden_sql(con, sql: str, path: str) -> int:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    return con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]


def write_golden_triples(triples: set, path: str) -> int:
    rows = sorted(triples)
    pq.write_table(pa.table({
        "subj": [r[0] for r in rows],
        "pred": [r[1] for r in rows],
        "obj": [r[2] for r in rows],
    }), path)
    return len(rows)


def output_relation(out_dir: str) -> str:
    """DuckDB relation over a Spark parquet output directory (hive
    partition columns such as the triples table's `pred` included)."""
    if not os.path.isdir(out_dir):
        raise FileNotFoundError(out_dir)
    return (f"read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true,"
            " union_by_name = true)")


def _cols(con, rel: str) -> list:
    return sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}")
                  .fetchall())


def _proj(con, rel: str, cols: list) -> str:
    types = {r[0]: r[1] for r in
             con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()}
    # doubles are rounded to 6 places by both engines already; rounding
    # again is idempotent and removes any last-bit encoding difference
    out = [f"round({c}, 6) AS {c}" if types.get(c) in ("DOUBLE", "FLOAT")
           else f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in cols]
    return f"SELECT {', '.join(out)} FROM {rel}"


def compare(con, golden_path: str, out_dir: str) -> dict:
    """{'rows', 'missing', 'extra'} of the output against the golden
    result; raises if the output is absent or its columns differ."""
    gold = f"read_parquet('{golden_path}')"
    out = output_relation(out_dir)
    cols = _cols(con, gold)
    if _cols(con, out) != cols:
        raise ValueError(f"columns {_cols(con, out)} != golden {cols}")
    g, o = _proj(con, gold, cols), _proj(con, out, cols)
    missing = con.execute(
        f"SELECT count(*) FROM ({g} EXCEPT ALL {o})").fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM ({o} EXCEPT ALL {g})").fetchone()[0]
    rows = con.execute(f"SELECT count(*) FROM {out}").fetchone()[0]
    return {"rows": rows, "missing": missing, "extra": extra}


def same_rows(con, out_a: str, out_b: str) -> bool:
    """Whether two output directories hold the same multiset of rows."""
    a, b = output_relation(out_a), output_relation(out_b)
    n = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL "
        f"SELECT * FROM {b})) + (SELECT count(*) FROM (SELECT * FROM {b} "
        f"EXCEPT ALL SELECT * FROM {a}))").fetchone()[0]
    return n == 0


def missed_turns(con, golden_path: str, out_dir: str) -> int:
    """Turns that carry golden mention triples but none in the output
    (the mention subject is mention:<conv>/<turn>/<eid>)."""
    turn = "regexp_extract(subj, '^mention:(.*)/[0-9]+$', 1)"
    q = (f"SELECT count(*) FROM ("
         f"SELECT DISTINCT {turn} FROM read_parquet('{golden_path}') "
         f"WHERE pred = 'links_to' EXCEPT "
         f"SELECT DISTINCT {turn} FROM {output_relation(out_dir)} "
         f"WHERE pred = 'links_to')")
    return con.execute(q).fetchone()[0]
