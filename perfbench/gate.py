"""Correctness gate, computed by DuckDB and never from the engine's
output.

- ``cdc_check``: after a ``CdcPipeline.run()``, each target table must
  equal the state DuckDB derives from the generated source files and
  the cycle boundaries: row count, soft-deleted count and an
  order-insensitive hash over every column.
- ``qid_check``: an analytics qid's collected result must equal its
  ``all_oracle_sql()`` twin run by DuckDB over the same parquet files,
  as a multiset of normalised rows.
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb

from perfbench.gen import PKS


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # a deterministic oracle matters more than its speed; the disabled
    # rule mis-orders NULL sort keys in partitioned windows in 1.0
    con.execute("SET threads=1")
    con.execute("SET disabled_optimizers='statistics_propagation'")
    con.execute("SET TimeZone='UTC'")
    return con


def _row_expr(con, glob: str) -> tuple[list[str], str]:
    """Column names and one normalised hash expression: integers as
    BIGINT and timestamps as epoch microseconds, so parquet written by
    pyarrow and by Spark hash alike."""
    cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{glob}')").fetchall()
    parts = []
    names = []
    for name, typ, *_ in sorted(cols, key=lambda c: c[0].lower()):
        t = typ.upper()
        q = f'"{name}"'
        if "TIMESTAMP" in t:
            parts.append(f"epoch_us({q})")
        elif t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
            parts.append(f"CAST({q} AS BIGINT)")
        else:
            parts.append(q)
        names.append(name.lower())
    return names, "hash(" + ", ".join(parts) + ")"


def expected_state_sql(src_glob: str, table: str, cuts: list[int]) -> str:
    """The soft-delete merge replayed from the source, one cycle per
    cut: a row belongs to the first cycle whose cut lies above its
    change time. A key is in the target once some cycle's newest
    version of it is live (``is_deleted = 'N'``); a key whose every
    cycle ends deleted was never inserted. Its row is its newest
    version up to the last cut."""
    pk = ", ".join(PKS[table])
    cut_list = ", ".join(str(c) for c in cuts)
    return f"""
    WITH v AS (
      SELECT *, epoch_us(greatest(coalesce(updated_at, created_at), created_at)) AS __ts
      FROM read_parquet('{src_glob}')
    ),
    c AS (
      SELECT *, list_position(list_transform([{cut_list}], x -> x > __ts), true) AS __cyc
      FROM v WHERE __ts < {cuts[-1]}
    ),
    r AS (
      SELECT *,
        row_number() OVER (PARTITION BY {pk}, __cyc ORDER BY __ts DESC) AS __rc,
        row_number() OVER (PARTITION BY {pk} ORDER BY __ts DESC) AS __ra
      FROM c
    ),
    live AS (SELECT DISTINCT {pk} FROM r WHERE __rc = 1 AND is_deleted = 'N')
    SELECT * EXCLUDE (__ts, __cyc, __rc, __ra) FROM r SEMI JOIN live USING ({pk})
    WHERE __ra = 1
    """


def table_summary(con, rel_sql: str, hash_expr: str) -> tuple[int, int, int]:
    row = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE is_deleted = 'Y'), "
        f"coalesce(sum({hash_expr}), 0) FROM ({rel_sql})"
    ).fetchone()
    return int(row[0]), int(row[1]), int(row[2])


def cdc_check(con, src_root: str, tgt_root: str, tables: list[str], cuts: list[int]) -> list[str]:
    """Mismatch descriptions, one per failing table (empty = pass)."""
    bad = []
    for t in tables:
        tgt_glob = os.path.join(tgt_root, t, "*.parquet")
        src_glob = os.path.join(src_root, t, "*.parquet")
        names, h = _row_expr(con, src_glob)
        try:
            tgt_names, th = _row_expr(con, tgt_glob)
        except duckdb.Error as exc:
            bad.append(f"{t}: target unreadable ({exc})")
            continue
        if tgt_names != names:
            bad.append(f"{t}: columns {tgt_names} != {names}")
            continue
        want = table_summary(con, expected_state_sql(src_glob, t, cuts), h)
        got = table_summary(con, f"SELECT * FROM read_parquet('{tgt_glob}')", th)
        if want != got:
            bad.append(f"{t}: (rows, deleted, hash) {got} != expected {want}")
    return bad


# -- analytics --------------------------------------------------------

def oracle_connection(star_dir: str) -> duckdb.DuckDBPyConnection:
    con = connect()
    for f in sorted(os.listdir(star_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(star_dir, f)}')"
            )
    return con


def _norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{(v + 0.0)!r}"  # -0.0 -> 0.0
    if isinstance(v, datetime.datetime):
        return "t:" + v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return "t:" + datetime.datetime(v.year, v.month, v.day).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, int):
        return f"i:{v}"
    if hasattr(v, "as_tuple"):  # Decimal: compare by value
        return f"f:{float(v)!r}"
    return f"s:{v}"


def rowset(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def qid_check(df, con, sql: str) -> str | None:
    """None when the Spark result equals the DuckDB twin, else why not."""
    got = rowset(df.columns, df.collect())
    rel = con.execute(sql)
    want = rowset([d[0] for d in rel.description], rel.fetchall())
    if len(got) != len(want):
        return f"{len(got)} rows != expected {len(want)}"
    if got != want:
        diff = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
        return f"row {diff}: {got[diff]} != expected {want[diff]}"
    if not got:
        return "empty result: the check would be vacuous"
    return None
