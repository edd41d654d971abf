"""Output checks against DuckDB oracles.

* CDC final state: each lake table's latest manifest is resolved
  last-writer-wins in DuckDB, straight from the data files it lists, and
  compared with ``feed.expected_final_state`` by row count and an
  order-free hash over (doc_id, tokens, n_tok, source).
* Point reads: each ``lookup_many`` result is compared with the feed's LWW
  state at the last LSN of the batch it followed.
* Queries: each headline query's collected output is compared with its
  ``oracle_sql()`` by columns, row count and the normalized value hash of
  ``tests/test_entry_oracle.py``.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os

import duckdb

from multi_table_plugins_spark.feed import expected_final_state

#: one canonical text per live row; DuckDB's hash of it is type-stable
ROW_TEXT = (
    "doc_id || '|' || coalesce(array_to_string(tokens, ','), '') || '|' || "
    "coalesce(CAST(n_tok AS VARCHAR), '') || '|' || coalesce(source, '')"
)
DIGEST = f"count(*) AS n, sum(hash({ROW_TEXT}))::HUGEINT AS h"


def row_text(r) -> str:
    """``ROW_TEXT`` for a collected Spark row."""
    toks = "" if r["tokens"] is None else ",".join(map(str, r["tokens"]))
    n_tok = "" if r["n_tok"] is None else str(r["n_tok"])
    return f"{r['doc_id']}|{toks}|{n_tok}|{r['source'] or ''}"


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_list(paths) -> str:
    return "[" + ", ".join(_sql_str(p) for p in paths) + "]"


def latest_manifest(table_path: str) -> dict:
    names = sorted(glob.glob(os.path.join(table_path, "_manifests", "manifest-*.json")))
    with open(names[-1]) as f:
        return json.load(f)


def live_entries(manifest: dict) -> "list[dict]":
    return [
        e
        for b in manifest["buckets"].values()
        for e in list(b.get("base", [])) + list(b.get("delta", []))
    ]


def lake_digest(con, table_path: str) -> "tuple[int, int]":
    """(rows, hash) of a lake table's live state, resolved from its files."""
    paths = [os.path.join(table_path, e["path"]) for e in live_entries(latest_manifest(table_path))]
    if not paths:
        return 0, 0
    n, h = con.execute(f"""
        WITH f AS (SELECT * FROM read_parquet({_sql_list(paths)}, union_by_name=true)),
        latest AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY _lsn DESC) AS rn FROM f)
        SELECT {DIGEST} FROM latest WHERE rn = 1 AND NOT coalesce(_deleted, false)
    """).fetchone()
    return int(n), int(h or 0)


def check_final_state(feed_dir: str, warehouse: str, label: str) -> "list[tuple[str, str | None]]":
    """One op per table: (op name, error or None)."""
    con = duckdb.connect()
    expected = expected_final_state(feed_dir)
    ops = []
    for table, pdf in sorted(expected.items()):
        op = f"{label}:final_state:{table}"
        try:
            con.register("exp", pdf)
            want = con.execute(f"SELECT {DIGEST} FROM exp").fetchone()
            con.unregister("exp")
            got = lake_digest(con, os.path.join(warehouse, table))
            want = (int(want[0]), int(want[1] or 0))
            ops.append((op, None if got == want else f"lake (rows, hash) {got} != oracle {want}"))
        except Exception as e:  # a broken table is one failed op, not a crash
            ops.append((op, f"{type(e).__name__}: {e}"))
    return ops


def check_lookups(feed_files: "list[str]", lookups: "list[dict]") -> "list[tuple[str, str | None]]":
    """Each lookup dict has batch (index into ``feed_files``), table, keys
    and rows (``row_text`` of each returned row)."""
    con = duckdb.connect()
    ops = []
    for lk in lookups:
        op = f"lookup:b{lk['batch']}:{lk['table']}"
        keys = ", ".join(_sql_str(k) for k in lk["keys"])
        want = sorted(r[0] for r in con.execute(f"""
            WITH latest AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
              FROM read_parquet({_sql_list(feed_files[: lk['batch'] + 1])}, union_by_name=true)
              WHERE table_name = {_sql_str(lk['table'])} AND doc_id IN ({keys}))
            SELECT {ROW_TEXT} FROM latest WHERE rn = 1 AND op <> 'D'
        """).fetchall())
        got = sorted(lk["rows"])
        ops.append((op, None if got == want else f"{len(got)} rows != oracle {len(want)} rows or values differ"))
    return ops


def _value_hash():
    """The normalized value hash of the repository's query oracle test."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_entry_oracle", os.path.join(root, "tests", "test_entry_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._value_hash


class QueryOracle:
    """DuckDB views over the query suite's tables plus the oracle SQL."""

    def __init__(self, tables_dir: str, tables: "list[str]", oracle_sql: dict):
        self.con = duckdb.connect()
        for t in tables:
            p = os.path.join(tables_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan({_sql_str(p)})")
        self.sql = oracle_sql
        self.value_hash = _value_hash()

    def check(self, name: str, rows: list, cols: "list[str]") -> "str | None":
        cur = self.con.execute(self.sql[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"columns {cols} != oracle {ocols}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        if self.value_hash(rows, cols) != self.value_hash(orows, ocols):
            return "value hash differs from oracle"
        return None
