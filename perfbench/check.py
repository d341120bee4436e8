"""Output checks: every operation is checked once per run, untimed.

- Catalog queries with a DuckDB oracle: the oracle SQL runs over the
  same parquet tables and the result is compared by row
  count, column set and order-insensitive values, with
  ``scripts/verify_driver.py``'s ``norm`` / ``frames_match``.
- Rows-only catalog queries (no oracle): a nonzero row count.
- Tree refreshes: the landed sheet row count must equal the count
  derived from the generated tree, and a hash of every landed cell must
  equal the hash of an independent DuckDB UNNEST re-flatten of the same
  records (the shape of the p01 catalog oracle).
"""

from __future__ import annotations

import csv
import hashlib
import importlib.util
import json
import os

import duckdb
from sports_betting_data_pipeline_spark.io import TABLES

from gen import tree_rows

_SEL_T = (
    '[[{"line_id":"VARCHAR","display_name":"VARCHAR","name":"VARCHAR",'
    '"odds":"BIGINT","stake":"DOUBLE","value":"DOUBLE"}]]'
)
_TREE_T = (
    '[{"event_id":"BIGINT","name":"VARCHAR","display_name":"VARCHAR",'
    '"scheduled":"VARCHAR","status":"VARCHAR",'
    '"competitors":[{"display_name":"VARCHAR","abbreviation":"VARCHAR","side":"VARCHAR"}],'
    '"markets":[{"id":"VARCHAR","name":"VARCHAR","type":"VARCHAR","status":"VARCHAR",'
    '"updated_at":"BIGINT",'
    f'"market_lines":[{{"id":"VARCHAR","name":"VARCHAR","line":"DOUBLE",'
    f'"favourite":"VARCHAR","type":"VARCHAR","selections":{_SEL_T}}}],'
    f'"selections":{_SEL_T}}}]}}]'
)


def _s(x: str) -> str:
    return f"coalesce(CAST({x} AS VARCHAR), '')"


def _aware(ts_expr: str, tz: str) -> str:
    """Python ``str()`` of an aware datetime in ``tz``: wall clock,
    ``.ffffff`` only when nonzero, ``±HH:MM`` offset."""
    loc = f"timezone('{tz}', timezone('UTC', {ts_expr}))"
    off = f"(epoch({loc}) - epoch({ts_expr}))::BIGINT"
    frac = f"(CASE WHEN strftime({loc}, '%f') != '000000' THEN '.' || strftime({loc}, '%f') ELSE '' END)"
    sign = f"(CASE WHEN {off} < 0 THEN '-' ELSE '+' END)"
    hh = f"lpad(CAST(abs({off}) // 3600 AS VARCHAR), 2, '0')"
    mm = f"lpad(CAST((abs({off}) // 60) % 60 AS VARCHAR), 2, '0')"
    return f"(strftime({loc}, '%Y-%m-%d %H:%M:%S') || {frac} || {sign} || {hh} || ':' || {mm})"


def _reflatten_sql() -> str:
    """Two-branch flatten of a JSON tree (bound as parameter 1) into the
    25 sheet columns: branch A takes inner selection [1] of every outer
    group of every market line; branch B iterates both levels."""
    sched = _aware("strptime(e.scheduled, '%Y-%m-%dT%H:%M:%SZ')", "America/New_York")
    upd = _aware("make_timestamp(mk.updated_at // 1000)", "US/Eastern")
    event = ", ".join([
        _s("e.event_id"), _s(sched), _s("e.display_name"),
        _s("e.competitors[1].display_name"), _s("e.competitors[1].abbreviation"),
        _s("e.competitors[1].side"), _s("e.competitors[2].display_name"),
        _s("e.competitors[2].abbreviation"), _s("e.competitors[2].side"),
        _s("mk.id"), _s("mk.name"), _s("mk.type"), _s("mk.status"),
    ])
    selection = ", ".join([
        _s("sel.line_id"), _s("sel.display_name"), _s("sel.odds"), _s("e.status"),
        _s("sel.stake"), _s("sel.value"), _s(upd),
    ])
    return f"""
    WITH ev AS (SELECT unnest(json_transform(?::JSON, '{_TREE_T}')) AS e),
    m AS (SELECT e, unnest(e.markets) AS mk FROM ev),
    a AS (
      SELECT e, mk, ml, sel_group[1] AS sel FROM (
        SELECT e, mk, ml, unnest(ml.selections) AS sel_group FROM (
          SELECT e, mk, unnest(mk.market_lines) AS ml FROM m
          WHERE mk.market_lines IS NOT NULL))
    ),
    b AS (
      SELECT e, mk, unnest(sel_group) AS sel FROM (
        SELECT e, mk, unnest(mk.selections) AS sel_group FROM m
        WHERE mk.market_lines IS NULL)
    )
    SELECT {event}, {_s("ml.id")}, {_s("ml.name")}, {_s("ml.line")},
           coalesce(ml.favourite, 'NA'), {_s("ml.type")}, {selection}
    FROM a
    UNION ALL
    SELECT {event}, 'NA', 'NA', 'NA', 'NA', 'NA', {selection}
    FROM b
    """


def cell_hash(rows) -> str:
    """Order-insensitive hash of rows of string cells."""
    h = hashlib.sha256()
    for row in sorted(tuple(r) for r in rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def read_sheet_parts(parts: list[str]) -> list[list[str]]:
    """Data rows of spooled sheet parts (each part starts with a header)."""
    rows: list[list[str]] = []
    for part in parts:
        with open(part, newline="", encoding="utf-8") as fh:
            rows.extend(list(csv.reader(fh))[1:])
    return rows


def _load_verify_driver(root: str):
    path = os.path.join(root, "scripts", "verify_driver.py")
    spec = importlib.util.spec_from_file_location("perfbench_verify_driver", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Checker:
    """Compares operation outputs with independently computed ones."""

    def __init__(self, root: str, sf_dir: str, oracles: dict[str, str]) -> None:
        self._verify = _load_verify_driver(root)
        self._oracles = oracles
        self._con = duckdb.connect()
        self._con.execute("SET enable_progress_bar = false")
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            self._con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._reflatten = _reflatten_sql()

    def close(self) -> None:
        self._con.close()

    def query(self, name: str, pdf) -> tuple[bool, str]:
        """Check a catalog query's collected result."""
        if name not in self._oracles:
            return len(pdf) > 0, "" if len(pdf) else "rows-only query returned 0 rows"
        expected = self._verify.norm(self._con.execute(self._oracles[name]).fetch_df())
        return self._verify.frames_match(self._verify.norm(pdf), expected)

    def refresh(self, records: list[dict], rows: list[list[str]]) -> tuple[bool, str]:
        """Check one tree refresh's landed sheet rows."""
        want = tree_rows(records)
        if len(rows) != want:
            return False, f"rows landed={len(rows)} generated={want}"
        expected = self._con.execute(self._reflatten, [json.dumps(records)]).fetchall()
        if cell_hash(rows) != cell_hash([[str(c) for c in r] for r in expected]):
            return False, "cell hash differs from the DuckDB re-flatten"
        return True, ""
