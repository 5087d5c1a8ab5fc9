"""Answer checks: every reply is compared with DuckDB over the same
parquet tables.

Aggregation replies (json, csv, jsonrecords, xlsx) are reduced to one
map ``{cell key tuple: measure values}`` over the non-empty cells and
compared with the request's SQL; a dashboard panel's tabular bodies
are additionally compared with the same panel's json cells.  Corpus
and events frames are compared row by row.
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import hashlib
import io
import json
import math
import os
import re
import time
import zipfile

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class Oracle:
    """DuckDB views over one table directory.  Results are memoized per
    run, and answers that took over a second are also kept as JSON in
    ``cache_dir`` (the tables never change once built), so the slow
    corpus oracles run once per checkout."""

    SLOW_S = 1.0

    def __init__(self, data_dir: str, cache_dir: str | None = None):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{data_dir}/{t}.parquet'")
        self._memo: dict = {}

    def query(self, sql: str) -> tuple[list, list]:
        if sql in self._memo:
            return self._memo[sql]
        path = None
        if self.cache_dir:
            digest = hashlib.sha1(
                f"{os.path.basename(self.data_dir)}\n{sql}".encode())
            path = os.path.join(self.cache_dir, digest.hexdigest() + ".json")
        if path and os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
        else:
            t = time.perf_counter()
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = [[_canon(v) for v in r] for r in cur.fetchall()]
            if path and time.perf_counter() - t > self.SLOW_S:
                os.makedirs(self.cache_dir, exist_ok=True)
                with open(f"{path}.tmp", "w") as f:
                    json.dump([cols, rows], f)
                os.replace(f"{path}.tmp", path)
        self._memo[sql] = (cols, rows)
        return cols, rows


def _num(v):
    if v is None or v == "":
        return None
    return float(v)


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _key(v) -> str:
    if isinstance(v, float) and v.is_integer():
        v = int(v)
    return str(v)


# ------------------------------------------------- aggregation replies ---

def json_cells(body: bytes, n_measures: int) -> dict:
    doc = json.loads(body)
    cells = {}
    for keys, vals in zip(doc["cell_keys"], doc["values"]):
        if len(vals) != n_measures:
            raise ValueError(f"cell has {len(vals)} values, "
                             f"want {n_measures}")
        if any(v is not None for v in vals):
            cells[tuple(_key(k) for k in keys)] = [_num(v) for v in vals]
    return cells


def _table_cells(header: list, rows, drills: tuple, n_measures: int) -> dict:
    """Tidy table -> cells: the ``ID <leaf level>`` column of each drill
    in header order, measures in the last columns."""
    pos, start = [], 0
    for leaf in drills:
        i = header.index(f"ID {leaf}", start)
        pos.append(i)
        start = i + 1
    cells = {}
    for row in rows:
        vals = [_num(v) for v in row[len(row) - n_measures:]]
        if any(v is not None for v in vals):
            k = tuple(_key(row[i]) for i in pos)
            if k in cells:
                raise ValueError(f"duplicate cell {k}")
            cells[k] = vals
    return cells


def csv_cells(body: bytes, drills, n) -> dict:
    rows = list(csv.reader(io.StringIO(body.decode())))
    return _table_cells(rows[0], rows[1:], drills, n)


def jsonrecords_cells(body: bytes, drills, n) -> dict:
    data = json.loads(body)["data"]
    if not data:
        return {}
    header = list(data[0])
    return _table_cells(header, [[r[h] for h in header] for r in data],
                        drills, n)


_ROW = re.compile(rb'<row r="\d+">(.*?)</row>')
_CELL = re.compile(rb'<c r="([A-Z]+)\d+"(?: t="(\w+)")?'
                   rb'(?:/>|>(?:<v>(.*?)</v>|<is><t>(.*?)</t></is>)</c>)')


def _col(ref: bytes) -> int:
    n = 0
    for ch in ref:
        n = n * 26 + ch - 64
    return n - 1


def xlsx_cells(body: bytes, drills, n) -> dict:
    from xml.sax.saxutils import unescape
    with zipfile.ZipFile(io.BytesIO(body)) as z:
        sheet = z.read("xl/worksheets/sheet1.xml")
    table = []
    for row in _ROW.findall(sheet):
        cells = {}
        for ref, _t, v, s in _CELL.findall(row):
            raw = v if v else s
            cells[_col(ref)] = unescape(raw.decode()) if raw else None
        width = max(cells) + 1 if cells else 0
        table.append([cells.get(i) for i in range(width)])
    width = len(table[0])
    table = [r + [None] * (width - len(r)) for r in table]
    return _table_cells(table[0], table[1:], drills, n)


PARSERS = {"json": lambda b, d, n: json_cells(b, n), "csv": csv_cells,
           "jsonrecords": jsonrecords_cells, "xlsx": xlsx_cells}


def sql_cells(oracle: Oracle, sql: str, n_drills: int) -> dict:
    _, rows = oracle.query(sql)
    return {tuple(_key(v) for v in r[:n_drills]):
            [_num(v) for v in r[n_drills:]] for r in rows}


def diff_cells(got: dict, want: dict) -> str | None:
    """None when equal, else a one-line description of the first
    difference."""
    if got.keys() != want.keys():
        extra = sorted(got.keys() - want.keys())[:3]
        missing = sorted(want.keys() - got.keys())[:3]
        return (f"{len(got)} cells vs {len(want)} expected; extra {extra} "
                f"missing {missing}")
    for k, vals in want.items():
        if len(got[k]) != len(vals) or not all(
                _close(a, b) for a, b in zip(got[k], vals)):
            return f"cell {k}: got {got[k]} want {vals}"
    return None


# --------------------------------------------------------------- frames ---

def _canon(v):
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def diff_frame(body: bytes, oracle: Oracle, sql: str,
               subset: bool) -> str | None:
    """Compare a ``{columns, data, truncated}`` frame reply with SQL.
    Rows are matched on their non-float values; floats compare with a
    tolerance.  ``subset``: the route truncates, so every returned row
    must be one of the SQL rows."""
    doc = json.loads(body)
    cols, rows = oracle.query(sql)
    if sorted(cols) != sorted(doc["columns"]):
        return f"columns {doc['columns']} vs {cols}"
    order = [cols.index(c) for c in doc["columns"]]
    want = [[_canon(r[i]) for i in order] for r in rows]
    got = [[_canon(v) for v in r] for r in doc["data"]]
    fl = {i for i in range(len(order))
          if any(isinstance(r[i], float) for r in want + got)}

    def split(r):
        return (tuple(str(v) for i, v in enumerate(r) if i not in fl),
                [None if r[i] is None else float(r[i]) for i in sorted(fl)])

    want_by = {}
    for r in want:
        k, f = split(r)
        want_by.setdefault(k, []).append(f)
    if not subset and (doc["truncated"] or len(got) != len(want)):
        return f"{len(got)} rows (truncated={doc['truncated']}) vs {len(want)}"
    for r in got:
        k, f = split(r)
        cands = want_by.get(k)
        hit = next((i for i, w in enumerate(cands or [])
                    if all(_close(a, b) for a, b in zip(f, w))), None)
        if hit is None:
            return f"row {r} not in the expected answer"
        cands.pop(hit)
    return None


def diff_members(body: bytes, oracle: Oracle, sql: str) -> str | None:
    got = {(_key(m["key"]), str(m["caption"]))
           for m in json.loads(body)["members"]}
    want = {(_key(k), str(c)) for k, c in oracle.query(sql)[1]}
    if got != want:
        return (f"{len(got)} members vs {len(want)}; e.g. "
                f"{sorted(got ^ want)[:3]}")
    return None


def diff_reply(req, status: int, body: bytes, oracle: Oracle,
               json_ref: dict | None = None) -> str | None:
    """Verify one reply against its request's check.  ``json_ref``: the
    same panel's json cells, which a tabular body must also match."""
    if status is None or not 200 <= status < 300:
        return f"HTTP {status}: {body[:200]!r}"
    c = req.check
    if c.kind == "flush":
        return None if json.loads(body) == {"status": "ok"} else "bad flush"
    if c.kind == "members":
        return diff_members(body, oracle, c.sql)
    if c.kind == "frame":
        return diff_frame(body, oracle, c.sql, c.subset)
    got = PARSERS[c.fmt](body, c.drills, len(c.measures))
    bad = diff_cells(got, sql_cells(oracle, c.sql, len(c.drills)))
    if bad is None and json_ref is not None and c.fmt != "json":
        bad = diff_cells(got, json_ref)
        bad = bad and f"{c.fmt} vs json cells: {bad}"
    return bad
