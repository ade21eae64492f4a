"""DuckDB check of every distinct answer a run produced.

The JVM half writes, per distinct (request, body) answer, the SQL that
recomputes each part of the expected response over the same parquet the
server read (see OracleSql in Mix.scala); batch answers come as parquet
with the query's SparkEntry.oracleSql. Values compare as
tools/check_oracle.py compares them: exact for non-floats, relative 1e-9
for floats (1e-7 here for the served stddev/avg, whose two-level
aggregation differs from one-level SQL in the last digits).
"""
import csv
import datetime
import decimal
import io
import json
import math
import os
import re

import duckdb

_TS = re.compile(r"^\d{4}-\d\d-\d\d[T ]\d\d:\d\d")


def _num(v):
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    return None


def norm(v):
    """Canonical form of one value from either side."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str) and _TS.match(v):
        try:
            d = datetime.datetime.fromisoformat(v.replace("Z", "+00:00").replace(" ", "T"))
            return d.replace(tzinfo=None)
        except ValueError:
            return v
    if isinstance(v, dict):
        return {k: norm(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [norm(x) for x in v]
    return v


def same(a, b, rel=1e-7):
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k], rel) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y, rel) for x, y in zip(a, b))
    na, nb = _num(a), _num(b)
    if na is not None and nb is not None:
        if isinstance(na, float) or isinstance(nb, float):
            if math.isnan(na) or math.isnan(nb):
                return math.isnan(na) and math.isnan(nb)
            return abs(na - nb) <= rel * max(1.0, abs(na), abs(nb))
        return na == nb
    return a == b


class Oracle:
    def __init__(self, tables):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {os.cpu_count() or 1}")
        for name, sql in sorted(tables.items()):
            self.con.execute(f'CREATE TABLE "{name}" AS {sql}')

    def rows(self, sql):
        rel = self.con.sql(sql)
        cols = list(rel.columns)
        return [dict(zip(cols, r)) for r in rel.fetchall()], cols

    def expected(self, spec):
        shape = spec["shape"]
        if shape == "aggregate":
            summary = self.rows(spec["summary"])[0][0]
            if "cells" not in spec:
                return {"summary": summary, "cells": [], "total_cell_count": 1}
            cells = self.rows(spec["cells"])[0]
            count = self.rows(spec["count"])[0][0]["n"]
            return {"summary": summary, "cells": cells, "total_cell_count": count}
        if shape == "share":
            cells = self.rows(spec["rows"])[0]
            return {"cells": cells, "cell_count": len(cells)}
        if shape == "facts":
            return self.rows(spec["rows"])[0]
        if shape == "fact":
            rows = self.rows(spec["rows"])[0]
            return rows[0] if rows else None
        if shape == "members":
            return {"dimension": spec["dimension"], "values": self.rows(spec["rows"])[0]}
        if shape == "csv":
            rows, cols = self.rows(spec["rows"])
            return [{c: ("" if r[c] is None else r[c]) for c in cols} for r in rows]
        raise ValueError(f"unknown shape {shape}")

    def served_matches(self, check):
        """True iff the served body equals the oracle's answer for one of
        the data versions that could have served it."""
        body = check["body"]
        for spec in check["alts"]:
            want = self.expected(spec)
            if spec["shape"] == "csv":
                got = list(csv.DictReader(io.StringIO(body)))
                want = [{k: _csv_cell(v) for k, v in r.items()} for r in want]
                got = [{k: _csv_cell(v) for k, v in r.items()} for r in got]
                if same(got, want):
                    return True
            elif same(norm(json.loads(body)), norm(want)):
                return True
        return False

    def batch_matches(self, check):
        """Batch answer (parquet) against SparkEntry.oracleSql, compared as
        tools/check_oracle.py compares: columns by name, then rows."""
        got = self.con.sql(f"SELECT * FROM read_parquet('{check['result']}/*.parquet')")
        want = self.con.sql(check["sql"])
        g_cols, g_rows = _canon(got.fetchall(), list(got.columns))
        w_cols, w_rows = _canon(want.fetchall(), list(want.columns))
        if g_cols != w_cols or len(g_rows) != len(w_rows):
            return False
        if all(same(list(a), list(b), 1e-9) for a, b in zip(g_rows, w_rows)):
            return True
        g_rows, w_rows = sorted(g_rows, key=repr), sorted(w_rows, key=repr)
        return all(same(list(a), list(b), 1e-9) for a, b in zip(g_rows, w_rows))


def _csv_cell(v):
    """CSV cells arrive as text; compare numbers as numbers."""
    if isinstance(v, str):
        try:
            return float(v) if v not in ("", "NaN") else v
        except ValueError:
            return norm(v)
    return norm(v) if not isinstance(v, (int, float, decimal.Decimal)) else float(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        v = norm(v)
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, list):
            return tuple(v)
        return v

    out = [tuple(cell(r[i]) for i in order) for r in rows]
    return sorted(cols), out
