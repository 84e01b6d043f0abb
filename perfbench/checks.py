"""Output checks, run after the JVM has exited (outside every timed section).

Q&A answers are re-run on the reference's own stack: pandas.read_csv, then
the validated SQL in DuckDB over the frame registered as `df`, then the
reference's duplicate collapse in Python. Questions are also re-planned by a
Python port of the reference's rule-based generator and validator, and the
SQL text must match. Fleet members are compared with their oracle SQL in
DuckDB over the same parquet, with scripts/check.py's canonical frame compare.

Each check returns a list of failure strings; empty means correct.
"""
import datetime as dt
import glob
import importlib.util
import json
import math
import os
import re

import duckdb
import pandas as pd
from pandas.testing import assert_frame_equal

MAX_ROWS = 200
FORBIDDEN = ["INSERT", "UPDATE", "DELETE", "DROP", "ALTER", "CREATE", "ATTACH", "COPY", "PRAGMA"]
CITY_LIST = ["mumbai", "delhi", "bangalore", "chennai", "kolkata", "hyderabad", "pune", "ahmedabad"]
# keyword columns of the generated CSVs -> (type, semantic type) the profiler must give
EXPECTED_PROFILE = {"city": ("string", "city"), "service": ("string", "service"),
                    "report_date": ("date", "date"), "severity": ("numeric", None),
                    "cost": ("numeric", None), "status": ("string", "other")}


# ----------------------------------------------- reference rule-based path

def _q(name):
    return f'"{name}"'


def reference_sql(question, profile, now):
    """Port of the reference's generate_sql_rule_based + validate_sql."""
    ql = question.lower()
    cols = [p[0] for p in profile if p[0]]
    select, group = "*", None
    m = re.search(r"which (\w+)", ql)
    if m:
        for c in cols:
            if c.lower() == m.group(1):
                group, select = _q(c), f"{_q(c)}, COUNT(*) as count"
                break
    where = []
    sem = lambda s: next((p[0] for p in profile if p[2] == s), None)
    city_col = sem("city")
    if city_col:
        for city in CITY_LIST:
            if city in ql:
                where.append(f"{_q(city_col)} = '{city.capitalize()}'")
                break
    date_col = sem("date")
    if date_col and "last month" in ql:
        first = now.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        start = (first - dt.timedelta(days=1)).replace(day=1)
        end = first - dt.timedelta(seconds=1)
        where.append(f"{_q(date_col)} >= '{start.isoformat()}' AND {_q(date_col)} <= '{end.isoformat()}'")
    sql = f"SELECT {select} FROM df"
    if where:
        sql += " WHERE " + " AND ".join(where)
    if group:
        sql += f" GROUP BY {group}"
    return validate(sql)


def validate(sql):
    s = sql.strip()
    if s.endswith(";"):
        s = s[:-1].strip()
    if any(k in s.upper() for k in FORBIDDEN) or ";" in s:
        raise ValueError("Unsafe SQL query")
    if "LIMIT" not in s.upper():
        s += f" LIMIT {MAX_ROWS}"
    return s


def reference_collapse(frame):
    """The reference's duplicate collapse: group by all columns, count, sort."""
    if len(frame.columns) and frame.duplicated().any():
        return (frame.groupby(list(frame.columns)).size().reset_index(name="count")
                .sort_values("count", ascending=False)), True
    return frame, False


# ------------------------------------------------------------- comparisons

def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        v = v.isoformat()
    return v


def _key(row):
    return tuple(("" if v is None else f"{v:.6g}" if isinstance(v, (int, float)) else str(v))
                 for v in row)


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(spark_rows, frame):
    want = [tuple(_norm(v) for v in r) for r in frame.itertuples(index=False, name=None)]
    got = [tuple(_norm(v) for v in r) for r in spark_rows]
    if len(want) != len(got):
        return f"rowcount {len(got)} vs reference {len(want)}"
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {g} vs reference {w}"
    return None


def check_answers(result, now_iso):
    """Every distinct (csv, sql) answer of a Q&A run, plus the properties."""
    fails = []
    now = dt.datetime.fromisoformat(now_iso)
    frames = {}
    profiles = {p["csv"]: p["profile"] for p in result["profiles"]}
    for prof in profiles.values():
        got = {name: (tpe, sem) for name, tpe, sem in prof}
        for col, (tpe, sem) in EXPECTED_PROFILE.items():
            if col not in got or got[col][0] != tpe or (sem and got[col][1] != sem):
                fails.append(f"profile {col}: {got.get(col)} expected {(tpe, sem)}")
    con = duckdb.connect()
    for a in result["answers"]:
        csv, sql = a["csv"], a["sql"]
        tag = f"[{a['kind']}] {a['text']!r}"
        if a["kind"] == "ask":
            want_sql = reference_sql(a["text"], profiles[csv], now)
            if want_sql != sql:
                fails.append(f"{tag}: sql {sql!r} vs reference {want_sql!r}")
                continue
        if csv not in frames:
            frames[csv] = pd.read_csv(csv)
        con.register("df", frames[csv])
        raw = con.execute(sql).fetchdf()
        ref, collapsed = reference_collapse(raw)
        if list(ref.columns) != a["columns"]:
            fails.append(f"{tag}: columns {a['columns']} vs reference {list(ref.columns)}")
            continue
        diff = same_rows(a["rows"], ref)
        if diff:
            fails.append(f"{tag}: {diff}")
        if len(a["rows"]) > MAX_ROWS:
            fails.append(f"{tag}: {len(a['rows'])} rows > MaxRowsLimit {MAX_ROWS}")
        if collapsed:
            counts = [r[a["columns"].index("count")] for r in a["rows"]]
            if counts != sorted(counts, reverse=True):
                fails.append(f"{tag}: collapsed count column not in descending order")
            if sum(counts) != len(raw.dropna()):
                fails.append(f"{tag}: collapsed counts sum {sum(counts)} != {len(raw.dropna())} rows")
    for sql in result.get("inconsistent", []):
        fails.append(f"repeated answer differed from its first result: {sql!r}")
    return fails


def _check_py(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_fleet(root, sf_dir, out_dir, members):
    """Each member's output against its oracle SQL, check.py's compare."""
    chk = _check_py(root)
    con = duckdb.connect()
    for t in chk.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    fails = []
    for name in members:
        if name not in oracles:
            continue  # no SQL oracle declared for this member
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            fails.append(f"{name}: no output")
            continue
        try:
            s = chk.canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
            o = chk.canon(con.execute(oracles[name]).fetchdf())
            if list(s.columns) != list(o.columns) or len(s) != len(o):
                fails.append(f"{name}: shape {list(s.columns)}x{len(s)} vs oracle "
                             f"{list(o.columns)}x{len(o)}")
                continue
            assert_frame_equal(s, o, check_dtype=True, check_exact=True)
        except AssertionError as e:
            fails.append(f"{name}: {' | '.join(str(e).strip().splitlines()[:3])}")
        except Exception as e:  # a crash in the compare is a failed check too
            fails.append(f"{name}: {type(e).__name__}: {e}")
    return fails
