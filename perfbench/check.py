"""Output checks, run after the measured window. Task outputs are
compared slice by slice against DuckDB over the generated input; query
outputs against each query's oracle SQL in DuckDB. Floats match when
|a - b| <= TOL * max(1, |a|, |b|)."""
import glob
import re

import duckdb
import numpy as np
import pandas as pd

TOL = 1e-9


def connect(tmp=None):
    con = duckdb.connect()
    if tmp:
        con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    return con


# ---- comparator ------------------------------------------------------

def compare_frames(got, exp, tol=TOL):
    """(ok, reason). Columns are compared by name after sorting; rows
    after sorting by every column, as selfcheck.py does."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return False, f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows {len(got)} vs {len(exp)}"
    cols = list(got.columns)
    try:
        gs = got.sort_values(cols).reset_index(drop=True)
        es = exp.sort_values(cols).reset_index(drop=True)
    except TypeError:  # unorderable values (lists): sort by their text
        key = lambda d: d.astype(str).sort_values(cols).index
        gs = got.loc[key(got)].reset_index(drop=True)
        es = exp.loc[key(exp)].reset_index(drop=True)
    for c in cols:
        a, b = gs[c], es[c]
        if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
            a = pd.to_datetime(a).dt.tz_localize(None).astype("datetime64[us]")
            b = pd.to_datetime(b).dt.tz_localize(None).astype("datetime64[us]")
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            try:
                x, y = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
            except (TypeError, ValueError):
                return False, f"column {c}: number vs non-number"
            both_nan = np.isnan(x) & np.isnan(y)
            close = np.abs(x - y) <= tol * np.maximum(1.0, np.maximum(np.abs(x), np.abs(y)))
            eq = both_nan | close
        else:
            eq = np.array([_same(x, y) for x, y in zip(a, b)], dtype=bool)
        if not eq.all():
            i = int(np.argmin(eq))
            return False, f"column {c} differs at sorted row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}"
    return True, ""


def _same(x, y):
    nx, ny = _isnull(x), _isnull(y)
    if nx or ny:
        return nx and ny
    if isinstance(x, (list, np.ndarray)) or isinstance(y, (list, np.ndarray)):
        x, y = np.asarray(x), np.asarray(y)
        if x.shape != y.shape:
            return False
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x, y = x.astype(float), y.astype(float)
            return bool(np.all(np.abs(x - y) <= TOL * np.maximum(1.0, np.maximum(np.abs(x),
                                                                              np.abs(y)))))
        return bool(np.all(x == y))
    if isinstance(x, float) or isinstance(y, float):
        return abs(float(x) - float(y)) <= TOL * max(1.0, abs(float(x)), abs(float(y)))
    return x == y


def _isnull(v):
    return v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT


# ---- task outputs ----------------------------------------------------

def _agg_sql(timeshot, v):
    # exact sums round each value to 1e-6, half up, from its shortest
    # decimal text (how Spark casts a double to a decimal)
    exact_sum = f"CAST(SUM(CAST(CAST({v} AS VARCHAR) AS DECIMAL(18,6))) AS DOUBLE)"
    return {"mean": f"{exact_sum} / COUNT({v})", "sum": exact_sum,
            "max": f"MAX({v})", "min": f"MIN({v})"}[timeshot]


def expected_sql(task, raw):
    """The task's output rows as (t, lat, lon, value), t in epoch us.
    A resample buckets closed-right (a value on a boundary belongs to the
    earlier bucket) and labels each bucket by its midpoint."""
    base = (f"SELECT u, lat, lon, {task['calc_sql']} AS value FROM "
            f"(SELECT epoch_us(time) AS u, * FROM {raw}) "
            f"WHERE u >= {task['start_us']} AND u < {task['end_us']}")
    res = task["resample"]
    if not res:
        return f"SELECT u AS t, lat, lon, value FROM ({base})"
    agg = _agg_sql(task["timeshot"], "value")
    if res == "mon":
        bucket = "date_trunc('month', make_timestamp(u - 1))"
        label = f"epoch_us({bucket} + INTERVAL 15 DAYS)"
    else:
        width = {"1hr": 3600, "6hr": 21600, "day": 86400}[res] * 1_000_000
        label = f"(u - 1 - ((u - 1) % {width} + {width}) % {width} + {width // 2})"
    return f"SELECT {label} AS t, lat, lon, {agg} AS value FROM ({base}) GROUP BY ALL"


def check_tasks(con, input_dir, tasks, roots):
    """For each pass root: {task id: reason or ''} plus the count of output
    rows that match no expected row. A slice fails when any of its
    expected rows is missing or differs, or its status row is absent,
    failed, or counts other rows. Rows match on (t, lat, lon) with close
    values, so a layout that keeps several slices' partial buckets side
    by side is judged row by row."""
    raw = f"read_parquet('{input_dir}/raw/*.parquet')"
    con.execute("DROP TABLE IF EXISTS x")
    con.execute("CREATE TEMP TABLE x (task VARCHAR, var VARCHAR, t BIGINT, lat DOUBLE, "
                "lon DOUBLE, value DOUBLE)")
    for task in tasks:
        con.execute(f"INSERT INTO x SELECT '{task['id']}', '{_vardir(task)}', * FROM "
                    f"({expected_sql(task, raw)})")
    n_exp = dict(con.execute("SELECT task, count(*) FROM x GROUP BY task").fetchall())
    match = ("a.t = x.t AND a.lat = x.lat AND a.lon = x.lon AND coalesce(abs(a.value - x.value)"
             f" <= {TOL} * greatest(1, abs(a.value), abs(x.value)), "
             "a.value IS NULL AND x.value IS NULL)")
    results = []
    for root in roots:
        status = _status(con, root)
        reasons, wrong = {}, 0
        for vdir in sorted({_vardir(t) for t in tasks}):
            files = glob.glob(f"{root}/{vdir}/**/*.parquet", recursive=True)
            con.execute("DROP TABLE IF EXISTS a")
            if files:
                con.execute("CREATE TEMP TABLE a AS SELECT epoch_us(time::TIMESTAMP) AS t, "
                            "lat, lon, value FROM read_parquet(?)", [files])
            else:
                con.execute("CREATE TEMP TABLE a (t BIGINT, lat DOUBLE, lon DOUBLE, "
                            "value DOUBLE)")
            got = dict(con.execute(
                f"SELECT task, count(*) FROM x WHERE var = ? AND EXISTS "
                f"(SELECT 1 FROM a WHERE {match}) GROUP BY task", [vdir]).fetchall())
            wrong += con.execute(
                f"SELECT count(*) FROM a WHERE NOT EXISTS "
                f"(SELECT 1 FROM x WHERE x.var = ? AND {match})", [vdir]).fetchone()[0]
            for t in tasks:
                if _vardir(t) != vdir:
                    continue
                tid, n = t["id"], n_exp.get(t["id"], 0)
                st = status.get(tid, [])
                if got.get(tid, 0) != n:
                    reasons[tid] = f"output has {got.get(tid, 0)} of {n} rows"
                elif len(st) != 1 or st[0] != ("processed", n):
                    reasons[tid] = f"status {st!r}"
                else:
                    reasons[tid] = ""
        results.append((reasons, wrong))
    return results, n_exp


def _vardir(task):
    """The variable's DRS directory down to the variable level: output
    found anywhere below it counts."""
    return "/".join(task["drs_dir"].split("/")[:7])


def _status(con, root):
    files = glob.glob(f"{root}/_status/*.parquet")
    if not files:
        return {}
    out = {}
    for tid, st, n in con.execute("SELECT task_id, status, n_rows FROM read_parquet(?)",
                                  [files]).fetchall():
        out.setdefault(tid, []).append((st, n))
    return out


# ---- query outputs ---------------------------------------------------

TABLE_REF = re.compile(r"\b(?:from|join)\s+([a-z_][a-z0-9_]*)", re.I)


def tables_of(sql, known):
    return sorted({m.lower() for m in TABLE_REF.findall(sql)} & set(known))


def check_queries(con, input_dir, check_dir, queries, table_names):
    """{query: reason or ''} against each query's oracle SQL."""
    for t in table_names:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    out = {}
    for q in queries:
        name = q["name"]
        files = glob.glob(f"{check_dir}/{name}/*.parquet")
        if not q["oracle"]:
            out[name] = "no oracle SQL"
        elif not files:
            out[name] = "no output"
        else:
            try:
                got = con.execute("SELECT * FROM read_parquet(?)", [files]).df()
                exp = con.sql(q["oracle"]).df()
                ok, why = compare_frames(got, exp)
                out[name] = "" if ok else why
            except Exception as e:  # an oracle or read error is a failed check
                out[name] = f"{type(e).__name__}: {e}"
    return out
