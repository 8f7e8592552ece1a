"""Seeded input generators. The same seed always gives the same files.

- `grid`: hourly long-format model output (time, lat, lon + three raw
  fields), one parquet file per calendar month, as a model run leaves it.
- `tables`: the star-schema + events + text + vector tables the operator
  queries read, with the schemas, value ranges and row counts of the
  repository's sf0.01 test data.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_HOUR = 3_600_000_000


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def month_starts(start, days):
    """Month boundaries (UTC datetimes) covering [start, start + days)."""
    end = start + dt.timedelta(days=days)
    out, cur = [], start
    while cur < end:
        out.append(cur)
        y, m = (cur.year + (cur.month == 12), cur.month % 12 + 1)
        cur = dt.datetime(y, m, 1, tzinfo=dt.timezone.utc)
    return out + [end]


def epoch_us(t):
    return int(t.timestamp()) * 1_000_000


def grid(seed, out, nlat, nlon, start, days):
    """Write `out/raw/*.parquet`; return the number of rows written."""
    os.makedirs(f"{out}/raw", exist_ok=True)
    lat = -90 + (np.arange(nlat) + 0.5) * 180.0 / nlat
    lon = (np.arange(nlon) + 0.5) * 360.0 / nlon
    glat, glon = (a.ravel() for a in np.meshgrid(lat, lon, indexing="ij"))
    cells = glat.size
    bounds = month_starts(start, days)
    total = 0
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        hours = (epoch_us(b) - epoch_us(a)) // US_PER_HOUR
        rng = _rng(seed, i)
        t_us = epoch_us(a) + np.repeat(np.arange(hours, dtype=np.int64) * US_PER_HOUR, cells)
        la, lo = np.tile(glat, hours), np.tile(glon, hours)
        hour = (t_us // US_PER_HOUR) % 24
        n = t_us.size
        diurnal = 6.0 * np.sin(2 * np.pi * (hour + lo / 15.0) / 24.0)
        t_air = 258.15 + 30.0 * np.cos(np.radians(la)) + diurnal + rng.normal(0, 1.5, n)
        table = pa.table({
            "time": pa.array(t_us, pa.timestamp("us", tz="UTC")),
            "lat": la, "lon": lo,
            "t_air": np.round(t_air, 3),
            "t_incr": np.round(rng.normal(0, 0.8, n), 3),
            "snow_h": np.round(np.clip(rng.normal(0.08, 0.06, n), 0, None), 4),
        })
        pq.write_table(table, f"{out}/raw/part-{a:%Y%m}.parquet", row_group_size=131072)
        total += n
    return total


WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
ADJ = "blue hot small old red new cold large".split()
NOUN = "bolt gear anvil ring rod plate widget gizmo".split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    d = rng.integers(0, span_days, n)
    return pa.array((np.datetime64(start) + d.astype("timedelta64[D]")).astype("datetime64[us]"))


def tables(seed, out):
    """Write the ten query tables; return {table: rows}."""
    os.makedirs(out, exist_ok=True)
    n = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
         "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}
    r = lambda salt: _rng(seed, 100 + salt)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    g = r(1); k = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(g.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(g, -999.99, 9999.99, k),
        "c_mktsegment": g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], k)})
    g = r(2); k = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(g.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(g, -999.99, 9999.99, k)})
    g = r(3); k = n["part"]
    _write(out, "part", {
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(g.choice(ADJ, k), g.choice(NOUN, k))],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, k)],
        "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k),
        "p_size": pa.array(g.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) * 0.1, 1)})
    g = r(4); k = n["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": g.integers(0, n["customer"], k),
        "o_orderstatus": g.choice(["F", "O", "P"], k),
        "o_totalprice": _money(g, 1000, 500000, k),
        "o_orderdate": _days(g, "1995-01-01", 2404, k),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], k)})
    g = r(5); k = n["lineitem"]
    qty = g.integers(1, 51, k).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": g.integers(0, n["orders"], k),
        "l_partkey": g.integers(0, n["part"], k),
        "l_suppkey": g.integers(0, n["supplier"], k),
        "l_linenumber": pa.array(g.integers(1, 8, k), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 2100, k), 2),
        "l_discount": np.round(g.integers(0, 11, k) * 0.01, 2),
        "l_tax": np.round(g.integers(0, 9, k) * 0.01, 2),
        "l_returnflag": g.choice(["A", "N", "R"], k),
        "l_linestatus": g.choice(["F", "O"], k),
        "l_shipdate": _days(g, "1995-01-02", 2498, k)})
    g = r(6); k = n["events"]
    gaps = g.integers(1, 2 * 30 * 86400 * 1_000_000 // k, k)
    ts_ns = (np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.cumsum(gaps)) * 1000
    _write(out, "events", {
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(ts_ns, pa.timestamp("ns")),
        "user_id": g.integers(0, 150, k),
        "event_type": g.choice(["click", "signup", "error", "view", "purchase"], k),
        "value": np.round(g.exponential(20, k) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in g.integers(0, 100, k)]})
    g = r(7); k = n["documents"]
    text = [" ".join(g.choice(WORDS, int(w))) for w in g.integers(10, 110, k)]
    _write(out, "documents", {
        "doc_id": np.arange(k, dtype=np.int64),
        "text": text,
        "lang": g.choice(["en", "en", "en", "zh", "de", "fr", "es"], k),
        "source": [f"src{i}" for i in g.integers(0, 20, k)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    g = r(8); k = n["embeddings"]
    v = g.normal(0, 1, (k, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, k), pa.int32())})
    return n
