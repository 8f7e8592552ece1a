"""The workloads. Each is fixed except for what the seed sets: the
generated input values and the order operations are submitted in. The
layout that sets how many operations a pass has (grid, days, planner
cap, variable list, query list) does not depend on the seed, so every
seed measures the same amount of work. README.md says why each exists."""
import datetime as dt
import random

START = dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc)

DRS = {"activity": "CMIP", "institution": "CSIRO", "source": "ACCESS-ESM1-5",
       "experiment": "historical", "member": "r1i1p1f1", "grid": "gn",
       "version": "v20000101"}


def _mapping(var, inputs, calc, units, cell):
    return {"cmorVar": var, "inputVars": inputs, "calculation": calc, "units": units,
            "dimensions": "longitude latitude time", "frequency": "1hr",
            "realm": "atmos", "cellMethods": cell, "positive": "",
            "cmorTable": "E1hr", "model": "ESM1.5"}


# The catalog: every output variable maps hourly raw fields through one
# calculation of the reference catalog's shapes.
MAPPINGS = [
    _mapping("tas", "t_air", "", "K", "area: time: mean"),
    _mapping("ts", "t_air t_incr", "var[0]+var[1]", "K", "area: time: mean"),
    _mapping("tos", "t_air", "tos_degC(var[0])", "degC", "area: time: mean"),
    _mapping("sisnconc", "snow_h", "sisnconc(var[0])", "1", "area: time: maximum"),
    _mapping("prsn", "snow_h", "var[0]*0.001", "kg m-2 s-1", "area: time: sum"),
]

# (cmorVar, requested frequency, CMOR table, timeshot). A request coarser
# than the hourly source resolves to a resample step.
SMALL_REQUESTS = [
    ("tas", "1hr", "E1hr", "mean"), ("ts", "6hr", "6hrPlev", "mean"),
    ("tos", "day", "Oday", "mean"), ("sisnconc", "mon", "SImon", "max"),
    ("prsn", "6hr", "6hrPlev", "sum"),
]

# Operator queries by family. "paper": the climate post-processing path
# (resample, climatology, interpolation, DSL, DRS, CMOR, catalog);
# "other": relational and text/vector operators; "suspect": queries that
# recompiled generated code on warm runs; "loop": iterative operators
# that cut lineage with checkpoints.
QUERIES = {
    "paper": ["q16_resample_6h", "q39_drs_filename", "q40_interval_ladder",
              "q113_timeshot_nsteps"],
    "other": ["q08_top1_per_group"],
    "suspect": ["q251_weighted_rank_sketch"],
    "loop": ["q210_pagerank"],
}


def _task_spec(requests, grid_cells, days, max_size_mb):
    end = START + dt.timedelta(days=days)
    return {
        "keys": ["lat", "lon"], "drs": DRS, "mappings": MAPPINGS,
        "requests": [{"cmorVar": v, "frequency": f, "table": t, "timeshot": s}
                     for v, f, t, s in requests],
        "start_us": int(START.timestamp()) * 1_000_000,
        "end_us": int(end.timestamp()) * 1_000_000,
        # size estimate from the hourly input a task reads: one 8-byte
        # value per cell per hour
        "mb_per_day": grid_cells * 8 * 24 / 2**20,
        "max_size_mb": max_size_mb,
    }


WORKLOADS = {
    # 8x16 grid, 60 days; a 1 MiB cap puts the ladder on its 1mo rung,
    # so each variable is 2 file slices
    "task_small_files": {"kind": "tasks", "grid": (8, 16), "days": 60,
                         "requests": SMALL_REQUESTS, "max_size_mb": 1.0, "passes_20s": 4},
    # its first passes after the warm-up are still 20-30% slower than the
    # later ones, so it measures more of them
    "query_mix": {"kind": "queries", "passes_20s": 6},
}


def passes(w, seconds):
    """Measured passes for a run of `seconds`. Throughput still climbs
    pass after pass as the JIT compiles Spark's planning and scheduling
    code, so a run measures a fixed number of passes rather than as many
    as fit in a clock window: every run and every commit then compares
    the same passes. `passes_20s` is the count for a 20-second run; other lengths
    scale it. At least two, so a traced run has a traced and an
    untraced pass."""
    return max(2, round(w["passes_20s"] * seconds / 20))


def spec(name, seed):
    """The workload's part of the runner spec, with the seed's order."""
    w = WORKLOADS[name]
    rnd = random.Random(seed)
    if w["kind"] == "tasks":
        reqs = list(w["requests"])
        rnd.shuffle(reqs)
        nlat, nlon = w["grid"]
        return {"tasks": _task_spec(reqs, nlat * nlon, w["days"], w["max_size_mb"])}
    qs = [{"name": q, "family": fam} for fam, names in QUERIES.items() for q in names]
    rnd.shuffle(qs)
    return {"queries": qs}
