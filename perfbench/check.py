"""Independent checks of the program's outputs.

  pipeline, rides: the yearly JSON against the generator's per-day tallies
      (integers exact, distances against a haversine within the reference
      test's 0.01 km a ride), the store's row count against the distinct
      surviving uids, loads writing exactly the new rows and reloads none,
      and every range request against a re-aggregation of the per-day
      tallies with the browser's (app.js) rules.
  pipeline, status: every event log against the generator's known moves,
      by (timestamp, bike_id, event_type).
  catalog: every query's result against its oracle SQL run by DuckDB on
      the same parquet, compared as scripts/check_oracle.py does. A query
      that disagrees is named and its operations count as failed.

`run` returns (failed operation kinds, problems); a problem makes the run
incorrect. The oracle results are computed once per checkout for the
fixed catalog tables (see `oracle_dir`); regenerating them alone:

  python3 perfbench/check.py oracle <tables dir> <oracle_sql.json> <out dir>
"""
import glob
import json
import os
import sys

import duckdb

DIST_TOL_KM = 0.01          # the reference test's tolerance for one distance


def run(workload, work, res, truth):
    if workload == "pipeline":
        return set(), rides(work, res, truth["rides"]) + status(work, res, truth["status"])
    return catalog(work, truth)


# ---------------------------------------------------------------- rides

def rides(work, res, t):
    problems = []
    ops = res["ops"]
    rounds = res["rounds"]
    loaded = t["history"] + t["new"][:rounds]

    with open(os.path.join(work, "state", "metrics_2025.json"), encoding="utf-8") as f:
        doc = json.load(f)
    got = doc["days"]
    if doc["year"] != 2025:
        problems.append(f"year file says {doc['year']}")
    if sorted(got) != sorted(loaded):
        problems.append(f"year file holds {len(got)} days, expected {len(loaded)}")
    for d in loaded:
        g, w = got.get(d), t["days"][d]
        if g is None:
            continue
        for k in ("total_rides", "total_duration_min", "round_trips", "left_outside_station"):
            if g[k] != w[k]:
                problems.append(f"{d} {k}: {g[k]} != {w[k]}")
        if g["bike_rentals_histogram"] != w["bike_rentals_histogram"]:
            problems.append(f"{d} histogram differs")
        busiest = [[s["station"], s["arrivals"], s["departures"], s["total"]] for s in g["busiest_stations_top5"]]
        if busiest != w["busiest_stations_top5"]:
            problems.append(f"{d} busiest stations {busiest} != {w['busiest_stations_top5']}")
        routes = [[r["start_station"], r["end_station"], r["rides"]] for r in g["top_routes_top5"]]
        if routes != w["top_routes_top5"]:
            problems.append(f"{d} top routes {routes} != {w['top_routes_top5']}")
        n = w["n_distance"]
        if abs(g["total_distance_km"] - w["total_distance_km"]) > DIST_TOL_KM * n:
            problems.append(f"{d} total distance {g['total_distance_km']} vs {w['total_distance_km']:.3f}")
        if n and abs(g["avg_distance_km"] - w["total_distance_km"] / n) > DIST_TOL_KM:
            problems.append(f"{d} avg distance {g['avg_distance_km']} vs {w['total_distance_km'] / n:.3f}")
        if abs(g["avg_duration_min"] - w["total_duration_min"] / w["total_rides"]) > 0.006:
            problems.append(f"{d} avg duration {g['avg_duration_min']}")

    store = sorted(p for p in glob.glob(os.path.join(work, "state", "store*")))[-1]
    n, nd = duckdb.connect().execute(
        f"SELECT count(*), count(DISTINCT uid) FROM read_parquet('{store}/**/*.parquet')").fetchone()
    want = t["store_rows_through"][rounds]
    if n != want or nd != want:
        problems.append(f"store holds {n} rows ({nd} distinct uids), expected {want}")

    for o in ops:
        if not o["ok"]:
            continue
        r = o["round"]
        if o["kind"] == "reload" and o["written"] != 0:
            problems.append(f"reload of {o['file']} wrote {o['written']} rows")
        if o["kind"] == "load":
            want = t["store_rows_through"][r + 1] - t["store_rows_through"][r]
            if o["written"] != want:
                problems.append(f"load of {o['file']} wrote {o['written']} rows, expected {want}")
        if o["kind"] == "range":
            present = t["history"] + t["new"][:r + 1]
            want = range_request(t["days"], present, *o["range"])
            if o["result"] != want:
                problems.append(f"range {o['range']} round {r}: {o['result']} != {want}")
    return problems


def range_request(days, present, start, end):
    """app.js over the per-day documents: the series, the hour histogram
    averaged over the range's days (absent hours 0, rounded half up), and
    the busiest stations and routes summed from each day's top-5 lists."""
    ds = sorted(d for d in present if start <= d <= end)
    n = max(1, len(ds))
    hist = [[h, int(sum(days[d]["bike_rentals_histogram"].get(str(h), 0) for d in ds) / n + 0.5)]
            for h in range(24)]
    st, rt = {}, {}
    for d in ds:
        for s, a, b, tot in days[d]["busiest_stations_top5"]:
            x = st.setdefault(s, [0, 0, 0])
            x[0] += a; x[1] += b; x[2] += tot
        for a, b, k in days[d]["top_routes_top5"]:
            key = f"{a} → {b}"
            rt[key] = rt.get(key, 0) + k
    busiest = sorted(([s] + v for s, v in st.items()), key=lambda x: (-x[3], x[0]))[:5]
    routes = sorted(([k, v] for k, v in rt.items()), key=lambda x: (-x[1], x[0]))[:5]
    return {"series": [[d, days[d]["total_rides"]] for d in ds], "hist": hist,
            "busiest": busiest, "routes": routes}


# --------------------------------------------------------------- status

def events(path):
    if not glob.glob(os.path.join(path, "*.parquet")):
        return []
    return sorted(list(r) for r in duckdb.connect().execute(
        f"SELECT timestamp, bike_id, event_type FROM read_parquet('{path}/*.parquet')").fetchall())


def status(work, res, t):
    problems = []
    ts, b = t["timestamps"], t["backlog"]
    want_drain = sorted(e for x in ts[1:b] for e in t["expected"][x])
    want_once = sorted(e for x in ts[b:] for e in t["expected"][x])
    for r in range(res["rounds"]):
        base = os.path.join(work, "state", f"round{r}")
        got = events(os.path.join(base, "events"))
        if got != want_drain:
            problems.append(f"round {r} drain: {len(got)} events, expected {len(want_drain)}"
                            f" ({len(set(map(tuple, got)) ^ set(map(tuple, want_drain)))} differ)")
        got = events(os.path.join(base, "once_events"))
        if got != want_once:
            problems.append(f"round {r} runOnce: {len(got)} events, expected {len(want_once)}")
    return problems


# -------------------------------------------------------------- catalog

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def oracle(tables, sql_file, out, only=None):
    """Runs the oracle SQL of every query (or of the names in `only` that
    have no `<out>/<name>.parquet` yet) in DuckDB over the tables and
    writes each result to `<out>/<name>.parquet`. Returns {name: error}
    for the queries whose oracle could not run."""
    con = duckdb.connect()
    for tb in TABLES:
        p = os.path.join(tables, f"{tb}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {tb} AS SELECT * FROM read_parquet('{p}')")
    with open(sql_file) as f:
        sqls = json.load(f)
    os.makedirs(out, exist_ok=True)
    errors = {}
    for name, sql in sorted(sqls.items()):
        dst = os.path.join(out, f"{name}.parquet")
        if only is not None and (name not in only or os.path.exists(dst)):
            continue
        try:
            con.execute(sql).fetchdf().to_parquet(dst + ".tmp", index=False)
            os.replace(dst + ".tmp", dst)
        except Exception as e:  # an oracle that cannot run is a failed check
            errors[name] = f"oracle error: {str(e).splitlines()[0]}"
    return errors


def oracle_dir(work):
    """Where the oracle results for these tables and this SQL live. The
    catalog's tables do not depend on the seed, so the results are kept
    in the checkout's work area, keyed by the tables' bytes and the SQL,
    and computed only when that key is new."""
    import hashlib
    h = hashlib.sha256()
    tables = os.path.join(work, "in", "catalog", "tables")
    for name in sorted(os.listdir(tables)):
        with open(os.path.join(tables, name), "rb") as f:
            h.update(name.encode() + f.read())
    with open(os.path.join(work, "oracle_sql.json"), "rb") as f:
        h.update(f.read())
    return os.path.join(os.path.dirname(work), "oracle", h.hexdigest()[:20])


def _norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got_raw, want_raw):
    """None if equal, else why not: same columns, same row count, exact
    values (floats bit-for-bit after a float64 cast), no int/float skew."""
    import pandas as pd
    skew = [c for c in got_raw.columns if c in want_raw.columns and
            pd.api.types.is_integer_dtype(got_raw[c]) != pd.api.types.is_integer_dtype(want_raw[c]) and
            (pd.api.types.is_float_dtype(got_raw[c]) or pd.api.types.is_float_dtype(want_raw[c]))]
    if skew:
        return f"int-vs-float dtype skew on {skew}"
    got, want = _norm(got_raw), _norm(want_raw)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                same = (a.astype(float).fillna(-9e99) == b.astype(float).fillna(-9e99)).all()
            else:
                same = (a.astype(str).fillna("NULL") == b.astype(str).fillna("NULL")).all()
        except Exception as e:
            return f"col {c} compare error {e}"
        if not same:
            return f"col {c} value mismatch"
    return None


def catalog(work, truth):
    import pandas as pd
    cache = oracle_dir(work)
    errors = oracle(os.path.join(work, "in", "catalog", "tables"), os.path.join(work, "oracle_sql.json"),
                    cache, only={k.split("@")[0] for k in truth["mix"]})
    failed = set()
    for kind in truth["mix"]:          # a query, or a query@forced
        name = kind.split("@")[0]
        files = glob.glob(os.path.join(work, "out", kind, "*.parquet"))
        want = os.path.join(cache, f"{name}.parquet")
        if not files:
            why = "no result written"
        elif name in errors:
            why = errors[name]
        elif not os.path.exists(want):
            why = "no oracle SQL"
        else:
            why = compare(pd.concat([pd.read_parquet(f) for f in files]), pd.read_parquet(want))
        if why:
            print(f"[perfbench] FAIL {kind}: {why}", file=sys.stderr)
            failed.add(kind)
    return failed, []


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "oracle":
        for k, v in oracle(*sys.argv[2:]).items():
            print(k, v)
    else:
        sys.exit(__doc__)
