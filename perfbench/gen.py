"""Seeded input generators for the benchmark, with the ground truth the
checks use. Nothing here calls the program: the tallies are computed from
the generator's own records.

  rides:   daily ride CSVs (Polish header, NBSP names, `Poza stacją`,
           `#` stations, multi-day and <=2-min rides, stations missing
           from the dimension), the 478-row station CSV and a plan of
           rounds; tallies of every day's metrics.
  status:  nested Nextbike snapshots (`bikes[]` and `bikeNumbers`
           places, freestanding places, electric bikes) and the moves
           between each consecutive pair.
  catalog: the TPC-H-like tables the catalog queries read.
"""
import csv
import datetime as dt
import json
import os
import random

OUTSIDE = "Poza stacją"
NBSP = " "

# ---------------------------------------------------------------- rides

STREETS = [
    "Plac Grunwaldzki", "Aleja Hallera", "Powstańców Śląskich", "Legnicka",
    "Kazimierza Wielkiego", "Świdnicka", "Piłsudskiego", "Oławska",
    "Traugutta", "Curie-Skłodowskiej", "Jedności Narodowej", "Żmigrodzka",
    "Krzywoustego", "Grabiszyńska", "Borowska", "Ślężna", "Kromera",
    "Sienkiewicza", "Nowowiejska", "Pomorska", "Strzegomska", "Długa",
    "Wyszyńskiego", "Kościuszki", "Rynek", "Plac Bema", "Dworzec Główny",
    "Pl. Dominikański", "Hubska", "Zaporoska", "Mickiewicza", "Wróblewskiego",
]


def station_names(rng, n):
    names, seen = [], set()
    while len(names) < n:
        a, b = rng.sample(STREETS, 2)
        name = f"{a} / {b}" if rng.random() < 0.8 else f"{a} ({b})"
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


def rides(out, seed, history_days=8, new_days=6):
    """Writes `stations.csv`, `history/*.csv` (the store's set-up days,
    every eighth day over two months), `new/*.csv` (the days the rounds
    load, one each) and `plan.txt`. Returns the tallies."""
    import numpy as np
    import pandas as pd
    rng = random.Random(seed)
    npr = np.random.default_rng(seed)
    os.makedirs(f"{out}/history", exist_ok=True)
    os.makedirs(f"{out}/new", exist_ok=True)

    # station dimension: 373 located stations + 105 '#' maintenance rows
    located = station_names(rng, 373 + 12)
    missing = located[373:]          # used by rides, absent from the dimension
    located = located[:373]
    coords = {s: (round(51.07 + rng.random() * 0.08, 6), round(16.97 + rng.random() * 0.13, 6))
              for s in located}
    maint = [f"# Rowery {w} {i}" for i, w in enumerate(["serwis", "magazyn", "skradzione Wrocław"] * 35)]
    rows = [(s, str(coords[s][0]), str(coords[s][1])) for s in located] + [(m, "", "") for m in maint]
    rng.shuffle(rows)
    with open(f"{out}/stations.csv", "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(["station_name", "lat", "lon"])
        for i, r in enumerate(rows):
            if i == 240:
                w.writerow(["station_name", "lat", "lon"])  # embedded duplicate header
            w.writerow(r)

    year = 2025
    first = dt.date(year, 3, 1) + dt.timedelta(days=rng.randrange(60))
    hist_dates = [first + dt.timedelta(days=8 * i) for i in range(history_days)]
    new_dates = [hist_dates[-1] + dt.timedelta(days=1 + i) for i in range(new_days)]
    hour_p = np.array([1, 0.5, 0.3, 0.2, 0.2, 0.5, 2, 5, 7, 5, 4, 4, 5, 5, 5, 6, 8, 10, 9, 7, 5, 4, 3, 2])
    hour_p /= hour_p.sum()
    station_p = 1.0 / (np.arange(len(located)) + 8)
    station_p /= station_p.sum()
    located_a, missing_a, maint_a = (np.array(x, dtype=object) for x in (located, missing, maint))

    def stations_for(n):
        """(raw CSV name, cleaned name or None) for n ride ends."""
        x = npr.random(n)
        clean = located_a[npr.choice(len(located), n, p=station_p)]
        suffix = npr.random(n)
        raw = np.where(suffix < 0.1, clean + NBSP, np.where(suffix < 0.15, clean + " ", clean))
        for lo, hi, r, c in ((0.0, 0.05, OUTSIDE, OUTSIDE), (0.06, 0.063, "nan", None),
                             (0.063, 0.066, "", None)):
            m = (x >= lo) & (x < hi)
            raw[m], clean[m] = r, c
        m = (x >= 0.05) & (x < 0.06)
        raw[m] = clean[m] = missing_a[npr.integers(0, len(missing), m.sum())]
        m = (x >= 0.066) & (x < 0.071)
        raw[m] = clean[m] = maint_a[npr.integers(0, len(maint), m.sum())]
        return raw, clean

    def stamp(col):
        """`yyyy-MM-dd HH:mm:ss` strings, formatted in bulk."""
        b = np.datetime_as_string(col.to_numpy(), unit="s").astype("S19")
        b.view(np.uint8).reshape(-1, 19)[:, 10] = ord(" ")
        return b.astype(str)

    uid = 230_000_000 + rng.randrange(1_000_000)
    files, frames, prev = {}, [], None
    # rides a day: the history spans the reference's 6.4-9.3k in a seeded
    # order; every day a round loads has the same size, so that seeds move
    # the content of a round and not its amount of work
    counts = np.linspace(6400, 9300, history_days).astype(int)
    npr.shuffle(counts)
    counts = list(counts) + [7800] * new_days
    for fidx, d in enumerate(hist_dates + new_dates):
        n = int(counts[fidx])
        uids = uid + np.cumsum(npr.integers(1, 4, n))
        uid = int(uids[-1])
        start = (np.datetime64(d.isoformat(), "s") + npr.choice(24, n, p=hour_p) * 3600
                 + npr.integers(0, 3600, n))
        x = npr.random(n)
        dur = np.where(x < 0.03, npr.integers(0, 3, n),
                       np.where(x < 0.034, npr.integers(1440, 4001, n),
                                np.maximum(3, npr.lognormal(2.7, 0.6, n).astype(np.int64))))
        end = start + dur * 60 + npr.integers(0, 60, n)
        s_raw, s_clean = stations_for(n)
        e_raw, e_clean = stations_for(n)
        trip = (npr.random(n) < 0.04) & pd.notna(s_clean)
        e_raw[trip], e_clean[trip] = s_raw[trip], s_clean[trip]      # round trips
        day = pd.DataFrame({"uid": uids, "bike": npr.integers(500000, 700000, n),
                            "start": start, "end": end, "s_raw": s_raw, "e_raw": e_raw,
                            "dur": dur, "sc": s_clean, "ec": e_clean})
        # exports overlap: a few of the previous file's rows again
        full = day if prev is None else pd.concat(
            [day, prev.sample(int(npr.integers(20, 81)), random_state=npr.integers(1 << 31))])
        prev = day
        path = f"{'history' if d in hist_dates else 'new'}/Historia_przejazdow_{d.isoformat()}.csv"
        pd.DataFrame({
            "UID wynajmu": full["uid"], "Numer roweru": full["bike"],
            "Data wynajmu": stamp(full["start"]), "Data zwrotu": stamp(full["end"]),
            "Stacja wynajmu": full["s_raw"], "Stacja zwrotu": full["e_raw"], "Czas trwania": full["dur"],
        }).to_csv(f"{out}/{path}", index=False, encoding="utf-8")
        files[d.isoformat()] = (path, len(full))
        frames.append(full.assign(fidx=fidx))

    # ground truth: rides surviving the '#' filter, one per uid
    allr = pd.concat(frames)
    hashed = allr["sc"].fillna("").str.startswith("#") | allr["ec"].fillna("").str.startswith("#")
    kept = allr[~hashed]
    uniq = kept.drop_duplicates("uid")
    uniq = uniq.assign(day=uniq["start"].dt.strftime("%Y-%m-%d"), hour=uniq["start"].dt.hour)
    m = uniq[uniq["dur"] > 2]
    lat = {s: c[0] for s, c in coords.items()}
    lon = {s: c[1] for s, c in coords.items()}
    la1, lo1, la2, lo2 = (np.radians(m[c].map(t).astype(float).to_numpy())
                          for c, t in (("sc", lat), ("sc", lon), ("ec", lat), ("ec", lon)))
    a = np.sin((la2 - la1) / 2) ** 2 + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2
    m = m.assign(dist=2 * 6371.0 * np.arcsin(np.sqrt(a)))

    ends = pd.concat([m[["day", "sc"]].rename(columns={"sc": "st"}).assign(dep=1, arr=0),
                      m[["day", "ec"]].rename(columns={"ec": "st"}).assign(dep=0, arr=1)])
    ends = ends[ends["st"].notna() & (ends["st"] != OUTSIDE)]
    busy = ends.groupby(["day", "st"], as_index=False)[["arr", "dep"]].sum()
    busy["total"] = busy["arr"] + busy["dep"]
    busy = busy.sort_values(["day", "total", "st"], ascending=[True, False, True]).groupby("day").head(5)
    rt = m[m["sc"].notna() & m["ec"].notna() & (m["sc"] != m["ec"])
           & (m["sc"] != OUTSIDE) & (m["ec"] != OUTSIDE)]
    rt = rt.groupby(["day", "sc", "ec"], as_index=False).size()
    rt = rt.sort_values(["day", "size", "sc", "ec"], ascending=[True, False, True, True]).groupby("day").head(5)

    days = {}
    for dday, g in m.groupby("day"):
        hist = g.groupby("hour").size()
        days[dday] = {
            "total_rides": int(len(g)),
            "bike_rentals_histogram": {str(h): int(c) for h, c in hist.items()},
            "total_duration_min": int(g["dur"].sum()),
            "round_trips": int((g["sc"].notna() & (g["sc"] == g["ec"])).sum()),
            "left_outside_station": int((g["ec"] == OUTSIDE).sum()),
            "n_distance": int(g["dist"].notna().sum()),
            "total_distance_km": float(g["dist"].sum()),
        }
    for dday, g in busy.groupby("day"):
        days[dday]["busiest_stations_top5"] = [[s, int(a), int(b), int(t)] for s, a, b, t in
                                               g[["st", "arr", "dep", "total"]].itertuples(index=False)]
    for dday, g in rt.groupby("day"):
        days[dday]["top_routes_top5"] = [[s, e, int(c)] for s, e, c in g[["sc", "ec", "size"]].itertuples(index=False)]
    for v in days.values():
        v.setdefault("busiest_stations_top5", [])
        v.setdefault("top_routes_top5", [])

    # distinct surviving uids in the store after set-up and after each new day
    n_hist = len(hist_dates)
    loaded_by = np.maximum(0, uniq["fidx"].to_numpy() - n_hist + 1)   # first file holding the uid
    through = np.cumsum(np.bincount(loaded_by, minlength=len(new_dates) + 1)).tolist()

    # rounds: load one new day, reload one stored day, two range requests
    order = [d.isoformat() for d in new_dates]
    reloads = rng.sample([d.isoformat() for d in hist_dates[1:]], len(order))
    with open(f"{out}/plan.txt", "w") as f:
        f.write(f"year {year}\n")
        for nd, rd in zip(order, reloads):
            week = (dt.date.fromisoformat(nd) - dt.timedelta(days=6)).isoformat()
            f.write(f"round {files[nd][0]} {nd} {files[rd][0]} {rd} {hist_dates[0].isoformat()} {nd} {week} {nd}\n")

    return {
        "history": [d.isoformat() for d in hist_dates],
        "new": order,
        "reloads": reloads,
        "file_rows": {d: files[d][1] for d in files},
        "store_rows_by_day": {k: int(v) for k, v in uniq.groupby("day").size().items()},
        "days": days,
        "store_rows_through": [int(x) for x in through],
    }


# --------------------------------------------------------------- status

def status(out, seed, backlog=6, later=1, fleet=2000, stations=290, moves=30):
    """Writes `backlog/` and `later/` snapshot files, one a minute, and
    returns the expected events of each consecutive pair, keyed by the
    later snapshot's `_fetched_at`."""
    rng = random.Random(seed)
    os.makedirs(f"{out}/backlog", exist_ok=True)
    os.makedirs(f"{out}/later", exist_ok=True)
    names = station_names(rng, stations)
    st = [{"uid": str(12_400_000 + i), "name": names[i],
           "lat": round(51.07 + rng.random() * 0.08, 6), "lng": round(16.97 + rng.random() * 0.13, 6),
           "minimal": rng.random() < 0.2} for i in range(stations)]
    bikes = rng.sample(range(590000, 620000), fleet)
    if 590066 not in bikes:
        bikes[0] = 590066
    electric = {b for b in bikes if rng.random() < 0.15}
    battery = {b: rng.randint(5, 100) for b in electric}
    # where each bike is: ("S", station index) | ("F", (lat, lng)) | absent = in use
    where = {}
    for b in bikes:
        x = rng.random()
        if x < 0.72:
            where[b] = ("S", rng.randrange(stations))
        elif x < 0.77:
            where[b] = ("F", (round(51.07 + rng.random() * 0.08, 6), round(16.97 + rng.random() * 0.13, 6)))
    where[590066] = ("F", (51.142, 16.87))
    golden_station = rng.randrange(stations)

    def norm(pos):
        return "freestanding" if pos[0] == "F" else st[pos[1]]["uid"]

    def doc(ts):
        by_station = {}
        free = []
        for b, pos in where.items():
            if pos[0] == "S":
                by_station.setdefault(pos[1], []).append(b)
            else:
                free.append((b, pos[1]))
        places = []
        for i, s in enumerate(st):
            bs = sorted(by_station.get(i, []))
            p = {"uid": s["uid"], "lat": s["lat"], "lng": s["lng"], "bike": False, "name": s["name"],
                 "spot": True, "number": 10000 + i, "bike_racks": 15,
                 "placeType": "STATION", "geoCoords": {"lat": s["lat"], "lng": s["lng"]}}
            if s["minimal"]:
                p["bikeNumbers"] = [str(b) for b in bs]
            else:
                p["bikes"] = [{"number": b, "bikeType": "ELECTRIC_4G" if b in electric else "STANDARD_4G",
                               "battery": battery.get(b)} for b in bs]
            places.append(p)
        for b, (la, ln) in sorted(free):
            kind = "FREESTANDING_ELECTRIC_BIKE" if b in electric else "FREESTANDING_BIKE"
            places.append({"uid": str(90_000_000 + b), "lat": la, "lng": ln, "bike": True,
                           "name": f"BIKE {b}", "spot": False, "placeType": kind,
                           "geoCoords": {"lat": la, "lng": ln},
                           "bikes": [{"number": b, "bikeType": "ELECTRIC_4G" if b in electric else "STANDARD_4G",
                                      "battery": battery.get(b)}]})
        return {"_fetched_at": ts, "countries": "PL",
                "data": [{"name": "VETURILO", "cities": [{"name": "Wrocław", "uid": 1, "places": places}]}]}

    t = dt.datetime(2025, 8, 21, 14, 0, 2) + dt.timedelta(minutes=rng.randrange(600))
    expected = {}
    prev = None
    files = []
    for i in range(backlog + later):
        if i > 0:
            for _ in range(moves):
                b = rng.choice(bikes)
                x = rng.random()
                if b in where and x < 0.4:
                    del where[b]                                   # taken out
                elif x < 0.85:
                    where[b] = ("S", rng.randrange(stations))      # docked somewhere
                else:
                    where[b] = ("F", (round(51.07 + rng.random() * 0.08, 6), round(16.97 + rng.random() * 0.13, 6)))
            if i == 1:
                where[590066] = ("S", golden_station)
        ts = (t + dt.timedelta(minutes=i)).strftime("%Y-%m-%dT%H:%M:%S+02:00")
        cur = {str(b): norm(p) for b, p in where.items()}
        if prev is not None:
            ev = []
            for b in prev.keys() | cur.keys():
                p, c = prev.get(b), cur.get(b)
                if p is not None and (c is None or c != p):
                    ev.append([ts, b, "departed"])
                if c is not None and (p is None or c != p):
                    ev.append([ts, b, "arrived"])
            expected[ts] = sorted(ev)
        prev = cur
        sub = "backlog" if i < backlog else "later"
        name = f"bike_rides_{(t + dt.timedelta(minutes=i)).strftime('%Y%m%d_%H%M%S')}.json"
        with open(f"{out}/{sub}/{name}", "w", encoding="utf-8") as f:
            json.dump(doc(ts), f, ensure_ascii=False)
        files.append(ts)
    return {"timestamps": files, "backlog": backlog, "later": later, "expected": expected}


# -------------------------------------------------------------- catalog

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
           ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
           ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
           ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
           ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
WORDS = ("spark window merge table column vector stream value data small join filter big group "
         "hash customer sort order slow line part fast row the agg key query a scan batch").split()


def catalog(out, sf, seed=42):
    """The ten tables of the catalog's TPC-H-like star schema plus the
    events, documents and embeddings tables, at scale factor `sf`."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def save(name, cols):
        pd.DataFrame(cols).to_parquet(f"{out}/{name}.parquet", index=False)

    def i32(a):
        return np.asarray(a, dtype=np.int32)

    save("region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    save("nation", {"n_nationkey": i32(range(25)), "n_name": [n for n, _ in NATIONS],
                    "n_regionkey": i32([r for _, r in NATIONS])})
    nc, ns, np_, no = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf), int(1_500_000 * sf)
    nl, ne, nd = int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    nv = int(500 * (sf / 0.01) ** 0.6)
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    save("customer", {"c_custkey": np.arange(nc, dtype=np.int64),
                      "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                      "c_nationkey": i32(rng.integers(0, 25, nc)),
                      "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
                      "c_mktsegment": segs[rng.integers(0, 5, nc)]})
    save("supplier", {"s_suppkey": np.arange(ns, dtype=np.int64),
                      "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                      "s_nationkey": i32(rng.integers(0, 25, ns)),
                      "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(np_, dtype=np.int64)
    save("part", {"p_partkey": pk,
                  "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, np_)], " "), noun[rng.integers(0, 8, np_)]),
                  "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
                  "p_type": types[rng.integers(0, 6, np_)],
                  "p_size": i32(rng.integers(1, 51, np_)),
                  "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    d0 = np.datetime64("1995-01-01")
    save("orders", {"o_orderkey": np.arange(no, dtype=np.int64),
                    "o_custkey": rng.integers(0, nc, no).astype(np.int64),
                    "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, no)],
                    "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
                    "o_orderdate": (d0 + rng.integers(0, 2404, no).astype("timedelta64[D]")).astype("datetime64[us]"),
                    "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, no)]})
    save("lineitem", {"l_orderkey": rng.integers(0, no, nl).astype(np.int64),
                      "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
                      "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
                      "l_linenumber": i32(rng.integers(1, 8, nl)),
                      "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                      "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
                      "l_discount": rng.integers(0, 11, nl) / 100.0,
                      "l_tax": rng.integers(0, 9, nl) / 100.0,
                      "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
                      "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
                      "l_shipdate": (np.datetime64("1995-01-02") + rng.integers(0, 2498, nl).astype("timedelta64[D]")).astype("datetime64[us]")})
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
                 + rng.integers(0, 30 * 86400 * 1_000_000, ne))
    save("events", {"event_id": np.arange(ne, dtype=np.int64),
                    "ts": ts.astype("datetime64[us]"),
                    "user_id": rng.integers(0, max(2, int(15_000 * sf)), ne).astype(np.int64),
                    "event_type": np.array(["signup", "click", "error", "view", "purchase"])[rng.integers(0, 5, ne)],
                    "value": np.round(rng.exponential(50.0, ne), 2),
                    "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    texts = []
    for i in range(nd):
        x = rng.random()
        if texts and x < 0.025:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")   # near duplicate
        elif texts and x < 0.027:
            texts.append(texts[int(rng.integers(0, len(texts)))])            # exact duplicate
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 100)))))
    langs = np.array(["en", "es", "zh", "de", "fr"])[rng.choice(5, nd, p=[0.41, 0.15, 0.15, 0.14, 0.15])]
    save("documents", {"doc_id": np.arange(nd, dtype=np.int64), "text": texts, "lang": langs,
                       "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
                       "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.normal(size=(nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {"vec_id": np.arange(nv, dtype=np.int64), "embedding": list(v),
                        "label": i32(rng.integers(0, 10, nv))})
