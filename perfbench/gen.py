"""Seeded generator of raw OpenSky flight-state and Open-Meteo weather
snapshots, in the shapes the pipeline's raw layer receives.

One fleet of aircraft is drawn once per seed; every snapshot carries the
same fleet with positions advanced one minute, so the keyed index upsert
overwrites the same icao24 keys run after run. ``icao24`` is unique within
a snapshot. Each snapshot holds a declared number of edge rows:

* ``truncated_short`` - state array cut before latitude (row is dropped)
* ``truncated_long``  - state array cut after on_ground (row survives with
  null tail slots)
* ``null_position``   - null latitude or longitude (row is dropped)
* ``blank_callsign``  - whitespace-only callsign (survives, callsign null)
* ``non_numeric``     - non-numeric string in velocity / altitude (survives)
* ``integer_doubles`` - integer values in double slots (survives)

The traffic is chosen, not observed: the fleet is equal thirds of three
well-separated groups (low and slow, climbing or descending, cruising),
the shape of the pipeline's separated-batch test fixture, and the edge-row
rates below are round numbers. perfbench/NOTES.md measures how a
cruise-heavy continuum of altitudes changes the pipeline's cost.

The expected survivors of the format step (rows with a parseable latitude
and longitude) are written to ``manifest.json`` next to the snapshots.

The query-mix workload instead gets the star-schema tables its queries
read (region, nation, customer, orders, lineitem) as parquet, in the
column types of the program's testdata, and their row counts in
``tables.tsv``.

Usage: python3 gen.py <out_dir> <workload> <seed>
"""
import json
import math
import os
import random
import sys

# Open-Meteo points of the live France feed (ordered as the extractor
# requests them).
FRANCE_STATIONS = [
    (48.709632, 2.208563),   # Paris CDG
    (43.629421, 1.367789),   # Toulouse
    (45.726009, 5.090928),   # Lyon
    (43.434242, 5.212784),   # Marseille
    (47.460152, -0.529704),  # Nantes
    (50.561237, 3.086957),   # Lille
]

# name -> states per snapshot, the box the fleet flies in, distinct
# snapshots (replayed in a cycle)
WORKLOADS = {
    "pipeline-france": dict(states=1000, lat=(41.3, 51.1), lon=(-5.1, 9.6),
                            snapshots=8),
}

# edge rows per 1000 states, per snapshot (chosen, not measured on a feed)
EDGE_PER_MILLE = {
    "truncated_short": 4,
    "truncated_long": 4,
    "null_position": 6,
    "blank_callsign": 10,
    "non_numeric": 6,
    "integer_doubles": 10,
}

T0 = 1772121600  # 2026-02-26T16:00:00Z
COUNTRIES = ["France", "Germany", "United Kingdom", "Spain", "Italy",
             "Netherlands", "Switzerland", "Belgium", "Ireland", "Portugal"]
AIRLINES = ["AFR", "DLH", "BAW", "EZY", "RYR", "KLM", "SWR", "IBE", "VLG",
            "TAP"]


def edge_counts(states):
    return {k: v * states // 1000 for k, v in EDGE_PER_MILLE.items()}


def _fleet(rng, spec):
    n = spec["states"]
    keys = rng.sample(range(0x100000, 0xFFFFFF), n)
    fleet = []
    for i, k in enumerate(keys):
        phase = i % 3  # low/slow, climbing, cruising: three K-means groups
        if phase == 0:
            alt, vel, vr = rng.uniform(80, 400), rng.uniform(40, 80), 0.0
        elif phase == 1:
            alt, vel = rng.uniform(1500, 4000), rng.uniform(120, 180)
            vr = rng.choice([-1, 1]) * rng.uniform(6, 15)
        else:
            alt, vel, vr = rng.uniform(9500, 12000), rng.uniform(210, 250), 0.0
        fleet.append({
            "icao24": "%06x" % k,
            "callsign": "%s%04d" % (rng.choice(AIRLINES), rng.randrange(10000)),
            "country": rng.choice(COUNTRIES),
            "lat": rng.uniform(*spec["lat"]),
            "lon": rng.uniform(*spec["lon"]),
            "track": rng.uniform(0, 360),
            "alt": alt, "vel": vel, "vr": vr,
            "on_ground": phase == 0 and i % 9 == 0,
        })
    return fleet


def _advance(a, spec):
    # one minute along the track; wrap inside the box
    d = a["vel"] * 60.0 / 111_000.0
    lat = a["lat"] + d * math.cos(math.radians(a["track"]))
    lon = a["lon"] + d * math.sin(math.radians(a["track"]))
    lo, hi = spec["lat"]
    a["lat"] = lo + (lat - lo) % (hi - lo)
    lo, hi = spec["lon"]
    a["lon"] = lo + (lon - lo) % (hi - lo)


def _state(a, t, kind):
    s = [a["icao24"], a["callsign"].ljust(8), a["country"], t - 1, t,
         round(a["lon"], 4), round(a["lat"], 4), round(a["alt"], 1),
         a["on_ground"], round(a["vel"], 2), round(a["track"], 1),
         round(a["vr"], 2), None, round(a["alt"] + 150.0, 1), "1000", False,
         0]
    if kind == "truncated_short":
        s = s[:5]
    elif kind == "truncated_long":
        s = s[:9]
    elif kind == "null_position":
        s[5 + (int(a["icao24"], 16) & 1)] = None
    elif kind == "blank_callsign":
        s[1] = "        "
    elif kind == "non_numeric":
        s[9] = "n/a"
        s[7] = "unknown"
    elif kind == "integer_doubles":
        s[7] = int(a["alt"])
        s[9] = int(a["vel"])
    return s


def _weather(rng, stations, t, snap):
    out = []
    stamp = "2026-02-26T%02d:%02d" % (16 + (snap // 60), snap % 60)
    for lat, lon in stations:
        severe = rng.random() < 0.2
        out.append({
            "latitude": lat, "longitude": lon,
            "elevation": float(rng.randrange(0, 500)),
            "_extracted_at": "2026-02-26T16:%02d:03.000000" % (snap % 60),
            "current": {
                "time": stamp,
                "temperature_2m": round(rng.uniform(-10, 30), 1),
                "relative_humidity_2m": rng.randrange(20, 100),
                "wind_speed_10m": round(rng.uniform(0, 60), 1),
                "wind_direction_10m": rng.randrange(0, 360),
                "wind_gusts_10m": round(rng.uniform(60, 95) if severe
                                        else rng.uniform(0, 50), 1),
                "precipitation": round(rng.uniform(0, 8) if severe else 0.0, 1),
                "rain": round(rng.uniform(0, 8) if severe else 0.0, 1),
                "cloud_cover": rng.randrange(0, 101),
                "weather_code": rng.choice([95, 99, 61]) if severe
                else rng.choice([0, 1, 2, 3]),
                "visibility": round(rng.uniform(100, 3000) if severe
                                    else rng.uniform(5000, 30000), 1),
            },
        })
    return out


# rows per table of the query-mix workload (TPC-H ratios at scale 0.01)
TABLE_ROWS = {"customer": 1500, "orders": 15000, "lineitem": 60000}


def generate_tables(out_dir, seed):
    """Write ``tables/<name>.parquet`` and ``tables.tsv`` under ``out_dir``."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random("query-mix/%d" % seed)
    cents = lambda lo, hi: rng.randrange(lo * 100, hi * 100) / 100.0
    day0 = datetime.datetime(1992, 1, 1)
    day = lambda: day0 + datetime.timedelta(days=rng.randrange(0, 3650))
    nc, no, nl = (TABLE_ROWS[t] for t in ("customer", "orders", "lineitem"))
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    i32, i64, f64, txt = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"], txt)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array(["NATION_%d" % i for i in range(25)], txt),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(range(nc), i64),
            "c_name": pa.array(["Customer#%09d" % i for i in range(nc)], txt),
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(nc)], i32),
            "c_acctbal": pa.array([cents(-999, 10000) for _ in range(nc)], f64),
            "c_mktsegment": pa.array([rng.choice(segments) for _ in range(nc)],
                                     txt)}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(no), i64),
            "o_custkey": pa.array([rng.randrange(nc) for _ in range(no)], i64),
            "o_orderstatus": pa.array([rng.choice("FOP") for _ in range(no)], txt),
            "o_totalprice": pa.array([cents(900, 500000) for _ in range(no)], f64),
            "o_orderdate": pa.array([day() for _ in range(no)], ts),
            "o_orderpriority": pa.array([rng.choice(priorities)
                                         for _ in range(no)], txt)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array([rng.randrange(no) for _ in range(nl)], i64),
            "l_partkey": pa.array([rng.randrange(2000) for _ in range(nl)], i64),
            "l_suppkey": pa.array([rng.randrange(100) for _ in range(nl)], i64),
            "l_linenumber": pa.array([1 + i % 7 for i in range(nl)], i32),
            "l_quantity": pa.array([float(rng.randrange(1, 51))
                                    for _ in range(nl)], f64),
            "l_extendedprice": pa.array([cents(900, 100000) for _ in range(nl)],
                                        f64),
            "l_discount": pa.array([rng.randrange(11) / 100.0
                                    for _ in range(nl)], f64),
            "l_tax": pa.array([rng.randrange(9) / 100.0 for _ in range(nl)], f64),
            "l_returnflag": pa.array([rng.choice("ANR") for _ in range(nl)], txt),
            "l_linestatus": pa.array([rng.choice("FO") for _ in range(nl)], txt),
            "l_shipdate": pa.array([day() for _ in range(nl)], ts)}),
    }
    os.makedirs(os.path.join(out_dir, "tables"), exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, "tables", name + ".parquet"))
    with open(os.path.join(out_dir, "tables.tsv"), "w") as f:
        for name, t in tables.items():
            f.write("%s\t%d\n" % (name, t.num_rows))
    return {name: t.num_rows for name, t in tables.items()}


def generate(out_dir, workload, seed):
    """Write ``snap_NNNN/{flights,weather}/*.json`` and ``manifest.json``
    under ``out_dir``; returns the manifest."""
    spec = WORKLOADS[workload]
    rng = random.Random("%s/%d" % (workload, seed))
    fleet = _fleet(rng, spec)
    stations = FRANCE_STATIONS
    counts = edge_counts(spec["states"])
    kinds = [k for k, c in counts.items() for _ in range(c)]
    snaps = []
    for snap in range(spec["snapshots"]):
        t = T0 + 60 * snap
        for a in fleet:
            _advance(a, spec)
        # edge rows land on different aircraft every snapshot
        edge = dict(zip(rng.sample(range(len(fleet)), len(kinds)), kinds))
        states = [_state(a, t, edge.get(i)) for i, a in enumerate(fleet)]
        # the format step keeps exactly the rows with a latitude and longitude
        survivors = len(fleet) - sum(
            k in ("truncated_short", "null_position") for k in edge.values())
        d = os.path.join(out_dir, "snap_%04d" % snap)
        for sub, payload in (
                ("flights", {"time": t,
                             "_extracted_at":
                                 "2026-02-26T16:%02d:05.123456" % (snap % 60),
                             "states": states}),
                ("weather", _weather(rng, stations, t, snap))):
            os.makedirs(os.path.join(d, sub), exist_ok=True)
            with open(os.path.join(d, sub, sub + "_raw.json"), "w") as f:
                json.dump(payload, f, separators=(",", ":"))
        snaps.append({"dir": "snap_%04d" % snap, "time": t,
                      "states": len(states), "survivors": survivors})
    manifest = {"workload": workload, "seed": seed, "edge_rows": counts,
                "states": spec["states"], "stations": len(stations),
                "snapshots": snaps}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    if sys.argv[2] == "query-mix":
        generate_tables(sys.argv[1], int(sys.argv[3]))
    else:
        generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
