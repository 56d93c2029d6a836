"""Seeded input generator for the benchmark.

Two kinds of input:

* Registry tables (`region` .. `embeddings`): a copy of the engine's
  sf0.01 test tables is kept in `perfbench/data/sf0.01`. The run seed
  permutes each table's rows, and the permuted copy is written with
  pyarrow with the original's schema (and its metadata), one row group
  per file, as the originals are. The logical content never changes, so
  the DuckDB oracle answers hold for every seed.
* ETL landings (`etl_aq_weather`): raw Open-Meteo weather (A1) and
  hourly air-quality (A2) JSON files, with the edge cases the engine's
  transform handles: ragged and missing metric arrays, duplicate
  (city, time) rows inside one landing, the city only in the file-name
  stem, and a second landing that overlaps the first. The generator also
  returns what a correct pipeline must produce from them.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The engine's test tables at lineitem = 60,000 rows. README.md says why
# this scale and not sf0.1.
BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

POLLUTANTS = ["pm10", "pm2_5", "carbon_monoxide", "nitrogen_dioxide",
              "sulphur_dioxide", "ozone"]
WEATHER_METRICS = ["temperature_2m", "relativehumidity_2m", "windspeed_10m"]


def base_tables():
    """The registry tables' logical content, as pyarrow Tables."""
    return {name: pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))
            for name in TABLES}


def digest():
    """Digest of the base tables' files (identical for every seed)."""
    h = hashlib.sha256()
    for name in TABLES:
        h.update(name.encode())
        with open(os.path.join(BASE_DIR, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def write_registry(out_dir, seed, tables=None):
    """Row-permuted copies of the base tables under out_dir."""
    tables = tables or base_tables()
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        tab = tables[name]
        perm = rng.permutation(tab.num_rows)
        pq.write_table(tab.take(pa.array(perm)), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tab.num_rows))


# --- ETL landings ---------------------------------------------------------

N_CITIES = 8
CITY_HOURS = 84          # landing 1 covers hours [0, 84) per city
WEATHER_DAYS = 14        # one weather file per day


def _iso(h, start=np.datetime64("2025-12-01T00:00", "m")):
    return str(start + np.timedelta64(int(h), "h"))


def _series(rng, n, lo, hi):
    return [float(x) for x in np.round(rng.uniform(lo, hi, n), 1)]


def _kinds(rng, n, missing, ragged, null_tail=0):
    """A seed-shuffled but fixed-size mix of edge cases for n files, so
    every seed's landing has the same shape and the same amount of work."""
    kinds = ["missing"] * missing + ["ragged"] * ragged + ["null_tail"] * null_tail
    kinds += ["clean"] * (n - len(kinds))
    return [kinds[i] for i in rng.permutation(n)]


def _edge(rng, kind, arrays, n):
    """Apply one edge case: drop a metric key, cut one metric to half the
    `time` length (the transform null-pads it), or leave the last quarter
    of the hours with no metric at all (the transform drops them)."""
    keys = list(arrays)
    k = keys[int(rng.integers(0, len(keys)))]
    if kind == "missing":
        del arrays[k]
    elif kind == "ragged":
        arrays[k] = arrays[k][: n // 2]
    elif kind == "null_tail":
        arrays = {key: v[: n - n // 4] for key, v in arrays.items()}
    return arrays


def _aq_file(rng, hours, kind):
    n = len(hours)
    arrays = {
        "pm10": _series(rng, n, 20, 300), "pm2_5": _series(rng, n, 5, 250),
        "carbon_monoxide": _series(rng, n, 100, 2000),
        "nitrogen_dioxide": _series(rng, n, 5, 120),
        "sulphur_dioxide": _series(rng, n, 2, 60), "ozone": _series(rng, n, 5, 180)}
    return {"latitude": float(np.round(rng.uniform(8, 35), 3)),
            "longitude": float(np.round(rng.uniform(68, 97), 3)),
            "timezone": "GMT", "utc_offset_seconds": 0,
            "hourly": {"time": [_iso(h) for h in hours], **_edge(rng, kind, arrays, n)}}


def _aq_rows(payload):
    """(time, {pollutant: value}) per hourly index, as the transform reads it."""
    h = payload["hourly"]
    for i, t in enumerate(h["time"]):
        vals = {p: (h[p][i] if p in h and i < len(h[p]) else None) for p in POLLUTANTS}
        if any(v is not None for v in vals.values()):
            yield t, vals


def _landing_groups(files):
    """(city, time) -> pollutant means over one landing's rows."""
    acc = {}
    for city, payload in files:
        for t, vals in _aq_rows(payload):
            acc.setdefault((city, t), []).append(vals)
    out = {}
    for key, rows in acc.items():
        means = {}
        for p in POLLUTANTS:
            xs = [r[p] for r in rows if r[p] is not None]
            means[p] = sum(xs) / len(xs) if xs else None
        out[key] = means
    return out


def write_etl(out_dir, seed):
    """Write weather + two AQ landings; return the expected results."""
    rng = np.random.default_rng([seed, 2])
    cities = [f"city{i:02d}" for i in range(N_CITIES)]
    kinds1 = _kinds(rng, 2 * N_CITIES, missing=2, ragged=3, null_tail=3)
    land1 = []
    for i, c in enumerate(cities):
        # two overlapping files per city: hours 36..47 appear twice
        land1.append((c, _aq_file(rng, range(0, 48), kinds1[2 * i])))
        land1.append((c, _aq_file(rng, range(36, CITY_HOURS), kinds1[2 * i + 1])))
    # second landing: for 6 of the cities, rewrites the last 12 hours and
    # adds 24 new ones
    again = sorted(rng.choice(N_CITIES, N_CITIES * 3 // 4, replace=False))
    kinds2 = _kinds(rng, len(again), missing=1, ragged=1, null_tail=1)
    land2 = [(cities[c], _aq_file(rng, range(CITY_HOURS - 12, CITY_HOURS + 24), k))
             for c, k in zip(again, kinds2)]
    for name, files in (("aq1", land1), ("aq2", land2)):
        d = os.path.join(out_dir, "landing", name)
        os.makedirs(d, exist_ok=True)
        for i, (city, payload) in enumerate(files):
            # the payload carries no city: only the file-name stem does
            with open(os.path.join(d, f"{city}_raw_{i:04d}.json"), "w") as f:
                json.dump(payload, f)
    wd = os.path.join(out_dir, "landing", "weather")
    os.makedirs(wd, exist_ok=True)
    weather_rows = {}
    kinds_w = _kinds(rng, WEATHER_DAYS, missing=2, ragged=3)
    for day in range(WEATHER_DAYS):
        hours = range(day * 24, day * 24 + 24)
        arrays = {"temperature_2m": _series(rng, 24, -5, 40),
                  "relativehumidity_2m": [float(x) for x in rng.integers(10, 100, 24)],
                  "windspeed_10m": _series(rng, 24, 0, 40)}
        arrays = _edge(rng, kinds_w[day], arrays, 24)
        payload = {"latitude": 17.375, "longitude": 78.5, "generationtime_ms": 0.04,
                   "utc_offset_seconds": 19800, "timezone": "Asia/Kolkata",
                   "elevation": 505.0,
                   "hourly": {"time": [_iso(h) for h in hours], **arrays}}
        with open(os.path.join(wd, f"weather_{20251201 + day:08d}_100303.json"), "w") as f:
            json.dump(payload, f)
        for i, h in enumerate(hours):
            vals = [arrays[m][i] if m in arrays and i < len(arrays[m]) else None
                    for m in WEATHER_METRICS]
            if any(v is not None for v in vals):
                weather_rows[_iso(h)] = vals[0]
    g1, g2 = _landing_groups(land1), _landing_groups(land2)
    final = {**g1, **g2}  # last landing wins per (city, time)
    return {
        "batch_rows": {"aq1": len(g1), "aq2": len(g2)},
        "aq": [[c, t, *[m[p] for p in POLLUTANTS]] for (c, t), m in sorted(final.items())],
        "weather": sorted(weather_rows.items()),
    }
