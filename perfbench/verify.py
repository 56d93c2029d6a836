"""Output verification, run after the timed body (untimed).

* Registry operations: the engine's own DuckDB mirror (SparkEntry.oracleSql)
  runs over the same generated tables, and both answers are canonicalized
  the way tools/compare.py does it (columns by name, rows by all columns,
  exact match, doubles bit-exact). Oracle answers are cached under
  .bench_cache by the digest of the base tables and the SQL.
  An operation without oracle SQL must return at least one row.
* etl_aq_weather: the generator's expectations: the exact (city, time)
  key set of the staged air-quality table, last-landing-wins pollutant
  means, the weather row set, and the report cardinalities.

Each function returns {operation: reason} for every mismatch.
"""
import csv
import glob
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

import gen


def canon(df):
    df = df[sorted(df.columns)]
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def compare(got, want):
    """None when equal, else a short reason."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype(float).values, b.astype(float).values
            eq = (af == bf) | (np.isnan(af) & np.isnan(bf))
        else:
            eq = (a.astype(str) == b.astype(str)).values
        if not eq.all():
            i = int(np.argmax(~eq))
            return f"{c}[{i}]: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


def check_registry(data_dir, out_dir, ops, oracle, cache_dir, content_digest):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    os.makedirs(cache_dir, exist_ok=True)
    bad = {}
    for op in ops:
        files = glob.glob(os.path.join(out_dir, op, "*.parquet"))
        if not files:
            bad[op] = "no output"
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        sql = oracle.get(op)
        if sql is None:
            if len(got) == 0:
                bad[op] = "empty result"
            continue
        key = hashlib.sha256((content_digest + "\0" + sql).encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, f"{op}-{key}.pkl")
        if os.path.exists(cached):
            want = pd.read_pickle(cached)
        else:
            want = con.sql(sql).df()
            want.to_pickle(cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        why = compare(got, want)
        if why:
            bad[op] = why
    return bad


def _csv_rows(path):
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*.csv"))):
        with open(f, newline="") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9)


def _iso(ts):
    return pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M")


def check_etl_output(out, expect):
    """Reasons this pipeline output differs from the expectations."""
    why = []
    aq = pd.read_parquet(os.path.join(out, "staged", "air_quality"))
    got = {(r.city, _iso(r.time)): r for r in aq.itertuples(index=False)}
    want = {(r[0], r[1]): r[2:] for r in expect["aq"]}
    if set(got) != set(want):
        why.append(f"air_quality keys: {len(set(got) - set(want))} extra, "
                   f"{len(set(want) - set(got))} missing")
    else:
        for k, vals in want.items():
            row = got[k]
            for p, v in zip(gen.POLLUTANTS, vals):
                g = getattr(row, p)
                g = None if g is None or (isinstance(g, float) and math.isnan(g)) else float(g)
                if not _close(g, v):
                    why.append(f"air_quality {k} {p}: {g} != {v}")
                    break
            if why:
                break
    weather = pd.read_parquet(os.path.join(out, "staged", "weather"))
    wt = {_iso(t): v for t, v in zip(weather["time"], weather["temperature_c"])}
    ww = dict(expect["weather"])
    if set(wt) != set(ww):
        why.append(f"weather rows {len(wt)} != {len(ww)}")
    cities = {c for c, _ in want}
    counts = {}
    for c, _ in want:
        counts[c] = counts.get(c, 0) + 1
    top = sorted(counts, key=lambda c: (-counts[c], c))[:6]
    proc = os.path.join(out, "processed")
    n_pm25 = sum(1 for v in want.values() if v[gen.POLLUTANTS.index("pm2_5")] is not None)
    n_temp = sum(1 for v in ww.values() if v is not None)
    checks = {
        "summary_metrics": (len(_csv_rows(f"{proc}/summary_metrics")), 3),
        "city_risk_distribution": (len(_csv_rows(f"{proc}/city_risk_distribution")), len(cities)),
        "city_risk_distribution.total_hours": (
            {r["city"]: int(r["total_hours"]) for r in _csv_rows(f"{proc}/city_risk_distribution")},
            counts),
        "pollution_trends": (len(_csv_rows(f"{proc}/pollution_trends")), len(want)),
        "hist_pm2_5": (sum(int(r["n"]) for r in _csv_rows(f"{proc}/hist_pm2_5")), n_pm25),
        "hourly_pm2_5_trends": (len(_csv_rows(f"{proc}/hourly_pm2_5_trends")),
                                sum(counts[c] for c in top)),
        "analysis_summary": ([int(r["rows"]) for r in _csv_rows(f"{proc}/analysis_summary")],
                             [len(ww)]),
        "hourly_avg_temp": (len(_csv_rows(f"{proc}/hourly_avg_temp")), len(ww)),
        "hist_temperature": (sum(int(r["n"]) for r in _csv_rows(f"{proc}/hist_temperature")),
                             n_temp),
    }
    why += [f"{k}: {g} != {w}" for k, (g, w) in checks.items() if g != w]
    return why


def check_etl(outputs, expect):
    """Verify every pipeline output directory (warm-up and timed passes).
    A failing output marks all three pipeline operations as mismatched."""
    for out in outputs:
        try:
            why = check_etl_output(out, expect)
        except Exception as e:  # a missing or unreadable output is a mismatch
            why = [f"{type(e).__name__}: {e}"]
        if why:
            reason = f"{os.path.basename(out)}: " + "; ".join(why[:3])
            return {op: reason for op in ("runWeather", "runAq.aq1", "runAq.aq2")}
    return {}
