#!/usr/bin/env python3
"""Single-node comparison point: run every oracle SQL from a Verify dump
in DuckDB over the same parquet and time it.

Usage: bench_duckdb.py <sfDir> <verifyOutDir> [threads] [queries] [timeout_s]

  queries    optional comma-separated subset of oracle names — the soak
             control runs only the scale-path SQLs, not all 63
  timeout_s  optional per-query budget; a query past it is interrupted
             and reported in "timeout" (the replica-storm corpora make
             some exact-enumeration SQLs effectively unbounded)

The oracle SQL is the SAME computation each engine query performs (the
t2 gate proves result equality), so total wall-clock here vs graft.Bench
is an apples-to-apples single-node throughput comparison against a
state-of-the-art embedded OLAP engine. Dev-only tool (driver-side
python deps); not part of the engine.
"""
import glob
import json
import os
import sys
import threading
import time

import duckdb


def _run_delay_ns() -> int:
    """Sum of run-queue delay (ns runnable-but-waiting) across THIS
    process's threads — the same /proc/self/task/*/schedstat gauge
    graft.Bench samples, so the DuckDB sessions carry a contention
    gauge symmetric to the Spark sessions' rq_ms (r21 ADVICE: a
    one-sided gate could only bias the published ratio). -1 when no
    schedstat file could be read (off-Linux, or schedstats unavailable)."""
    total, read = 0, 0
    for p in glob.glob("/proc/self/task/*/schedstat"):
        try:
            total += int(open(p).read().split()[1])
            read += 1
        except (OSError, IndexError, ValueError):
            pass
    return total if read else -1


def _box_self_jiffies():
    """(box busy jiffies, box total jiffies, self utime+stime) for the
    ext_cpu estimate (CPUs held by OTHER processes), mirroring Bench."""
    try:
        f = open("/proc/stat").readline().split()[1:]
        f = [int(x) for x in f]
        idle = f[3] + f[4]
        s = open("/proc/self/stat").read()
        rest = s[s.rindex(")") + 2:].split(" ")
        return sum(f) - idle, sum(f), int(rest[11]) + int(rest[12])
    except (OSError, ValueError, IndexError):
        return -1, -1, -1

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir: str, out_dir: str, threads: int = 32,
         subset=None, timeout_s=None) -> int:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        # driver testdata is one file per table; Spark-written soak
        # corpora are directories of part files. Table-subset soak
        # corpora (ScaleSoak's 5th arg) hold only the tables their
        # queries read — skip the rest, a subset control never
        # references them
        p = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(p):
            continue
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if subset is not None:
        unknown = subset - set(oracle)
        if unknown:  # a typo'd name must not silently shrink the control
            sys.exit(f"unknown oracle queries: {sorted(unknown)}")
    names = sorted(oracle) if subset is None else [n for n in sorted(oracle) if n in subset]
    times, failed, timed_out = {}, {}, {}
    rq_ms, ext_cpu = {}, {}
    n_cpu = os.cpu_count() or 0
    for name in names:
        timer, fired = None, threading.Event()
        if timeout_s:
            def _interrupt():
                fired.set()
                con.interrupt()
            timer = threading.Timer(timeout_s, _interrupt)
            timer.start()
        rd0 = _run_delay_ns()
        bb0, bt0, sj0 = _box_self_jiffies()
        t0 = time.time()
        try:
            con.sql(oracle[name]).fetchall()
            times[name] = time.time() - t0
        except duckdb.InterruptException:
            timed_out[name] = time.time() - t0
        except Exception as e:
            failed[name] = f"{type(e).__name__}: {e}"
        finally:
            rd1 = _run_delay_ns()
            rq_ms[name] = round(max(rd1 - rd0, 0) / 1e6, 1) if rd0 >= 0 and rd1 >= 0 else -1.0
            bb1, bt1, sj1 = _box_self_jiffies()
            ext_cpu[name] = (round(max((bb1 - bb0) - (sj1 - sj0), 0) * n_cpu / (bt1 - bt0), 2)
                             if bb0 >= 0 and bb1 >= 0 and n_cpu > 0 and bt1 > bt0 else -1.0)
            if timer:
                timer.cancel()
                timer.join()
                # timer fired but the query did not end as a timeout
                # (completed, or died on a real error first): the pending
                # interrupt flag would abort the NEXT query as a phantom
                # instant timeout — absorb it on a no-op first
                if fired.is_set() and name not in timed_out:
                    try:
                        con.sql("SELECT 1").fetchall()
                    except duckdb.InterruptException:
                        pass
    total = sum(times.values())
    print(json.dumps({"metric": "duckdb_total", "value": total, "unit": "sec",
                      "threads": threads, "queries": times, "failed": failed,
                      "timeout": timed_out, "sf": sf_dir,
                      # symmetric contention gauges (r21 ADVICE): the Spark
                      # side's rq gate now has a DuckDB-side counterpart, so
                      # a window contended only during DuckDB's turns is
                      # visible in the artifact instead of silently
                      # inflating the ratio's denominator
                      "rq_ms": rq_ms, "session_rq_ms": round(sum(v for v in rq_ms.values() if v > 0), 1),
                      "ext_cpu": ext_cpu}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  int(sys.argv[3]) if len(sys.argv) > 3 else 32,
                  set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None,
                  float(sys.argv[5]) if len(sys.argv) > 5 else None))
