"""Self-tests of the benchmark's own parts: seeded inputs, verification,
and span self time. Run: python3 -m pytest -q perfbench/test_perfbench.py
"""
import filecmp
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import gen
import layers
import verify


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def _same_tree(a, b):
    fa, fb = _files(a), _files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


def test_registry_inputs_are_seeded(tmp_path):
    base = gen.base_tables()
    gen.write_registry(tmp_path / "a", 7, base)
    gen.write_registry(tmp_path / "b", 7, base)
    gen.write_registry(tmp_path / "c", 8, base)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet",
                           tmp_path / "c" / "lineitem.parquet", shallow=False)
    # a permutation of the base tables: same rows, schema and layout
    con = duckdb.connect()
    q = "SELECT * FROM '{}/documents.parquet' ORDER BY doc_id"
    assert con.sql(q.format(tmp_path / "a")).df().equals(con.sql(q.format(gen.BASE_DIR)).df())
    assert con.sql(q.format(tmp_path / "c")).df().equals(con.sql(q.format(gen.BASE_DIR)).df())
    for t in gen.TABLES:
        orig = pq.ParquetFile(os.path.join(gen.BASE_DIR, f"{t}.parquet"))
        copy = pq.ParquetFile(tmp_path / "c" / f"{t}.parquet")
        assert copy.schema_arrow.equals(orig.schema_arrow, check_metadata=True)
        assert copy.metadata.num_rows == orig.metadata.num_rows
        assert copy.metadata.num_row_groups == orig.metadata.num_row_groups


def test_etl_landings_are_seeded(tmp_path):
    ea = gen.write_etl(str(tmp_path / "a"), 3)
    eb = gen.write_etl(str(tmp_path / "b"), 3)
    ec = gen.write_etl(str(tmp_path / "c"), 4)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert ea["aq"] == eb["aq"] and ea["aq"] != ec["aq"]


def test_etl_landing_has_the_edge_cases(tmp_path):
    exp = gen.write_etl(str(tmp_path), 5)
    import json
    raw = {}
    for f in sorted((tmp_path / "landing" / "aq1").iterdir()):
        raw[f.name] = json.loads(f.read_text())
    payloads = list(raw.values())
    assert all("city" not in p for p in payloads)  # city only in the stem
    lens = [{k: len(v) for k, v in p["hourly"].items()} for p in payloads]
    assert any(len(l) < 7 for l in lens)  # a metric key missing
    assert any(min(l.values()) < l["time"] for l in lens)  # a ragged metric
    # the second landing rewrites keys of the first and adds new ones
    g1 = gen._landing_groups([(n.split("_")[0], p) for n, p in raw.items()])
    keys2 = {(c, t) for c, t, *_ in exp["aq"]} - set(g1)
    assert keys2 and exp["batch_rows"]["aq2"] > len(keys2)
    # duplicate (city, time) rows inside one landing
    times = [(n.split("_")[0], t) for n, p in raw.items() for t in p["hourly"]["time"]]
    assert len(times) > len(set(times))


def test_a_corrupted_answer_is_caught(tmp_path):
    base = gen.base_tables()
    data = tmp_path / "data"
    gen.write_registry(data, 1, base)
    sql = "SELECT event_type, count(*) AS n, sum(value) AS s FROM events GROUP BY 1"
    out = tmp_path / "out"
    (out / "q").mkdir(parents=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{data}/events.parquet'")
    good = con.sql(sql).df()
    good.to_parquet(out / "q" / "part-0.parquet")
    cache = tmp_path / "cache"
    assert verify.check_registry(str(data), str(out), ["q"], {"q": sql}, str(cache), "d") == {}
    bad = good.copy()
    bad.loc[0, "s"] = bad.loc[0, "s"] + 1e-9  # one ulp-scale change
    bad.to_parquet(out / "q" / "part-0.parquet")
    assert "q" in verify.check_registry(str(data), str(out), ["q"], {"q": sql}, str(cache), "d")
    bad = good.iloc[1:]
    bad.to_parquet(out / "q" / "part-0.parquet")
    assert "q" in verify.check_registry(str(data), str(out), ["q"], {"q": sql}, str(cache), "d")
    # an operation without oracle SQL must return rows; a missing output fails
    pd.DataFrame({"x": []}).to_parquet(out / "q" / "part-0.parquet")
    assert "q" in verify.check_registry(str(data), str(out), ["q"], {}, str(cache), "d")
    assert "r" in verify.check_registry(str(data), str(out), ["r"], {}, str(cache), "d")


def test_a_broken_etl_output_is_caught(tmp_path):
    exp = gen.write_etl(str(tmp_path), 2)
    bad = verify.check_etl([str(tmp_path / "missing")], exp)
    assert set(bad) == {"runWeather", "runAq.aq1", "runAq.aq2"}


def test_self_time_on_a_synthetic_span_tree():
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start_us": start, "end_us": end}
    spans = [
        span("run", None, 0, 100_000_000),
        span("op1", "run", 0, 60_000_000),
        span("op2", "run", 60_000_000, 90_000_000),
        # two overlapping jobs in op1 cover [10, 40) s; one pokes past op1's end
        span("job1", "op1", 10_000_000, 30_000_000),
        span("job2", "op1", 20_000_000, 40_000_000),
        span("job3", "op1", 50_000_000, 70_000_000),
        span("stage1", "job1", 12_000_000, 18_000_000),
    ]
    st = layers.self_times(spans)
    assert st["run"] == 10.0
    assert st["op1"] == 60.0 - 30.0 - 10.0
    assert st["op2"] == 30.0
    assert st["job1"] == 20.0 - 6.0
    assert st["stage1"] == 6.0
    assert st["job3"] == 20.0  # a child is clipped only for its parent


def test_step_spans_from_job_call_sites():
    def span(i, kind, parent, start, end, step=None):
        return {"id": i, "kind": kind, "parent": parent, "run": "p0",
                "start_us": start, "end_us": end, "step": step}
    spans = [
        span("p0", "run", None, 0, 100),
        span("p0/runAq", "op", "p0", 0, 100),
        span("j1", "job", "p0/runAq", 5, 10, "aqStage@P:1"),
        span("j2", "job", "p0/runAq", 20, 30, "upsertParquet@P:2"),
        span("j3", "job", "p0/runAq", 31, 35),  # a broadcast: no call site
        span("j4", "job", "p0/runAq", 36, 40, "upsertParquet@P:2"),
        span("j5", "job", "p0/runAq", 50, 60, "reportCsv@P:3"),
        span("j6", "job", "p0/runAq", 62, 70, "reportCsv@P:4"),
    ]
    out = {s["id"]: s for s in layers.with_step_spans(spans)}
    steps = sorted((s for s in out.values() if s["kind"] == "step"), key=lambda s: s["start_us"])
    assert [(s["name"], s["start_us"], s["end_us"]) for s in steps] == [
        ("aqStage@P:1", 0, 10), ("upsertParquet@P:2", 10, 40),
        ("reportCsv@P:3", 40, 60), ("reportCsv@P:4", 60, 70)]
    assert {out[j]["parent"] for j in ("j2", "j3", "j4")} == {steps[1]["id"]}
    assert out["j6"]["parent"] == steps[3]["id"]
    st = layers.self_times(list(out.values()))
    assert st["p0/runAq"] == 30 / 1e6  # after the last step's last job
    assert st[steps[1]["id"]] == (30 - 10 - 8) / 1e6


def test_tail_percentile_rule():
    import run
    xs = [float(i) for i in range(1, 36)]  # 35 samples: p71 is the 25th
    assert run.tail(xs) == (25.0, 100.0 * 25 / 35)
    assert run.tail([1.0, 3.0, 2.0]) == (3.0, 100.0)
