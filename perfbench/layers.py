"""Per-layer metrics from a traced run's record.

Spans nest run > operation > ETL step or streaming trigger > Spark job >
Spark stage. A span's self time is its duration minus the part of it
that its children cover. Counts and times are per traced pass (the mean
over the run's traced passes); ratios are taken over all traced passes.
"""
import statistics


def covered_us(lo, hi, intervals):
    """Microseconds of [lo, hi) covered by the union of the intervals."""
    ivs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    covered, cur_lo, cur_hi = 0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


def self_times(spans):
    """{span id: self time in seconds}. Children are clipped to their
    parent's interval; overlapping children are counted once."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], max(s["end_us"], s["start_us"])
        out[s["id"]] = (hi - lo - covered_us(lo, hi, kids.get(s["id"], []))) / 1e6
    return out


def with_step_spans(spans):
    """The spans plus one `step` span per ETL step, with every job that
    ran inside a step re-parented to it.

    Jobs carry the step their call site names (`reportCsv@Pipeline.scala:37`,
    or None). Within one operation, a maximal run of consecutive jobs with
    the same step is one step span. It starts where the previous step of
    the operation ended, or at the operation's start, so it holds the
    driver work that led up to its jobs, and it ends with its last job. A
    job without a step joins the step whose interval holds its start."""
    ops = {s["id"]: s for s in spans if s["kind"] == "op"}
    jobs = sorted((s for s in spans if s["kind"] == "job" and s["parent"] in ops),
                  key=lambda s: s["start_us"])
    runs = {}
    for j in jobs:
        if j.get("step") is None:
            continue
        rs = runs.setdefault(j["parent"], [])
        if rs and rs[-1][0] == j["step"]:
            rs[-1][1].append(j)
        else:
            rs.append((j["step"], [j]))
    steps, parent_of = [], {}
    for op_id, rs in runs.items():
        op = ops[op_id]
        prev_end = op["start_us"]
        for k, (label, members) in enumerate(rs):
            sid = f"{op_id}/step{k}"
            end = max(m["end_us"] for m in members)
            steps.append({"id": sid, "kind": "step", "name": label, "parent": op_id,
                          "run": op["run"], "start_us": prev_end, "end_us": end})
            prev_end = end
    for j in jobs:
        for st in steps:
            if st["parent"] == j["parent"] and st["start_us"] <= j["start_us"] <= st["end_us"]:
                parent_of[j["id"]] = st["id"]
                break
    out = [dict(s, parent=parent_of[s["id"]]) if s["id"] in parent_of else s for s in spans]
    return out + steps


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def op_metric(name):
    return f"op.{name.split('_')[0]}_s"


def metric_names(workloads):
    """Every per-layer metric name with its unit, in report order."""
    names = [
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.task_busy_frac", "ratio"), ("spark.sched_delay_ms", "ms"),
        ("spark.task_skew", "ratio"), ("spark.shuffle_write_mb", "MB"),
        ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"),
        ("spark.output_mb", "MB"), ("spark.gc_ms", "ms"), ("spark.task_retries", "count"),
        ("driver.self_frac", "ratio"), ("catalyst.plan_ms", "ms"),
        ("pipelines.weather_stage_s", "s"), ("pipelines.aq_stage_s", "s"),
        ("sinks.staged_write_s", "s"), ("sinks.upsert_s", "s"),
        ("sinks.upsert_rewrite_ratio", "ratio"), ("sinks.files_written", "count"),
        ("sinks.report_s", "s"),
        ("streaming.triggers", "count"), ("streaming.trigger_p50_ms", "ms"),
        ("streaming.trigger_max_ms", "ms"), ("streaming.add_batch_ms", "ms"),
        ("streaming.trigger_overhead_ms", "ms"), ("streaming.jobs_per_trigger", "ratio"),
        ("streaming.input_rows", "count"), ("streaming.write_amp", "ratio"),
        ("text.signatures_s", "s"), ("text.lsh_pairs_s", "s"), ("text.clusters_s", "s"),
        ("text.curated_s", "s"), ("text.stage_counts_s", "s"),
        ("text.stage_counts_jobs", "count"),
        ("trace.wall_s", "s"), ("trace.untraced_wall_s", "s"), ("trace.overhead_s", "s"),
        ("trace.ops_sum_s", "s"),
        ("self.run_s", "s"), ("self.op_s", "s"), ("self.step_s", "s"), ("self.trigger_s", "s"),
        ("self.job_s", "s"), ("self.stage_s", "s"),
    ]
    ops = sorted({o for w, ops in workloads.items() if w != "etl_aq_weather" for o in ops},
                 key=lambda o: int(o[1:].split("_")[0]))
    return names + [(op_metric(o), "s") for o in ops]


def per_layer(rec, workloads, extra):
    """{metric: {"value", "unit"}} for every per-layer metric. A layer the
    workload does not exercise reads 0. `extra` carries what the record
    cannot: the ETL batches' row counts and the files the traced passes
    wrote."""
    tr = rec["trace"]
    passes = rec["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    n = max(1, len(traced))
    spans = with_step_spans(tr["spans"])
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    dur = {s["id"]: max(0, s["end_us"] - s["start_us"]) / 1e6 for s in spans}
    stages = tr["stages"]
    v = {}

    # Spark runtime
    tot = lambda k: sum(st[k] for st in stages)  # noqa: E731
    wall_traced = sum(p["wall_s"] for p in traced)
    v["spark.jobs"] = len(by_kind.get("job", [])) / n
    v["spark.stages"] = len(stages) / n
    v["spark.tasks"] = tot("tasks") / n
    v["spark.task_busy_frac"] = (tot("run_ms") / 1e3) / (wall_traced * rec["cpus"]) \
        if wall_traced else 0.0
    v["spark.sched_delay_ms"] = tot("sched_delay_ms") / n
    skews = [max(st["task_ms"]) / max(1.0, _median(st["task_ms"]))
             for st in stages if len(st["task_ms"]) >= 2]
    v["spark.task_skew"] = max(skews) if skews else 1.0
    mb = 1024.0 * 1024.0
    v["spark.shuffle_write_mb"] = tot("shuffle_write_b") / mb / n
    v["spark.shuffle_read_mb"] = tot("shuffle_read_b") / mb / n
    v["spark.spill_mb"] = tot("spill_b") / mb / n
    v["spark.input_mb"] = tot("input_b") / mb / n
    v["spark.output_mb"] = tot("output_b") / mb / n
    v["spark.gc_ms"] = tot("gc_ms") / n
    v["spark.task_retries"] = tot("failed") / n

    # driver / Catalyst: the share of the operations' time with no Spark
    # job running
    ops = by_kind.get("op", [])
    op_time = sum(dur[s["id"]] for s in ops)
    job_ivs = {}
    for j in by_kind.get("job", []):
        o = j
        while o is not None and o["kind"] != "op":
            o = by_id.get(o["parent"])
        if o is not None:
            job_ivs.setdefault(o["id"], []).append((j["start_us"], j["end_us"]))
    no_job = sum(dur[s["id"]] - covered_us(s["start_us"], s["end_us"], job_ivs.get(s["id"], []))
                 / 1e6 for s in ops)
    v["driver.self_frac"] = no_job / op_time if op_time else 0.0
    v["catalyst.plan_ms"] = tr["plan_ms"] / n

    # ETL steps: Pipelines, Sinks, Analysis
    steps = by_kind.get("step", [])

    def step_s(kind):
        return sum(dur[s["id"]] for s in steps if s["name"].split("@")[0] == kind) / n
    v["pipelines.weather_stage_s"] = step_s("weatherStage")
    v["pipelines.aq_stage_s"] = step_s("aqStage")
    v["sinks.staged_write_s"] = step_s("stagedParquet")
    v["sinks.upsert_s"] = step_s("upsertParquet")
    v["sinks.report_s"] = step_s("reportCsv")
    # rows the upsert wrote, over the rows of the batches it merged
    upserts = {s["id"]: s for s in steps if s["name"].startswith("upsertParquet")}
    upsert_rows = sum(st["records_written"] for st in stages
                      if by_id.get(st["job"], {}).get("parent") in upserts)
    merged = sum(extra.get("batch_rows", {}).get(by_id[s["parent"]]["name"].split(".")[-1], 0)
                 for s in upserts.values())
    v["sinks.upsert_rewrite_ratio"] = upsert_rows / merged if merged else 0.0
    v["sinks.files_written"] = extra.get("files_written", 0) / n

    # graft.streaming
    trig = tr["triggers"]
    tms = [t["trigger_ms"] for t in trig]
    v["streaming.triggers"] = len(trig) / n
    v["streaming.trigger_p50_ms"] = _median(tms)
    v["streaming.trigger_max_ms"] = max(tms) if tms else 0.0
    v["streaming.add_batch_ms"] = sum(t["add_batch_ms"] for t in trig) / n
    v["streaming.trigger_overhead_ms"] = sum(t["trigger_ms"] - t["add_batch_ms"] for t in trig) / n
    trig_ids = {s["id"] for s in by_kind.get("trigger", [])}
    trig_jobs = [s for s in by_kind.get("job", []) if s["parent"] in trig_ids]
    v["streaming.jobs_per_trigger"] = len(trig_jobs) / len(trig) if trig else 0.0
    rows_in = sum(t["rows"] for t in trig)
    v["streaming.input_rows"] = rows_in / n
    jobs_rows = {st["job"]: 0 for st in stages}
    for st in stages:
        jobs_rows[st["job"]] += st["records_written"]
    written = sum(jobs_rows.get(j["id"], 0) for j in trig_jobs)
    v["streaming.write_amp"] = written / rows_in if rows_in else 0.0

    # TextQueries kernels, each timed once
    for k in ("signatures", "lsh_pairs", "clusters", "curated", "stage_counts"):
        v[f"text.{k}_s"] = rec["text_s"].get(k, 0.0)
    v["text.stage_counts_jobs"] = rec["text_stage_counts_jobs"]

    # the trace itself
    tw = _median([p["wall_s"] for p in traced])
    uw = _median([p["wall_s"] for p in untraced])
    v["trace.wall_s"] = tw
    v["trace.untraced_wall_s"] = uw
    v["trace.overhead_s"] = tw - uw
    v["trace.ops_sum_s"] = _median([sum(o["s"] for o in p["ops"]) for p in traced])
    for kind in ("run", "op", "step", "trigger", "job", "stage"):
        v[f"self.{kind}_s"] = sum(selfs[s["id"]] for s in by_kind.get(kind, [])) / n

    # per operation
    per_op = {}
    for p in traced:
        for o in p["ops"]:
            per_op.setdefault(o["name"], []).append(o["s"])
    units = dict(metric_names(workloads))
    out = {}
    for name, unit in units.items():
        if name.startswith("op."):
            xs = [x for o, x in per_op.items() if op_metric(o) == name]
            val = _median(xs[0]) if xs else 0.0
        else:
            val = v[name]
        out[name] = {"value": val, "unit": unit}
    return out
