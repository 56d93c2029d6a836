#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine's main sources and the JVM harness (cached under
.bench_build), generates the workload's inputs from the seed, runs the
harness in one JVM, verifies the outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run. A
human-readable summary (sample counts, fail_frac, /proc gauges) goes to
stderr, and the full record to .bench_work/results/.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import verify  # noqa: E402

CPUS = os.cpu_count() or 1
# The calibration loop's time on the machine the figures in README.md were
# taken on; timings are reported at that speed (see `at_ref_speed`).
CAL_REF_S = 0.04

# Operations per workload, in a seed-shuffled order for registry
# workloads. README.md records why these two and which were left out.
WORKLOADS = {
    "etl_aq_weather": ["runWeather", "runAq.aq1", "runAq.aq2"],
    "stream_ingest": ["q122_stream_media_ingest"],
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars the engine builds against: the directory build.sbt
    names as unmanagedBase, else $SPARK_HOME/jars."""
    home_jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jar_dir = m.group(1) if m else home_jars
    except OSError:
        jar_dir = home_jars
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars in {jar_dir!r}: set SPARK_HOME")
    return jars


def scalac(jars, classpath, out, sources, timeout):
    """Compile with the Scala compiler that ships in the Spark jars."""
    comp = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(comp),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
           "-cp", ":".join(classpath)] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=timeout)
    if r.returncode != 0:
        raise SystemExit(f"compile failed:\n{r.stdout[-4000:]}")


def build(jars):
    """Compile src/main and the harness once per source digest."""
    main_src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness_src = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main_src:
        raise SystemExit("no engine sources under src/main/scala: not a checkout of the repo")
    h = hashlib.sha256()
    for f in main_src + harness_src:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        t = time.time()
        scalac(jars, jars, os.path.join(out, "main"), main_src, 800)
        scalac(jars, [os.path.join(out, "main")] + jars, os.path.join(out, "harness"),
               harness_src, 300)
        open(os.path.join(out, "ok"), "w").close()
        log(f"built {len(main_src)} engine sources in {time.time() - t:.0f}s")
    cp = [os.path.join(out, "harness"), os.path.join(out, "main")]
    res = os.path.join(ROOT, "src/main/resources")
    return cp + ([res] if os.path.isdir(res) else []) + jars


def run_jvm(classpath, work, args, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    cmd = (["java", "-XX:-UsePerfData"] + JVM_OPENS + [
        # A heap that grows to what the program keeps and allocates, so
        # VmHWM follows it: the parallel collector with fixed generation
        # ratios (no adaptive sizing) resizes the heap from its occupancy
        # after each collection, not from GC timing as G1 does, and shrinks
        # it at once after the full GC before each pass. README.md has the
        # measurements behind this choice.
        "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
        "-XX:-ShrinkHeapInSteps", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-cp", ":".join(classpath), "perfbench.Harness"] +
        [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness timed out after {timeout}s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"harness exited with {rc}:\n{tail}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classpath = build(jars)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        ops = list(WORKLOADS[a.workload])
        if a.workload == "etl_aq_weather":
            expect = gen.write_etl(data, a.seed)
            landing = os.path.join(data, "landing")
        else:
            base = gen.base_tables()
            gen.write_registry(data, a.seed, base)
            random.Random(a.seed).shuffle(ops)
            landing = data
        rec_path = os.path.join(work, "record.json")
        run_jvm(classpath, work, {
            "workload": a.workload, "ops": ",".join(ops), "data": landing,
            "work": os.path.join(work, "out"), "seconds": a.seconds, "trace": a.trace,
            "cpus": CPUS, "out": rec_path}, timeout=150)
        with open(rec_path) as f:
            rec = json.load(f)
        out = os.path.join(work, "out")
        if a.workload == "etl_aq_weather":
            outputs = [os.path.join(out, "warm")] + [
                os.path.join(out, f"pass{i}") for i in range(len(rec["passes"]))] + (
                [os.path.join(out, "settle")] if rec["settle_ops"] else [])
            bad = verify.check_etl(outputs, expect)
        else:
            cache = os.path.join(ROOT, ".bench_cache", "oracle")
            bad = verify.check_registry(data, os.path.join(out, "warm"), ops,
                                        rec["oracle"], cache, gen.digest())
        result = summarize(a, rec, bad, work, expect if a.workload == "etl_aq_weather" else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def op_medians(passes):
    by = {}
    for p in passes:
        for o in p["ops"]:
            by.setdefault(o["name"], []).append(o["s"])
    return {k: median(v) for k, v in by.items()}


def tail(xs):
    """The highest percentile with at least 10 samples beyond it; the
    maximum when there are fewer than 11 samples."""
    s = sorted(xs)
    return (s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)) if len(s) >= 11 else (s[-1], 100.0)


def at_ref_speed(seconds, cal):
    """Scale a time to the reference speed CAL_REF_S, given the calibration
    samples taken around it. Their minimum is used: whatever else runs on
    the machine can only slow the loop down."""
    return seconds * CAL_REF_S / min(cal)


def summarize(a, rec, bad, work, expect):
    passes = rec["passes"]
    errors = rec["errors"]
    failed_ops = {e["op"].split(":")[-1] for e in errors} | set(bad)
    # timed passes, plus the warm-up pass and (traced runs) the settling pass
    untimed = list(WORKLOADS[a.workload]) + rec["settle_ops"]
    attempted = sum(len(p["ops"]) for p in passes) + len(untimed)
    failed = sum(1 for p in passes for o in p["ops"] if not o["ok"] or o["name"] in failed_ops)
    failed += sum(1 for o in untimed if o in failed_ops)
    # the traced run's text-kernel probes count as operations too
    text_errors = [e for e in errors if e["op"].startswith("text.")]
    attempted += len(rec["text_s"]) + len(text_errors)
    failed += len(text_errors)
    for name, why in sorted(bad.items()):
        log(f"MISMATCH {name}: {why}")
    for e in errors:
        log(f"ERROR {e['op']}: {e['error']}")
    untraced = [p for p in passes if not p["traced"]]
    walls = [p["wall_s"] for p in untraced]
    per_op = op_medians(untraced)
    tail_v, tail_pct = tail(list(per_op.values()))
    gauges = {"rq_ms": [p["rq_ms"] for p in passes], "ext_cpu": [p["ext_cpu"] for p in passes],
              "cal_s": [p["cal_s"] for p in passes]}
    if a.trace:
        out = os.path.join(work, "out")
        files = sum(len([f for f in fs if f.startswith("part-")])
                    for i, p in enumerate(passes) if p["traced"]
                    for _, _, fs in os.walk(os.path.join(out, f"pass{i}")))
        metrics = layers.per_layer(rec, WORKLOADS, {
            "batch_rows": (expect or {}).get("batch_rows", {}), "files_written": files})
    else:
        cal = [c for p in passes for c in p["cal_s"]]
        metrics = {
            "wall_s": {"value": median([at_ref_speed(p["wall_s"], p["cal_s"])
                                        for p in untraced]), "unit": "s"},
            "setup_s": {"value": at_ref_speed(rec["setup_s"], cal), "unit": "s"},
            "peak_rss_mb": {"value": rec["peak_rss_mb"], "unit": "MB"},
        }
    if any(m["value"] is None for m in metrics.values()):
        raise SystemExit("a metric could not be measured: " +
                         ", ".join(k for k, m in metrics.items() if m["value"] is None))
    log(f"{a.workload} seed={a.seed} trace={a.trace}: {len(passes)} timed passes "
        f"({len(walls)} untraced), wall_s samples={len(walls)}, "
        f"per-op median latency p50 {median(list(per_op.values())):.3f}s, "
        f"p{tail_pct:.0f} {tail_v:.3f}s over {len(per_op)} ops, "
        f"fail_frac={failed / attempted:.4f} ({failed}/{attempted}), "
        f"raw wall_s={median(walls):.3f}, raw setup_s={rec['setup_s']:.3f}, "
        f"cal_s={gauges['cal_s']}, rq_ms={gauges['rq_ms']}, ext_cpu={gauges['ext_cpu']}")
    for k, m in metrics.items():
        log(f"  {k} = {m['value']} {m['unit']}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    rdir = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump({**result, "fail_frac": failed / attempted, "gauges": gauges,
                   "passes": passes, "setup_s": rec["setup_s"],
                   "mismatches": bad, "errors": errors,
                   "spans": layers.with_step_spans(rec["trace"]["spans"]) if a.trace else None},
                  f)
    return result


if __name__ == "__main__":
    main()
