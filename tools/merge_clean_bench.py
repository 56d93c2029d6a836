#!/usr/bin/env python3
"""Merge N clean-session BENCH_DETAIL.json files into BENCH_CLEAN_rN.json.

Each input is the full-fidelity sidecar graft.Bench writes per session
(fresh JVM, single pass). Output mirrors the bench stdout line's shape
(qNN-prefix keys, ms precision) so a judge can diff it mechanically
against the driver's BENCH_r*.json, plus per-session totals and
per-query samples so the medians are auditable.

Usage: merge_clean_bench.py [--max-rq-ms N] OUT.json SESSION1.json ...

--max-rq-ms N (r20 verdict #5, contention-gated sessions): refuse to
merge any session whose summed in-JVM run-queue delay exceeds N ms —
the caller discards it and redraws a fresh session, so the published
medians are medians of QUIET sessions instead of carrying a disturbed
window (r20 kept a 549 s session in the median; its q123 sample read
122.6 s vs 14.3/15.9 in the quiet sessions). The per-session gauges
are emitted as session_rq_ms either way, so the quietness claim is
auditable off the artifact.
"""
import json
import statistics
import sys


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit("usage: merge_clean_bench.py OUT.json SESSION1.json [SESSION2.json ...]")
    args = sys.argv[1:]
    max_rq_ms = None
    if args[0] == "--max-rq-ms":
        max_rq_ms = float(args[1])
        args = args[2:]
    out_path, *session_paths = args
    sessions = [json.load(open(p)) for p in session_paths]
    names = [q["name"] for q in sessions[0]["queries"]]
    for s in sessions[1:]:
        assert [q["name"] for q in s["queries"]] == names, "query sets differ"
        # mixed-scale or mixed-iters sessions would merge into one median
        # table silently and misstate the published config
        assert s["sf"] == sessions[0]["sf"], "sessions ran different sf dirs"
        assert s.get("iters") == sessions[0].get("iters"), "sessions ran different iters"
    # sidecars predating the per-query rq gauge still merge when the gate
    # is not requested; such a session's gauge is null, not a 0.0 that
    # reads like a quiet session
    session_rq = [round(sum(max(q["rq_ms"], 0.0) for q in s["queries"]), 1)
                  if all("rq_ms" in q for q in s["queries"]) else None
                  for s in sessions]
    if max_rq_ms is not None:
        missing = [p for p, s in zip(session_paths, sessions)
                   if any("rq_ms" not in q for q in s["queries"])]
        if missing:
            sys.exit("--max-rq-ms needs the per-query rq_ms gauge; missing in: "
                     + ", ".join(missing))
    if max_rq_ms is not None:
        noisy = [(p, rq) for p, rq in zip(session_paths, session_rq)
                 if rq > max_rq_ms]
        if noisy:
            sys.exit("contended sessions exceed --max-rq-ms=%g — discard and "
                     "redraw: %s" % (max_rq_ms, ", ".join(
                         f"{p} (rq={rq} ms)" for p, rq in noisy)))
    per_query = {
        n: [q["dur_s"] for s in sessions for q in s["queries"] if q["name"] == n]
        for n in names
    }
    medians = {n: round(statistics.median(v), 3) for n, v in per_query.items()}
    short = lambda n: n.split("_")[0]
    assert len({short(n) for n in names}) == len(names), "qNN prefixes collide"
    out = {
        "metric": "total",
        "value": round(sum(medians.values()), 3),
        "unit": "sec",
        "sessions": len(sessions),
        "note": ("per-query medians over fresh-JVM single-pass sessions, "
                 "driver config (sf0.1, local[32], iters=1); value = sum of "
                 "medians. session_totals are each session's own sum."),
        "session_totals": [round(s["total_s"], 3) for s in sessions],
        "session_rq_ms": session_rq,
        "rq_gate_ms": max_rq_ms,
        "sf": sessions[0]["sf"],
        "queries": {short(n): medians[n] for n in names},
        "samples": {short(n): per_query[n] for n in names},
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {out_path}: total={out['value']} from {out['session_totals']}")


if __name__ == "__main__":
    main()
