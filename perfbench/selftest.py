#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

Usage (from the repository root):
    python3 perfbench/selftest.py [--workload <name> ...] [--seconds <s>]

For each workload:
  1. Two traced runs with the same seed give identical counters that should
     repeat exactly: plan.*, exec.jobs/stages/tasks, store.files and
     codegen.fallbacks, per query.
  2. Spans nest inside their parents, and the self times of each query's
     spans sum to at most the query's root duration.
  3. A harness-injected failing query raises the failure count, lowers
     ok_share, and shortens no timing: a failed query's time stays in its
     pass's wall time, and it ranks at least as slow as every completed
     query in the median and tail latency.
  4. A harness-injected query that hangs times out at the cap (shortened to
     CAP_S here), is charged the cap without running in later passes, and
     the run still ends with a result.
Exits 0 when every check passes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run as bench  # noqa: E402

EXACT = ("plan.", "exec.jobs", "exec.stages", "exec.tasks", "store.files", "codegen.fallbacks")
SLACK_NS = 2_000_000  # listener times have millisecond resolution
CAP_S = 10  # above any real query's time in the workloads, cold pass included


def invoke(workload, seed, seconds, trace, inject=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)] + (
        ["--inject-failure", "--cap-seconds", str(CAP_S)] if inject else [])
    out = subprocess.run(cmd, cwd=bench.ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    tag = f"{workload}_s{seed}_t{trace}"
    raw = bench.load_json(os.path.join(bench.WORK, tag, "run.json"))
    spans = os.path.join(bench.WORK, "results", f"{tag}.spans.jsonl")
    span_rows = [json.loads(line) for line in open(spans)] if trace else []
    return json.loads(out.strip().splitlines()[-1]), raw, span_rows


def exact_counters(raw):
    out = {}
    for s in raw["samples"]:
        if s["traced"]:
            out[(s["q"], s["pass"])] = {k: v for k, v in s.items() if k.startswith(EXACT)}
    return out


def check_spans(spans, failures):
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is None:
            if s["name"] != "query":
                failures.append(f"span {s['name']} of {s['trace']} has no parent")
            continue
        if p["trace"] != s["trace"] or s["start_ns"] < p["start_ns"] - SLACK_NS \
                or s["end_ns"] > p["end_ns"] + SLACK_NS:
            failures.append(f"span {s['name']} of {s['trace']} escapes its parent {p['name']}")
    for trace in {s["trace"] for s in spans}:
        mine = [s for s in spans if s["trace"] == trace]
        root = [s for s in mine if s["name"] == "query"][0]
        total_self = sum(bench.self_times(mine).values())
        if total_self > (root["end_ns"] - root["start_ns"] + SLACK_NS * len(mine)) / 1e9:
            failures.append(f"self times of {trace} sum to {total_self:.3f} s, more than its root")


def main():
    workloads = bench.load_json(os.path.join(HERE, "workloads.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=sorted(workloads))
    ap.add_argument("--seconds", type=float, default=1)
    args = ap.parse_args()
    failures = []
    for w in args.workload or sorted(workloads):
        _, a, spans = invoke(w, 7, args.seconds, 1)
        _, b, _ = invoke(w, 7, args.seconds, 1)
        ca, cb = exact_counters(a), exact_counters(b)
        if not ca:
            failures.append(f"{w}: no traced samples")
        for key in ca.keys() | cb.keys():
            if ca.get(key) != cb.get(key):
                failures.append(f"{w}: counters differ for {key}: {ca.get(key)} vs {cb.get(key)}")
        check_spans(spans, failures)

        result, raw, _ = invoke(w, 7, args.seconds, 0, inject=True)
        injected = [s for s in raw["samples"] if s["q"] == "perfbench_injected_failure"]
        if not injected or any(s["status"] != "error" or s["lat_s"] <= 0 for s in injected):
            failures.append(f"{w}: injected failure not recorded as a timed error")
        if result["failed"] < len(injected) or result["correct"]:
            failures.append(f"{w}: injected failure did not raise the failure count")
        hung = sorted((s for s in raw["samples"] if s["q"] == "perfbench_injected_timeout"),
                      key=lambda s: s["pass"])
        if len(hung) != len(raw["passes"]) or any(s["status"] != "timeout" for s in hung):
            failures.append(f"{w}: injected hang not recorded as a timeout in every pass")
        elif not CAP_S <= hung[0]["lat_s"] < CAP_S + 1 or any(s["lat_s"] != CAP_S for s in hung[1:]):
            failures.append(f"{w}: injected hang not charged the cap: {[s['lat_s'] for s in hung]}")
        if result["failed"] < len(injected) + len(hung):
            failures.append(f"{w}: injected hang did not raise the failure count")
        if result["metrics"]["ok_share"]["value"] >= 1.0:
            failures.append(f"{w}: injected failure did not lower ok_share")
        for p in raw["passes"]:
            lat = sum(s["lat_s"] for s in raw["samples"] if s["pass"] == p["pass"])
            if abs(lat - p["wall_s"]) > 1e-6:
                failures.append(f"{w}: pass {p['pass']} wall {p['wall_s']} is not the sum {lat} of its queries")
        # Failures must rank at least as slow as every completed query: the
        # figures must not fall below those of the same samples with each
        # failure set to the slowest completed latency.
        measured = [s for s in raw["samples"] if s["pass"] > 0]
        ok_lats = [s["lat_s"] for s in measured if s["status"] == "ok"]
        slowest = ok_lats + [max(ok_lats)] * (len(measured) - len(ok_lats))
        if result["metrics"]["latency_tail_s"]["value"] < bench.tail_latency(slowest)[0] or \
                result["metrics"]["latency_p50_s"]["value"] < statistics.median(slowest):
            failures.append(f"{w}: a failure shortened the median or tail latency")
        print(f"[selftest] {w}: {len(ca)} traced samples compared, {len(spans)} spans checked, "
              f"{len(injected)} injected failures, {len(hung)} injected timeouts", flush=True)
    for f in failures:
        print(f"[selftest] FAIL {f}")
    print("[selftest] ok" if not failures else f"[selftest] {len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
