#!/usr/bin/env python3
"""Benchmark of the graft query engine: one command, every metric, checked outputs.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--inject-failure] [--record]

A run builds the engine from source (cached under perfbench/.build), makes or
checks its input data (perfbench/.data, pinned by perfbench/expected/data.json),
starts one JVM that runs the workload's queries as a closed loop with one
client (perfbench/src/Harness.scala), checks every result checksum against
perfbench/expected/checksums.json, and prints one JSON object as the last line
of standard output. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics (and writes the span JSONL next to the run record).
--inject-failure adds a query that fails and one that hangs until its cap
(for the self-tests; --cap-seconds shortens the per-query cap); --record writes
the observed checksums as the expected ones (only for a tree whose oracle gate
passes).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
DATA = os.path.join(HERE, ".data")
WORK = os.path.join(HERE, ".work")
EXPECTED = os.path.join(HERE, "expected")
def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BenchError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


# A run ends within RUN_BUDGET_S of its start (of the end of its build and
# data generation, when it does those). The JVM issues no query after
# QUERY_BUDGET_S, less TRACE_EXTRA_S in a traced run, whose table and
# function measurements follow its passes; what is left unrun fails.
RUN_BUDGET_S = 170
QUERY_BUDGET_S = 140
TRACE_EXTRA_S = 25
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "jdk.internal.ref",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def sha256_file(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def cores():
    return os.cpu_count() or 1


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise BenchError("no MemTotal in /proc/meminfo")


def heap():
    """JVM heap from MemTotal, as the Tier-1 test command sizes it:
    half the memory in whole GiB, clamped to 2..8 GiB."""
    return f"{min(8, max(2, mem_total_kb() // 2097152))}g"


def jars():
    found = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not found:
        raise BenchError(f"no Spark jars under {spark_jars()}")
    return found


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BenchError("no engine sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with the Scala compiler that ships
    with Spark; the classes are cached by a hash of the sources. Returns the
    class directory, the source hash and whether it compiled now."""
    key = source_hash()
    out = os.path.join(BUILD, key[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, key, False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(spark_jars(), f"{n}-2.13.17.jar")
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-classpath", ":".join(jars()), "-d", classes] + sources(),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BenchError("compile failed:\n" + proc.stdout[-4000:])
    open(os.path.join(out, "ok"), "w").close()
    for old in os.listdir(BUILD):
        if old != key[:16]:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    log(f"built {key[:16]} in {time.time() - t0:.1f} s")
    return classes, key, True


def java_cmd(classes, work, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed young generation keeps the peak RSS from following G1's
    # adaptive eden sizing, which differs between identical runs.
    return (["java", f"-Xmx{heap()}", "-Xmn1g", "-Duser.timezone=UTC",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
             "-Dio.netty.tryReflectionSetAccessible=true"] + ADD_OPENS + list(extra) +
            ["-cp", classes + ":" + os.path.join(spark_jars(), "*"), "graft.perfbench.Harness"])


def run_jvm(cmd, log_path, timeout, env=None):
    """Run one JVM to completion; on timeout kill its whole process group and wait."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"JVM exceeded {timeout} s; log: {log_path}")
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"JVM exited {rc}; log tail:\n{tail}")


# ---------------------------------------------------------------- input data

def data_dir(name):
    base = load_json(os.path.join(EXPECTED, "data.json"))[name]
    if "committed" in base:
        return os.path.join(HERE, base["committed"]), base
    return os.path.join(DATA, name), base


def file_manifest(d):
    return {os.path.relpath(p, d): sha256_file(p)
            for p in sorted(glob.glob(os.path.join(d, "**/*"), recursive=True))
            if os.path.isfile(p) and not os.path.basename(p).startswith(".")}


def ensure_data(name, classes):
    """Make the named data set if it is missing, then check it: every file
    against the manifest written when it was made, and the tables' row counts
    and content hashes against the committed expectation. Stale, partial or
    altered data fails the run. Returns the directory and whether it was
    made now."""
    d, spec = data_dir(name)
    if "committed" in spec:
        if file_manifest(d) != spec["files"]:
            raise BenchError(f"committed data set {d} does not match expected/data.json")
        return d, False
    manifest = os.path.join(DATA, f"{name}.manifest.json")
    made = not os.path.exists(manifest)
    if made:
        gen_data(name, spec, classes)
    m = load_json(manifest)
    if m["tables"] != spec["tables"]:
        raise BenchError(f"data set {name}: table rows/hashes differ from expected/data.json")
    if file_manifest(d) != m["files"]:
        raise BenchError(f"data set {name}: files changed since generation; delete {DATA} to regenerate")
    return d, made


def gen_data(name, spec, classes):
    src, _ = data_dir(spec["from"])
    work = os.path.join(WORK, "gen")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    staging = os.path.join(DATA, f".{name}.partial")
    shutil.rmtree(staging, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    t0 = time.time()
    run_jvm(java_cmd(classes, work) + ["gen", src, staging, str(spec["replicas"]), spec["tag"]],
            os.path.join(work, "gen.log"), timeout=800, env=env)
    hashes = os.path.join(work, "hash.json")
    run_jvm(java_cmd(classes, work) + ["hash", staging, hashes], os.path.join(work, "hash.log"),
            timeout=300, env=env)
    tables = {t["table"]: {"rows": t["rows"], "hash": t["hash"]} for t in load_json(hashes)["tables"]}
    if tables != spec["tables"]:
        raise BenchError(f"generated {name} differs from expected/data.json: {json.dumps(tables)}")
    final = os.path.join(DATA, name)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(staging, final)
    with open(os.path.join(DATA, f"{name}.manifest.json"), "w") as f:
        json.dump({"tables": tables, "files": file_manifest(final)}, f, indent=1)
    log(f"generated {name} in {time.time() - t0:.1f} s")


# ------------------------------------------------------------------- metrics

def tail_latency(lats):
    """Latency at the highest percentile with at least ten samples beyond it
    (nearest rank), with that percentile. Below 22 samples that percentile
    would not lie above the median, so the maximum is reported."""
    xs = sorted(lats)
    k = len(xs) - 11 if len(xs) >= 22 else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


def e2e_metrics(rec, ok, attempted):
    """End-to-end metrics over the measured passes (all but the first)."""
    passes = [p for p in rec["passes"] if p["pass"] > 0]
    samples = [s for s in rec["samples"] if s["pass"] > 0]
    wall = sum(p["wall_s"] for p in passes)
    # A failed query counts at the cap, slower than any query that completes.
    lats = [s["lat_s"] if s["ok"] else rec["cap_s"] for s in samples]
    tail, pct = tail_latency(lats)
    m = {
        "setup_s": (rec["setup_s"], "s"),
        "qps": (sum(s["ok"] for s in samples) / wall, "1/s"),
        "latency_p50_s": (statistics.median(lats), "s"),
        "latency_tail_s": (tail, "s"),
        "cpu_s": (sum(p["cpu_s"] for p in passes) / len(passes), "s"),
        "old_gen_mb": (statistics.mean([s["old_gen_peak_mb"] for s in samples if "old_gen_peak_mb" in s] or [0.0]), "MB"),
        "ok_share": (ok / attempted, "share"),
    }
    info = {"tail_percentile": pct, "samples": len(lats), "passes": len(passes), "wall_s": wall,
            "peak_rss_mb": rec["peak_rss_mb"]}
    return m, info


def self_times(spans):
    """Self time per span name. Each instant of a query's root span belongs
    to the deepest span active then (the earliest started among concurrent
    siblings), so a span's self time is its duration minus what its children
    cover, and the self times of a query sum to its root duration."""
    by_trace = {}
    for sp in spans:
        by_trace.setdefault(sp["trace"], []).append(sp)
    out = {}
    for group in by_trace.values():
        by_id = {sp["id"]: sp for sp in group}

        def depth(sp):
            d = 0
            while sp["parent"] in by_id:
                sp, d = by_id[sp["parent"]], d + 1
            return d

        ranked = sorted(group, key=lambda sp: (-depth(sp), sp["start_ns"], sp["id"]))
        roots = [sp for sp in group if sp["parent"] not in by_id]
        for root in roots:
            cuts = sorted({root["start_ns"], root["end_ns"]} | {
                t for sp in group for t in (sp["start_ns"], sp["end_ns"])
                if root["start_ns"] < t < root["end_ns"]})
            for a, b in zip(cuts, cuts[1:]):
                owner = next(sp for sp in ranked if sp["start_ns"] <= a and sp["end_ns"] >= b)
                out[owner["name"]] = out.get(owner["name"], 0.0) + (b - a) / 1e9
    return out


def layer_metrics(rec, spans, store_inputs):
    """Per-layer metrics per traced pass; `store_inputs` maps each store query
    to the table it reads, the base of its write amplification."""
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"] and p["pass"] > 0]
    n = len(traced)
    samples = [s for s in rec["samples"] if s["traced"] and s["ok"]]

    def per_pass(key, where=lambda s: True):
        return sum(s.get(key, 0.0) for s in samples if where(s)) / n

    m = {}
    for key in ("ops.build_s", "ops.build_jobs", "catalyst.optimize_s", "catalyst.plan_s",
                "codegen.compiles", "codegen.compile_s", "codegen.fallbacks",
                "plan.exchanges", "plan.bhj", "plan.smj", "plan.bnlj", "plan.wscg_stages",
                "plan.non_wscg_ops", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
                "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
                "exec.spill_mb", "exec.input_mb", "op.agg_time_s", "op.sort_time_s",
                "op.bhj_build_s"):
        m[key] = per_pass(key)
    m["op.peak_mem_mb"] = max([s.get("op.peak_mem_mb", 0.0) for s in samples] or [0.0])
    wall = sum(p["wall_s"] for p in traced) / n
    capacity = wall * rec["cores"]
    m["exec.idle_core_s"] = capacity - m["exec.task_run_s"]
    m["exec.cpu_util"] = m["exec.task_cpu_s"] / capacity
    extra = rec["extra"]
    scan = sum(t["scan_s"] for t in extra["tables"])
    m["tables.scan_s"] = scan
    m["tables.rows_per_s"] = sum(t["rows"] for t in extra["tables"]) / scan
    for k, v in extra["functions"].items():
        m[f"functions.{k}"] = v
    is_store = lambda s: s["q"] in store_inputs
    m["store.write_s"] = per_pass("ops.build_s", is_store)
    m["store.read_s"] = per_pass("exec.collect_s", is_store)
    m["store.bytes_written_mb"] = per_pass("store.bytes_written_mb", is_store)
    m["store.files"] = per_pass("store.files", is_store)
    table_mb = {t["table"]: t["bytes"] / 1048576.0 for t in extra["tables"]}
    input_mb = sum(table_mb[store_inputs[s["q"]]] for s in samples if is_store(s)) / n
    m["store.write_amp"] = m["store.bytes_written_mb"] / input_mb if input_mb else 0.0
    qps = lambda ps: sum(p["queries"] for p in ps) / sum(p["wall_s"] for p in ps)
    m["trace.overhead_share"] = 1.0 - qps(traced) / qps(plain) if plain else 0.0
    st = self_times(spans)
    for name in ("query", "ops.build", "catalyst.optimize", "catalyst.plan", "exec.collect",
                 "spark.job", "spark.stage"):
        m[f"self.{name}_s"] = st.get(name, 0.0) / n
    units = {}
    for k in m:
        units[k] = ("count" if k.split(".")[-1] in ("compiles", "fallbacks", "exchanges", "bhj", "smj",
                                                      "bnlj", "wscg_stages", "non_wscg_ops", "jobs",
                                                      "stages", "tasks", "build_jobs", "files")
                    else "1/s" if k.endswith("per_s") else "MB" if k.endswith("_mb")
                    else "share" if k.endswith(("_util", "_amp", "_share")) else "s")
    return {k: (v, units[k]) for k, v in m.items()}


# ----------------------------------------------------------------------- run

def labels(key, seed):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True).stdout.strip() or None
    except OSError:
        commit = None
    return {"nproc": cores(), "mem_total_kb": mem_total_kb(), "heap": heap(), "git_commit": commit,
            "source_hash": key, "seed": seed}


def passes(wl, args):
    """A warm-up pass, which is not measured, then whole measured passes:
    about --seconds of passes in all (pass_s is the workload's warm pass
    time on the reference box), with at least two measured, so that a traced
    run has a traced and an untraced one. Every run of a workload does the
    same work and yields the same number of samples."""
    return 1 + max(2, round(args.seconds / wl["pass_s"]) - 1)


def write_config(path, props):
    with open(path, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")


def run(args):
    workloads = load_json(os.path.join(HERE, "workloads.json"))
    if args.workload not in workloads:
        raise BenchError(f"unknown workload {args.workload}; have {sorted(workloads)}")
    wl = workloads[args.workload]
    started = time.time()
    classes, key, compiled = build()
    ddir, made = ensure_data(wl["data"], classes)
    if compiled or made:
        started = time.time()
    tag = f"{args.workload}_s{args.seed}_t{args.trace}"
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    props = {
        "workload": args.workload, "dataDir": ddir, "workDir": work, "seed": args.seed,
        "passes": passes(wl, args), "trace": args.trace, "cores": cores(),
        "queries": ",".join(wl["queries"]),
        "storeQueries": ",".join(wl.get("store_queries", {})),
        "injectFailure": int(args.inject_failure), "out": os.path.join(work, "run.json"),
        "spans": os.path.join(results, f"{tag}.spans.jsonl"),
    }
    if args.cap_seconds:
        props["capSec"] = args.cap_seconds
    query_budget = QUERY_BUDGET_S - (TRACE_EXTRA_S if args.trace else 0)
    props["deadlineEpochNs"] = int((started + query_budget) * 1e9)
    launch = time.time()
    props["launchEpochNs"] = int(launch * 1e9)
    conf = os.path.join(work, "run.properties")
    write_config(conf, props)
    run_jvm(java_cmd(classes, work) + ["run", conf], os.path.join(work, "jvm.log"),
            timeout=started + RUN_BUDGET_S - launch)
    rec = load_json(props["out"])
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    expected = load_json(os.path.join(EXPECTED, "checksums.json")).get(wl["data"], {})
    observed, mismatches = {}, []
    for s in rec["samples"]:
        ok = s["status"] == "ok"
        if ok and s["q"] in wl["queries"]:
            observed.setdefault(s["q"], set()).add(s["checksum"])
            if not args.record and expected.get(s["q"]) != s["checksum"]:
                ok = False
                mismatches.append(f"{s['q']}: {s['checksum']} != {expected.get(s['q'])}")
        s["ok"] = ok
    attempted = len(rec["samples"])
    ok = sum(s["ok"] for s in rec["samples"])
    failed = attempted - ok
    for s in rec["samples"]:
        if not s["ok"]:
            log(f"FAILED {s['q']} pass {s['pass']}: {s['status']} {s['error'] or 'checksum mismatch'}")
    if args.trace:
        pinned = data_dir(wl["data"])[1]["tables"]
        for t in rec["extra"]["tables"]:
            if {"rows": t["rows"], "hash": t["hash"]} != pinned[t["table"]]:
                failed += 1
                log(f"FAILED table {t['table']}: rows or content hash differ from expected/data.json")
    if args.record:
        record(wl["data"], observed, failed)

    if args.trace:
        with open(props["spans"]) as f:
            spans = [json.loads(line) for line in f]
        metrics = layer_metrics(rec, spans, wl.get("store_queries", {}))
        info = {}
    else:
        metrics, info = e2e_metrics(rec, ok, attempted)
    record_out = {"labels": dict(labels(key, args.seed), spark=rec["spark_version"],
                                 java=rec["java_version"], shuffle_partitions=rec["shuffle_partitions"]),
                  "workload": args.workload, "trace": args.trace, "attempted": attempted, "failed": failed,
                  "mismatches": mismatches, "info": info, "passes": rec["passes"],
                  "metrics": {k: v for k, (v, _) in metrics.items()}}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record_out, f, indent=1)
    print(json.dumps({"record": record_out["labels"], "info": info}))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def record(dataset, observed, failed):
    unstable = sorted(q for q, v in observed.items() if len(v) != 1)
    if failed or unstable:
        raise BenchError(f"not recording: {failed} failures, unstable checksums {unstable}")
    path = os.path.join(EXPECTED, "checksums.json")
    allv = load_json(path) if os.path.exists(path) else {}
    allv.setdefault(dataset, {}).update({q: next(iter(v)) for q, v in observed.items()})
    allv[dataset] = dict(sorted(allv[dataset].items()))
    with open(path, "w") as f:
        json.dump(allv, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded {len(observed)} checksums for {dataset}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true")
    ap.add_argument("--cap-seconds", type=float, default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    try:
        result = run(args)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(result, allow_nan=False))


if __name__ == "__main__":
    main()
