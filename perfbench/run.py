#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: three workloads through its
public API, timed end to end and, in a separate traced run, per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload inventory_read --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, untraced

It builds the engine and the harness from source on first use (sbt,
offline), generates the workload's inputs from the seed, runs one fresh
JVM, checks the outputs against an independent replay, prints every
metric by name with its unit, and prints one JSON object as its last
line. It exits nonzero when an output check fails. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# corpus_dedup runs by hand only: its set-up and 9-20 s ops do not fit the
# per-run time of a gated benchmark run (see README.md)
WORKLOADS = ["inventory_read", "lake_backfill", "corpus_dedup"]
GATED = ["inventory_read", "lake_backfill"]
CONFIG = {
    "inventory_read": {"sf": 0.005, "passes": 20},
    "lake_backfill": {"events": 100000, "days": 30, "correction_share": 0.03},
    "corpus_dedup": {"docs": 5000, "vectors": 2000, "history_share": 0.4,
                     "batches": 30},
}
# The inventory keys one pass runs: one per operator family of Q01-Q28
# (scan and JSON, broadcast join, 5-way join, aggregate, session window,
# decimal dot-product expression, set-similarity join). All 33 keys take
# 30-35 s per warm pass on a 4-core host, more than one run can spend.
INVENTORY_KEYS = ["q03_json_project", "q05_join_broadcast", "q06_join_5way",
                  "q09_agg_ratios", "q22_session", "q26b_cosine_topk", "q27_near_dup"]
SPANS = {
    "inventory_read": ["queries.build", "queries.run"],
    "lake_backfill": ["stream.land", "log.merge", "log.report", "log.compact",
                      "log.vacuum"],
    "corpus_dedup": ["store.dedup", "store.append", "store.rebuild", "ann.dedup",
                     "ann.append", "ann.optimize", "ann.probe"],
}
SPAN_FIELDS = [("s", "s"), ("jobs", "count"), ("tasks", "count"), ("cpu_s", "s"),
               ("gap_s", "s"), ("fs_ops", "count"), ("bytes_written", "B")]
SPARK_COUNTERS = [("spark.jobs", "jobs", "count"), ("spark.gap_s", "gap_s", "s"),
                  ("spark.input_bytes", "input_bytes", "B"),
                  ("spark.shuffle_bytes", "shuffle_bytes", "B"),
                  ("spark.spill_bytes", "spill_bytes", "B"),
                  ("spark.failed_tasks", "failed_tasks", "count")]
STATE = [("log.versions", "count"), ("log.files", "count"), ("log.rewrite_ratio", "ratio"),
         ("store.keep_ratio", "ratio"), ("ann.cells", "count"),
         ("ann.max_occupancy", "count")]
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("ops_per_s", "1/s"), ("input_rows_per_s", "1/s"), ("peak_rss_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def tail(latencies):
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, never below the median."""
    s = sorted(latencies)
    n = len(s)
    k = n - 11
    if k + 1 <= n / 2:
        return 50.0, statistics.median(s)
    return 100.0 * (k + 1) / n, s[k]


def end_to_end(ops, failed, jvm, timed_s):
    """End-to-end figures over the ops that ran and passed their check."""
    good = [o for o in ops if o["ok"] and o["i"] not in failed]
    lat = [o["wall_s"] for o in good]
    if not lat:
        return None
    pct, tail_v = tail(lat)
    return {
        "setup_s": statistics.median(jvm["setup_s"]),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "ops_per_s": len(good) / timed_s,
        "input_rows_per_s": sum(o["input_rows"] for o in good) / timed_s,
        "peak_rss_mb": jvm["peak_rss_mb"],
    }, {"samples": len(lat), "tail_percentile": pct}


def per_layer(workload, jvm, inputs):
    """Per-layer figures of a traced run. Span and Spark figures are run
    totals divided by the number of timed ops, so the span seconds plus
    `op.unattributed_s` add up to `op.wall_s`; `ann.probe` is the one
    closing probe. Spans of the other gated workload read 0."""
    layers, state, ops = jvm["layers"], jvm["state"], jvm["ops"]
    n = max(1, len(ops))
    m = {}
    for wl in (GATED if workload in GATED else [workload]):
        for name in SPANS[wl]:
            t = layers["spans"].get(name) if wl == workload else None
            div = 1 if name == "ann.probe" else n
            for field, unit in SPAN_FIELDS:
                m[f"{name}.{field}"] = ((t[field] / div) if t else 0, unit)
    for name, field, unit in SPARK_COUNTERS:
        m[name] = (layers["window"][field] / n, unit)
    for name, unit in STATE[:3] if workload in GATED else STATE[3:]:
        m[name] = (state.get(name, 0), unit)
    if workload == "lake_backfill":
        timed_bytes = sum(os.path.getsize(d["path"]) for d in inputs["days"][1:1 + len(ops)])
        merged = layers["spans"].get("log.merge", {}).get("bytes_written", 0)
        m["log.rewrite_ratio"] = (merged / timed_bytes if timed_bytes else 0, "ratio")
    m["op.wall_s"] = (layers["op_wall_s"] / n, "s")
    m["op.unattributed_s"] = ((layers["op_wall_s"] - layers["op_span_s"]) / n, "s")
    return m


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile the engine and the harness (once per source state) and
    return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "classpath.stamp")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(OUT, exist_ok=True)
    log("building the engine and the harness with sbt (first run only)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    lines = [ln for ln in r.stdout.splitlines()
             if not ln.startswith("[") and "perfbench" in ln and os.pathsep in ln]
    if not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


# ---------------------------------------------------------------- one run

def host_facts():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return mem_kb, [float(x) for x in load]


def heap_mb(mem_kb):
    return max(1024, min(2048, mem_kb // 1024 // 6))


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def run_one(workload, seed, seconds, trace, cp):
    cores = len(os.sched_getaffinity(0))
    mem_kb, load0 = host_facts()
    xmx = heap_mb(mem_kb)
    run_dir = os.path.join(OUT, f"run-{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    t0 = time.time()
    inputs = gen.generate(workload, seed, os.path.join(run_dir, "inputs"), CONFIG[workload],
                          query_keys=INVENTORY_KEYS)
    gen_s = time.time() - t0
    with open(os.path.join(run_dir, "inputs.json"), "w") as f:
        json.dump(inputs, f)
    # a fixed, pre-touched heap: the JVM faults its memory in before the
    # first op instead of during timed ops
    cmd = ["java", f"-Xms{xmx}m", f"-Xmx{xmx}m", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", cp, "graft.perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--out", run_dir,
           "--plan", os.path.join(run_dir, "inputs.json")]
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=seconds + 140)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"{workload}: benchmark JVM failed ({rc})")
    with open(os.path.join(run_dir, "jvm.json")) as f:
        jvm = json.load(f)
    ops = jvm["ops"]
    failed, problems = check.run_check(workload, os.path.join(run_dir, "work"), inputs, ops)
    failed |= {o["i"] for o in ops if not o["ok"]}
    problems += [f"op {o['name']} threw {o['error']}" for o in ops if not o["ok"]]
    _, load1 = host_facts()
    e2e = end_to_end(ops, failed, jvm, jvm["timed_s"])
    result = {
        "workload": workload, "seed": seed, "trace": trace, "commit": commit(),
        "nproc": cores, "mem_total_kb": mem_kb, "xmx_mb": xmx,
        "loadavg_start": load0, "loadavg_end": load1, "gen_s": gen_s,
        "attempted": len(ops), "failed": len(failed), "problems": problems,
        "correct": not problems and not failed and e2e is not None,
        "latencies_s": [o["wall_s"] for o in ops],
        "failed_ops": sorted(failed), "jvm": jvm,
    }
    if e2e:
        result["end_to_end"], result["latency_stats"] = e2e
        result["failed_op_ratio"] = len(failed) / max(1, len(ops))
        result["op_cpu_p50_s"] = statistics.median(
            o["cpu_s"] for o in ops if o["ok"] and o["i"] not in failed)
        st = jvm["state"]
        if workload == "lake_backfill":
            result["stored_bytes_per_input_byte"] = st["stored_bytes"] / st["landed_input_bytes"]
        elif workload == "corpus_dedup":
            result["stored_bytes_per_input_byte"] = st["stored_bytes"] / st["input_bytes"]
    if trace:
        result["per_layer"] = per_layer(workload, jvm, inputs)
    os.makedirs(os.path.join(OUT, "artifacts"), exist_ok=True)
    art = os.path.join(OUT, "artifacts",
                       f"{time.strftime('%Y%m%dT%H%M%S')}-{workload}-s{seed}-t{trace}.json")
    with open(art, "w") as f:
        json.dump(result, f)
    result["artifact"] = art
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def describe(r):
    wl = r["workload"]
    print(f"== {wl}  seed={r['seed']} trace={r['trace']} ops={r['attempted']} "
          f"failed={r['failed']} correct={r['correct']}")
    if "end_to_end" in r:
        for name, unit in END_TO_END:
            print(f"{wl}.{name} = {r['end_to_end'][name]:.6g} {unit}")
        print(f"{wl}.op_tail_percentile = {r['latency_stats']['tail_percentile']:.1f} %"
              f" (samples {r['latency_stats']['samples']})")
        print(f"{wl}.failed_op_ratio = {r['failed_op_ratio']:.6g} ratio")
        print(f"{wl}.op_cpu_p50_s = {r['op_cpu_p50_s']:.6g} s")
        print(f"{wl}.host_steal_s = {r['jvm']['timed_steal_s']:.6g} s (CPU time other "
              f"tenants took from this machine while ops were timed)")
        if "stored_bytes_per_input_byte" in r:
            print(f"{wl}.stored_bytes_per_input_byte = "
                  f"{r['stored_bytes_per_input_byte']:.6g} ratio")
    for p in r["problems"][:20]:
        print(f"{wl}: CHECK FAILED: {p}")
    print(f"{wl}: artifact {r['artifact']}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("the engine's sources (build.sbt, src/main/scala/graft) are not beside "
            "perfbench/: run from a checkout of the repository")
        return 2
    cp = classpath()
    results = [run_one(w, a.seed, a.seconds, a.trace, cp)
               for w in (WORKLOADS if a.workload == "all" else [a.workload])]
    for r in results:
        describe(r)
    correct = all(r["correct"] for r in results)
    metrics = {}
    for r in results:
        prefix = f"{r['workload']}." if a.workload == "all" else ""
        if a.trace:
            for name, (v, unit) in r.get("per_layer", {}).items():
                metrics[prefix + name] = {"value": v, "unit": unit}
        elif "end_to_end" in r:
            for name, unit in END_TO_END:
                metrics[prefix + name] = {"value": r["end_to_end"][name], "unit": unit}
    print(json.dumps({"correct": correct, "attempted": sum(r["attempted"] for r in results),
                      "failed": sum(r["failed"] for r in results), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
