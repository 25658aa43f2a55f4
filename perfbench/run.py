#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload {ingest,analytics,curation} --seed N \
        --seconds S --trace {0,1} [--tiny]

Run from the repository root. The script compiles the program (src/main/scala)
together with the benchmark's own JVM code (perfbench/jvm) into
``.bench_build``, generates the workload's inputs from the seed, runs the
workload in one JVM as a closed loop with a single client thread on
``local[nproc]``, checks every output against an independent reference
outside the timed region, and prints one JSON object as its last stdout line.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
variant and prints the per-layer metrics, keeping its spans and a per-layer
self-time summary under ``.bench_build/traces``. ``--tiny`` shrinks every
input (the self-test's smoke mode). NOTES.md explains each workload and
metric.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory

import check  # noqa: E402
import gen  # noqa: E402
import numpy as np  # noqa: E402

T_START = time.time()
DEADLINE = T_START + 170  # a run that compiles gets the compile time on top

ANALYTICS = [
    "q01_pricing_summary", "q11_join_shuffle", "q15_window_topk", "q23_sessionize",
    "q48_sql_shipping_priority", "q90_retention_cohorts", "q160_local_supplier_volume"]
CURATION = [
    "q27_minhash_neardup", "q31_simhash_pairs", "q34_ann_lsh", "q38_langid",
    "q64_repeated_ngrams", "q78_semdedup", "q114_edit_distance_audit", "q283_borda_fusion"]

# Input sizes: (scale factor, document count) for the query workloads,
# (files in the pool, events per file) for ingest.
SIZES = {
    "analytics": {"sf": 0.01, "docs": None},
    "curation": {"sf": 0.001, "docs": 120},
    "ingest": {"files": 4, "events": 10000, "warmup": 12},
}
TINY = {
    "analytics": {"sf": 0.001, "docs": None},
    "curation": {"sf": 0.001, "docs": 60},
    "ingest": {"files": 2, "events": 500, "warmup": 1},
}
MICRO_SEED = 7  # the traced run's microbenchmarks use fixed inputs

# name -> unit; the traced run prints PER_LAYER, the plain run END_TO_END.
END_TO_END = {
    "setup_s": "s", "cold_s": "s", "latency_p50_ms": "ms", "throughput_per_s": "1/s"}
FN_FAMILIES = [
    "minhash_signature", "minhash_band_keys", "simhash64", "cosine", "word_ngrams",
    "md5_token_hashes", "rolling_fingerprint", "hyperplane_buckets", "nearest_cells",
    "pq_encode", "pq_adc", "bpe_doc_symbols", "sorted_intersect"]
PER_LAYER = {
    "latency_p90_ms": "ms", "construct_ms": "ms", "plan_ms": "ms", "exec_ms": "ms", "cold_construct_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count", "task_cpu_ms": "ms",
    "cores_busy": "count", "shuffle_bytes": "B", "scan_bytes": "B", "spill_bytes": "B",
    "gc_ms": "ms", "storage_mb": "MB", "persisted_rdds": "count",
    "evicted_blocks": "count", "ops_failed_ratio": "ratio", "trace_overhead_pct": "%",
    "stream.first_batch_ms": "ms", "stream.add_batch_p50_ms": "ms",
    "stream.planning_p50_ms": "ms", "stream.wal_commit_p50_ms": "ms",
    "stream.bytes_out_per_event": "B", "stream.files_out_per_batch": "count",
    "parse_filter.rows_per_s": "1/s", "sink_write_ms": "ms",
    **{f"fn.{f}.rows_per_s": "1/s" for f in FN_FAMILIES},
    "op.global_rank.rows_per_s": "1/s", "op.prefix_sum.rows_per_s": "1/s",
    "agg.topk.rows_per_s": "1/s", "agg.regmax.rows_per_s": "1/s",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def left():
    return DEADLINE - time.time()


def cpu_jiffies():
    """(stolen, total) CPU jiffies of this host so far, or None off Linux.
    On a shared virtual machine the stolen share explains wall-time noise."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


# ---------------------------------------------------------------- build

def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    submit = shutil.which("spark-submit")
    home = os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else "")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars found (SPARK_HOME={home!r}); set SPARK_HOME")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def scala_sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "jvm")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            fail(f"missing source directory {d}; run from the repository root")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir):
    """Compile the program and the benchmark's JVM code once per source
    state; the class directory is keyed by a hash of every source file."""
    global DEADLINE
    jars = spark_jars()
    srcs = scala_sources(root)
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as fh:
                h.update(fh.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".built")):
        return classes, jars
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("the Spark jars directory lacks the Scala compiler jars")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", tmp, "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".built"), "w").close()
    os.replace(tmp, classes)
    DEADLINE += time.time() - t0
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes, jars


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, size, run_dir):
    """Generate the workload's inputs three times (same seed, same bytes)
    and return the median generation time as the input share of set-up."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        if workload == "ingest":
            gen.ingest_pool(os.path.join(run_dir, "pool"), seed, size["files"], size["events"])
        else:
            gen.star_and_corpus(os.path.join(run_dir, "data"), seed, size["sf"], size["docs"])
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def manifest_of(pool):
    with open(os.path.join(pool, "manifest.json")) as fh:
        return {m["file"]: m for m in json.load(fh)}


# ---------------------------------------------------------------- JVM

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(classes, jars, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and the throughput collector: with G1 and a growing heap,
    # ingest batches kept getting faster for about 30 batches; with these
    # they settle within about 12.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=warn",
            "-cp", os.pathsep.join([classes] + jars), "graft.perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(5, left() - 8))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    log.close()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        fail(f"benchmark JVM ended with {rc}:\n{tail}")
    with open(os.path.join(run_dir, "out", "result.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- metrics

def p50(xs):
    return statistics.median(xs)


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean of every
    order statistic. A run has 17-24 latency samples drawn from a fixed mix
    of operations, and the plain sample quantile jumps between the two
    operations it falls between; this estimator moves smoothly instead."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
                 - math.lgamma(a) - math.lgamma(b) + math.lgamma(a + b))
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, len(cdf)), cdf)
    return float(np.diff(edges) @ x)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def tree_bytes(d):
    files = [os.path.join(b, f) for b, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")]
    return sum(os.path.getsize(f) for f in files), len(files)


def stream_layer(batches, sink):
    warm = batches[1:] or batches
    phase = lambda k: p50([b["durations"].get(k, 0) for b in warm])
    size, files = tree_bytes(sink)
    events = sum(b["observed"].get("n_parsed", 0) for b in batches)
    return {
        "stream.first_batch_ms": batches[0]["durations"]["triggerExecution"],
        "stream.add_batch_p50_ms": phase("addBatch"),
        "stream.planning_p50_ms": phase("queryPlanning"),
        "stream.wal_commit_p50_ms": phase("walCommit"),
        "stream.bytes_out_per_event": size / max(1, events),
        "stream.files_out_per_batch": files / len(batches),
    }


def count_layer(units, exec_ms):
    """Mean listener counts per traced operation (query or micro-batch)."""
    c = lambda k: mean([u["counts"].get(k, 0) for u in units])
    cpu_ms = c("task_cpu_ns") / 1e6
    return {
        "jobs": c("jobs"), "stages": c("stages"), "tasks": c("tasks"),
        "task_cpu_ms": cpu_ms, "cores_busy": cpu_ms / exec_ms if exec_ms else 0.0,
        "shuffle_bytes": c("shuffle_bytes"), "scan_bytes": c("scan_bytes"),
        "spill_bytes": c("spill_bytes"), "gc_ms": c("gc_ms"),
    }


def overhead_pct(traced, plain):
    if not traced or not plain:
        return 0.0
    return 100.0 * (p50(traced) - p50(plain)) / p50(plain)


def self_times(spans):
    """Per layer: summed span time minus the time its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for k in sorted(kids.get(s["id"], []), key=lambda k: k["start_ns"]):
            lo, hi = max(k["start_ns"], end), min(k["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        row = out.setdefault(s["layer"], {"spans": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["spans"] += 1
        row["total_ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
        row["self_ms"] += (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return out


def query_metrics(r, traced):
    ops = r["ops"]
    warm = [o for o in ops if o["phase"] == "warm" and not o["traced"]]
    warm_traced = [o for o in ops if o["phase"] == "warm" and o["traced"] and not o["error"]]
    passes = [p["s"] for p in r["pass_s"] if not p["traced"]]
    if not traced:
        return {
            "cold_s": r["cold_s"],
            "latency_p50_ms": quantile([o["total_ms"] for o in warm], 0.5),
            "throughput_per_s": len(warm) / sum(passes),
        }
    exec_ms = p50([o["write_ms"] - o["plan_ms"] for o in warm_traced])
    m = {
        "latency_p90_ms": quantile([o["total_ms"] for o in warm], 0.9),
        "construct_ms": p50([o["construct_ms"] for o in warm_traced]),
        "plan_ms": p50([o["plan_ms"] for o in warm_traced]),
        "exec_ms": exec_ms,
        "cold_construct_s": sum(o["construct_ms"] for o in ops if o["phase"] == "cold") / 1e3,
        "trace_overhead_pct": overhead_pct(
            [p["s"] for p in r["pass_s"] if p["traced"]], passes),
    }
    m.update(count_layer(warm_traced, mean([o["write_ms"] - o["plan_ms"] for o in warm_traced])))
    return m


def ingest_metrics(r, traced):
    batches = r["stream_batches"]
    warm = [b for b in batches if b["phase"] == "timed" and not b["traced"]]
    if not traced:
        # The cold phase is the cold batch and the warm-up batches: the
        # fresh stream's work until it has settled.
        return {
            "cold_s": sum(b["durations"]["triggerExecution"] for b in batches
                          if b["phase"] != "timed") / 1e3,
            "latency_p50_ms": quantile([b["durations"]["triggerExecution"] for b in warm], 0.5),
            "throughput_per_s": sum(b["observed"]["n_parsed"] for b in warm)
            / (sum(b["wall_ms"] for b in warm) / 1e3),
        }
    warm_traced = [b for b in batches if b["phase"] == "timed" and b["traced"]]
    add = [b["durations"].get("addBatch", 0) for b in warm_traced]
    m = {
        "latency_p90_ms": quantile([b["durations"]["triggerExecution"] for b in warm], 0.9),
        "construct_ms": r["construct_ms"],
        "plan_ms": p50([b["durations"].get("queryPlanning", 0) for b in warm_traced]),
        "exec_ms": p50(add),
        "cold_construct_s": r["construct_ms"] / 1e3,
        "trace_overhead_pct": overhead_pct(
            [b["wall_ms"] for b in warm_traced], [b["wall_ms"] for b in warm]),
    }
    m.update(count_layer(warm_traced, mean(add)))
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes, jars = build(root, build_dir)

    run_dir = os.path.join(build_dir, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    size = (TINY if a.tiny else SIZES)[a.workload]
    gen_s = make_inputs(a.workload, a.seed, size, run_dir)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": cores, "out": os.path.join(run_dir, "out"),
            "data": os.path.join(run_dir, "data"), "pool": os.path.join(run_dir, "pool"),
            "warmup": size.get("warmup", 0)}
    if a.workload != "ingest":
        order = list(ANALYTICS if a.workload == "analytics" else CURATION)
        random.Random(a.seed).shuffle(order)
        args["queries"] = ",".join(order)
    if a.trace:
        micro = os.path.join(run_dir, "micro")
        gen.star_and_corpus(micro, MICRO_SEED, 0.001)
        gen.ingest_pool(os.path.join(run_dir, "micro_pool"), MICRO_SEED, 2, 5000)
        args.update(micro=micro, micro_pool=os.path.join(run_dir, "micro_pool"))
    t_jvm, cpu0 = time.time(), cpu_jiffies()
    r = run_jvm(classes, jars, run_dir, args)
    t_check, cpu1 = time.time(), cpu_jiffies()
    steal = f"{100 * (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]):.1f} %" if cpu0 else "n/a"
    setup_s = gen_s + r["boot_s"] + r["setup_s"]

    # Correctness, outside every timed region. A query whose cold or
    # checked warm result is wrong counts as failed in every pass.
    if a.workload == "ingest":
        checks = check.ingest(r["sink"], r["stream_batches"],
                              manifest_of(os.path.join(run_dir, "pool")))
        units = {k: [None] for k in checks}
    else:
        with open(os.path.join(run_dir, "out", "oracle_sql.json")) as fh:
            oracle = json.load(fh)
        by_pass = {}
        for phase, results in (("cold", r["results"]), ("verify", r["warm_results"])):
            errors = {o["name"]: o["error"] for o in r["ops"] if o["phase"] == phase}
            by_pass[phase] = check.queries(root, args["data"], results, oracle, order, errors)
        checks = {q: "; ".join(f"{p} pass: {c[q]}" for p, c in by_pass.items() if c[q]) or None
                  for q in order}
        units = {}
        for o in r["ops"]:
            units.setdefault(o["name"], []).append(o["error"])
    if a.trace:
        micro = check.ingest(r["micro_sink"], r["micro_stream"],
                             manifest_of(args["micro_pool"]), prefix="micro-batch")
        checks.update(micro)
        units.update({k: [None] for k in micro})
    bad = {k: v for k, v in checks.items() if v}
    attempted = sum(len(v) for v in units.values())
    failed = sum(len(v) if k in bad else sum(1 for e in v if e) for k, v in units.items())
    for k, v in bad.items():
        print(f"perfbench: INCORRECT {a.workload} {k}: {v}", file=sys.stderr)
    for k, v in units.items():
        for e in v:
            if e:
                print(f"perfbench: FAILED {a.workload} {k}: {e}", file=sys.stderr)

    if a.workload == "ingest":
        metrics = ingest_metrics(r, a.trace)
    else:
        metrics = query_metrics(r, a.trace)
    if a.trace:
        metrics.update(stream_layer(r["micro_stream"], r["micro_sink"]))
        metrics.update(r["micro"])
        metrics.update(r["storage"])
        metrics["evicted_blocks"] = r["counts"].get("evicted_blocks", 0)
        metrics["ops_failed_ratio"] = failed / attempted
        with open(os.path.join(run_dir, "out", "trace.jsonl")) as fh:
            spans = [json.loads(line) for line in fh if line.strip()]
        keep = os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "out", "trace.jsonl"), keep)
        summary = {"workload": a.workload, "seed": a.seed,
                   "trace_overhead_pct": metrics["trace_overhead_pct"],
                   "layers": self_times(spans)}
        with open(os.path.join(keep, "summary.json"), "w") as fh:
            json.dump(summary, fh, indent=1)
        print(json.dumps(summary), file=sys.stderr)
        names = PER_LAYER
    else:
        metrics["setup_s"] = setup_s
        names = END_TO_END
    missing = sorted(set(names) - set(metrics))
    if missing:
        fail(f"metrics not measured: {missing}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"perfbench: {a.workload} seed {a.seed}: inputs {t_jvm - T_START:.1f} s, "
          f"jvm {t_check - t_jvm:.1f} s (host CPU stolen {steal}), "
          f"checks {time.time() - t_check:.1f} s", file=sys.stderr)
    result = {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in names.items()}}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
