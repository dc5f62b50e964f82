#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the library (src/main/scala)
and the benchmark's JVM side (perfbench/scala) with the Scala compiler
that ships in Spark's jars, into .bench_build/. Then it runs one
closed-loop client: a single driver thread submits the workload's
queries one after another through SparkEntry.queries(name)(spark, dir)
on GraftSession.local(<cores>), over the tables in perfbench/data.
Results are materialized through the noop sink. The seed fixes the
query order of every pass. Every query of the workload is then run once
more, untimed, and its result is checked against the DuckDB oracle's
digest in perfbench/digests.json.

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics and writes the spans to .bench_build/traces/. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.

Each run gets its own warehouse, SPARK_LOCAL_DIRS and java.io.tmpdir
under .bench_build/, deleted when the run ends. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD_DIR = ".bench_build"
DATA_DIR = os.path.join(HERE, "data")
DIGESTS = os.path.join(HERE, "digests.json")
HEAP = "3g"
YOUNG = "768m"
JVM_TIMEOUT_S = 170
WORKLOADS = {
    "relational": {
        "why": "redmap's algebra, a relational join and the write path of "
               "a stateful AvailableNow stream into a checkpointed sink; "
               "bypasses loops and native functions",
        "queries": [
            "mr_wordcount",
            "mr_secondary_sort",
            "q03_shipping_priority",
            "stream_hourly_agg",
        ],
    },
    "kernels": {
        "why": "graft's own kernels: a graph loop of eager jobs with a "
               "checkpoint per round, and product quantization over native "
               "functions; no writes",
        "queries": [
            "graph_kcore",
            "sim_pq_topk",
            "emb_pq_encode",
        ],
    },
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

MB = 1024.0 * 1024.0


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the installation that
    `spark-submit` on the PATH belongs to: Spark and the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def cores():
    return len(os.sched_getaffinity(0))


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


# ----------------------------------------------------------------- build

def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                           recursive=True))
    if not lib:
        fail("no library sources under %s/src/main/scala; run from the "
             "repository root" % root)
    return lib + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                                  recursive=True))


def build(root):
    """Compiles library and benchmark into .bench_build/classes unless the
    sources are unchanged since the last build."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    if not glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar")):
        fail("no Scala compiler in %s" % spark_jars())
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log("compiling %d sources" % len(srcs))
    t0 = time.time()
    res = subprocess.run(
        ["java", "-Xss4m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", os.path.join(spark_jars(), "*")]
        + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("compilation failed")
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    log("compiled in %.1f s" % (time.time() - t0))
    return out


# ------------------------------------------------------------------- run

def run_jvm(classes, rundir, queries, seed, seconds, trace):
    """Runs graft.perfbench.Runner in a fresh JVM whose warehouse, local
    dirs and temp dir all live under `rundir`; returns its result."""
    dirs = {k: os.path.join(rundir, k)
            for k in ("warehouse", "local", "tmp", "check")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(rundir, "result.json")
    extra = os.environ.get("SPARK_GRAFT_EXTRA_OPTS", "").split()
    # A fixed heap and young generation: GC points then follow the work
    # done, not adaptive resizing, which steadies old_gen_peak_mb.
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG,
            "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + dirs["tmp"],
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + extra
           + ["-cp", classpath(classes), "graft.perfbench.Runner",
              "--data", DATA_DIR, "--warehouse", dirs["warehouse"],
              "--out", out, "--check-dir", dirs["check"],
              "--cores", str(cores()), "--queries", ",".join(queries),
              "--seconds", str(seconds), "--seed", str(seed),
              "--trace", "1" if trace else "0"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=dirs["local"])
    log_path = os.path.join(rundir, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(
            cmd + ["--launch-ms", repr(time.time() * 1000)], stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, cwd=rundir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("benchmark JVM exited with %s" % code)
    with open(out) as fh:
        return json.load(fh), dirs["check"]


# ------------------------------------------------------------- checking

def norm(df):
    """The canonical value form of tools/check_correctness.py: columns
    sorted by name, timestamps as ISO text, floats rounded to 6 places,
    everything else as str."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            col = pd.to_datetime(col).dt.tz_localize(None)
            out[c] = col.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(col):
            out[c] = col.round(6).map(lambda v: f"{v:.6f}")
        else:
            out[c] = col.astype(str)
    return out


def digest(df):
    """sha256 over the canonical form, row by row in result order."""
    n = norm(df)
    h = hashlib.sha256()
    h.update("\x1f".join(n.columns).encode())
    for row in n.itertuples(index=False):
        h.update(b"\n")
        h.update("\x1f".join(row).encode())
    return h.hexdigest()


def read_result(path):
    """A result written by Spark, its part files concatenated in partition
    order."""
    import pandas as pd
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if not parts:
        return pd.read_parquet(path)
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def check(queries, errors, check_dir):
    """{query: reason} for every query whose untimed result is wrong."""
    with open(DIGESTS) as fh:
        expected = json.load(fh)
    bad = {}
    for q in queries:
        exp = expected.get(q)
        if errors.get(q):
            bad[q] = "threw: " + errors[q]
        elif exp is None:
            bad[q] = "no reference digest"
        else:
            df = read_result(os.path.join(check_dir, q))
            if len(df) != exp["rows"]:
                bad[q] = "rows %d, expected %d" % (len(df), exp["rows"])
            elif exp.get("digest") and digest(df) != exp["digest"]:
                bad[q] = "digest differs from the oracle's"
    return bad


# -------------------------------------------------------------- metrics

# The metrics of the result line, as (name, unit, better). BENCHMARK.json
# lists the same ones; test_stats.py checks that the two agree.
# geomean_s, query_p50_s, query_tail_s and failed_frac are printed, not
# gated: the geometric mean weighs the sub-second queries, whose share of
# run-to-run noise is the largest, as much as the long ones; with a few
# queries per workload the median sample jumps between queries; a run has
# too few samples for a tail to mean one; and failed_frac is 0.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("old_gen_peak_mb", "MB", "lower"),
]
# Spans whose self time is reported, by span name.
SELF_TIMED = ["operators.build", "plans.plan", "exec.execute",
              "exec.job", "exec.stage", "streaming.batch"]
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("sources.read_mb", "MB", "lower"),
    ("sources.read_rows", "rows", "lower"),
    ("sources.write_mb", "MB", "lower"),
    ("sources.files_written", "count", "lower"),
    ("operators.build_s", "s", "lower"),
    ("operators.build_jobs", "count", "lower"),
    ("plans.plan_s", "s", "lower"),
    ("plans.checkpoints", "count", "lower"),
    ("plans.checkpoint_mb", "MB", "lower"),
    ("plans.exchanges", "count", "lower"),
    ("plans.broadcast_joins", "count", "lower"),
    ("plans.shuffle_joins", "count", "lower"),
    ("functions.native_exprs", "count", "higher"),
    ("functions.interpreted_ops", "count", "lower"),
    ("functions.hof_lambdas", "count", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.task_overhead_s", "s", "lower"),
    ("exec.busy_frac", "ratio", "higher"),
    ("exec.driver_gap_s", "s", "lower"),
    ("exec.stage_skew", "ratio", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.failed_tasks", "count", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_p50_ms", "ms", "lower"),
    ("streaming.commit_ms", "ms", "lower"),
    ("streaming.state_rows", "rows", "lower"),
] + [("self.%s_s" % n, "s", "lower") for n in SELF_TIMED] + [
    ("trace.wall_s", "s", "lower"),
    ("trace.untraced_wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def per_query(samples, key):
    out = {}
    for s in samples:
        if s.get(key) is not None:
            out.setdefault(s["q"], []).append(s[key])
    return out


def wall(samples):
    """One pass's wall time: the sum of the per-query median wall times."""
    return sum(statistics.median(v) for v in per_query(samples, "wall_s").values())


def end_to_end(samples, setup_s):
    walls = per_query(samples, "wall_s")
    med = [statistics.median(v) for v in walls.values()]
    return {
        "setup_s": setup_s,
        "wall_s": sum(med),
        "geomean_s": stats.geomean(med),
        # Each query's median peak; the workload needs the largest.
        "old_gen_peak_mb": max(statistics.median(v) for v in per_query(
            samples, "old_gen_peak_mb").values()),
    }


def per_layer(result, ncores):
    """Per-layer metrics of the traced passes: each query's median over its
    traced passes, summed over the workload's queries; ratios are taken
    over the summed parts, and span-derived figures are per pass."""
    samples, spans = result["samples"], result["spans"]
    traced = [s for s in samples if s["mode"] == "traced"]
    npass = len({s["pass"] for s in traced})

    def total(key, scale=1.0):
        return sum(statistics.median(v) for v in per_query(traced, key).values()) * scale

    def plan_total(key):
        return sum(statistics.median([p.get(key, 0) for p in v])
                   for v in per_query(traced, "plan").values())

    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)

    def descendants(sp):
        for c in children.get(sp["id"], []):
            yield c
            yield from descendants(c)

    gaps, stage_tasks, batches = {}, [], []
    for qs in (sp for sp in spans if sp["name"] == "query"):
        below = list(descendants(qs))
        jobs = [(c["start_ms"], c["end_ms"]) for c in below
                if c["name"] == "exec.job"]
        stage_tasks += [c["task_ms"] for c in below if c["name"] == "exec.stage"]
        batches += [c for c in below if c["name"] == "streaming.batch"]
        gaps.setdefault(qs["query"], []).append(
            stats.driver_gap(qs["start_ms"], qs["end_ms"], jobs) / 1000)
    state = {}  # the most state rows each stream held after a batch
    for b in batches:
        state[b["stream"]] = max(state.get(b["stream"], 0), b["state_rows"])

    traced_wall = wall(traced)
    untraced_wall = wall([s for s in samples if s["mode"] == "plain"])
    run_s = total("run_ms", 1e-3)
    m = {
        "session.start_s": result["session_start_s"],
        "session.warmup_s": result["warmup_s"],
        "sources.read_mb": total("read_bytes", 1 / MB),
        "sources.read_rows": total("read_rows"),
        "sources.write_mb": total("write_bytes", 1 / MB),
        "sources.files_written": total("files_written"),
        "operators.build_s": total("build_s"),
        "operators.build_jobs": total("build_jobs"),
        "plans.plan_s": total("plan_s"),
        "plans.checkpoints": total("checkpoints"),
        "plans.checkpoint_mb": total("checkpoint_mb"),
        "plans.exchanges": plan_total("exchanges"),
        "plans.broadcast_joins": plan_total("broadcast_joins"),
        "plans.shuffle_joins": plan_total("shuffle_joins"),
        "functions.native_exprs": plan_total("native_exprs"),
        "functions.interpreted_ops": plan_total("interpreted_ops"),
        "functions.hof_lambdas": plan_total("hof_lambdas"),
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": total("cpu_ns", 1e-9),
        "exec.task_overhead_s": total("task_ms", 1e-3) - run_s,
        "exec.busy_frac": run_s / (traced_wall * ncores),
        "exec.driver_gap_s": sum(statistics.median(v) for v in gaps.values()),
        "exec.stage_skew": stats.stage_skew(stage_tasks),
        "exec.shuffle_write_mb": total("shuffle_write_bytes", 1 / MB),
        "exec.shuffle_read_mb": total("shuffle_read_bytes", 1 / MB),
        "exec.spill_mb": total("spill_bytes", 1 / MB),
        "exec.gc_s": total("gc_s"),
        "exec.failed_tasks": total("failed_tasks"),
        "streaming.batches": len(batches) / npass,
        "streaming.batch_p50_ms": statistics.median(
            [b["end_ms"] - b["start_ms"] for b in batches]) if batches else 0.0,
        "streaming.commit_ms": sum(b["commit_ms"] for b in batches) / npass,
        "streaming.state_rows": sum(state.values()) / npass,
        "trace.wall_s": traced_wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
    }
    selfs = stats.self_times(spans)
    for name in SELF_TIMED:
        m["self.%s_s" % name] = sum(
            selfs[sp["id"]] for sp in spans if sp["name"] == name) / 1000 / npass
    return m


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    classes = build(root)
    if not os.path.isdir(DATA_DIR):
        fail("input tables missing: %s" % DATA_DIR)
    queries = WORKLOADS[args.workload]["queries"]
    rundir = os.path.join(root, BUILD_DIR, "run-%d" % os.getpid())
    try:
        result, check_dir = run_jvm(classes, rundir, queries, args.seed,
                                    args.seconds, args.trace == 1)
        bad = check(queries, result["checks"], check_dir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    report(args, result, bad, root)


def report(args, result, bad, root):
    samples = result["samples"]
    timed = [s for s in samples if s["mode"] == "plain"]
    attempted = len(timed)
    failed = sum(1 for s in timed if s["error"] or s["q"] in bad)
    for q, why in sorted(bad.items()):
        print("WRONG %s: %s" % (q, why))
    queries = WORKLOADS[args.workload]["queries"]
    print("workload %s: seed %d, %d cores, %d queries, %d timed samples in "
          "%.1f s, closed loop with one client"
          % (args.workload, args.seed, cores(), len(queries), attempted,
             result["loop_s"]))
    setup_s = result["session_start_s"] + result["warmup_s"]
    # Every timed sample counts, a wrong or failed one too, so that a
    # broken query cannot read as a speed-up; `correct` is then false.
    e2e = end_to_end(timed, setup_s)
    every = [s["wall_s"] for s in timed]
    tail = stats.tail_percentile(every)
    lines = [
        ("setup_s", e2e["setup_s"], "s", 1, ""),
        ("wall_s", e2e["wall_s"], "s", attempted, ""),
        ("geomean_s", e2e["geomean_s"], "s", attempted, ""),
        ("query_p50_s", statistics.median(every), "s", attempted, ""),
        ("query_tail_s", tail[0] if tail else None, "s", attempted,
         ", p%.1f" % tail[1] if tail else
         ", needs %d samples" % (stats.TAIL_BEYOND + 1)),
        ("failed_frac", failed / attempted, "ratio", attempted, ""),
        ("old_gen_peak_mb", e2e["old_gen_peak_mb"], "MB", attempted, ""),
    ]
    for name, value, unit, n, note in lines:
        shown = "%12.4f" % value if value is not None else "%12s" % "n/a"
        print("  %-16s %s %-5s n=%d%s" % (name, shown, unit, n, note))
    for q, walls in sorted(per_query(timed, "wall_s").items()):
        print("    %-28s median %8.4f s  n=%d%s" % (
            q, statistics.median(walls), len(walls), "  WRONG" if q in bad else ""))
    metrics, listed = e2e, END_TO_END
    if args.trace:
        metrics, listed = per_layer(result, cores()), PER_LAYER
        for name, unit, _ in PER_LAYER:
            print("  %-28s %14.4f %s" % (name, metrics[name], unit))
        write_trace(root, args, samples, result["spans"])
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit, _ in listed if name in metrics},
    }))


def write_trace(root, args, samples, spans):
    """Spans as JSON lines plus each traced query record (its counts and
    plan sha) under .bench_build/traces/."""
    d = os.path.join(root, BUILD_DIR, "traces")
    os.makedirs(d, exist_ok=True)
    base = os.path.join(d, "%s-seed%d" % (args.workload, args.seed))
    with open(base + ".spans.jsonl", "w") as fh:
        for sp in spans:
            fh.write(json.dumps(sp) + "\n")
    with open(base + ".queries.json", "w") as fh:
        json.dump([s for s in samples if s["mode"] == "traced"], fh, indent=1)
    log("trace written to %s.*" % base)


if __name__ == "__main__":
    main()
