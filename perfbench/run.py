#!/usr/bin/env python3
"""The repository's benchmark: one command, named workloads, fixed metrics.

    python3 perfbench/run.py --workload catalog_sf01 --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program and the JVM
harness from source (cached by a digest of the sources), prepares the
workload's inputs, starts a fresh JVM, measures its set-up, runs the
workload in it, checks the outputs, and prints one JSON object as the last
line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. Details of each run (every sample, the rig and
provenance stamp, spans, the fixed-cost attribution table) are written to
`.perfbench/results/`. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # the generators and selfcheck are loaded as modules

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")

# The catalog tables: byte-for-byte copies of the sf0.1 tables of the
# repository's test data that CATALOG_SF01 reads. The run seed sets the
# warm passes' query order.
TABLES = os.path.join(HERE, "fixtures", "sf0.1")

# From every 8th name of the sorted SparkEntry.queries keys (starting at
# ab_cuped: 44 names over all 13 operator modules), the six with the
# lowest warm time on the 4-core rig that come from distinct modules. Cheap
# queries are the point: their time is the per-query fixed cost. A run
# compiles 63 generated classes for them; with the cheapest Dedup query as
# well (over 100, the size of Spark's codegen cache) a quarter of the runs
# recompiled classes on every warm pass and read up to 70 % slower.
CATALOG_SF01 = [
    "agg_stringagg", "corpus_resume_skip", "event_burst",
    "ml_pr_curve", "snapshot_export", "vector_dim_stats",
]

# A run makes --seconds / pass_s warm passes (rounds), at least `min_warm`:
# `pass_s` is about a late warm pass's time on the 4-core rig. A fixed
# amount of work, because a time window that admitted more passes on a
# faster run would also warm that run's JIT further and widen the spread
# between runs.
WORKLOADS = {
    "catalog_sf01": {"kind": "catalog", "queries": CATALOG_SF01,
                     "pass_s": 1, "min_warm": 3},
    "etl_jobs": {"kind": "etl", "largest": 6000, "projects": 1, "pass_s": 4, "min_warm": 1},
}

# first_op_s (the cold pass's first operation) and op_p50_s (the median
# over operations of the best warm time) are printed and kept in the result
# file but not among these: in a set of ten runs of the same code each
# spread past 0.25 (quartile distance over median) on catalog_sf01, 0.30
# and 0.26. The traced run reports the first as cold.first_op_s.
END_TO_END = [("setup_s", "s"), ("cold_total_s", "s"), ("warm_total_s", "s"),
              ("retained_heap_mb", "MB")]

# operator modules of CATALOG_SF01, one per-layer metric each
MODULES = ["Corpus", "MlEval", "Pipeline", "Relational", "Streaming", "Vectors"]

# a run must end within 180 s; the JVMs get this much of it
JVM_TIMEOUT_S = 160


def layer_unit(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_per_resource", "_per_input_byte", "core_busy", "overhead")):
        return "ratio"
    return "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha_files(paths, base):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def tree(*dirs):
    """Every file under `dirs`, leaving out build output and hidden dirs."""
    out = []
    for d in dirs:
        if os.path.isfile(d):
            out.append(d)
            continue
        for r, ds, fs in os.walk(d):
            ds[:] = [x for x in ds if x != "target" and not x.startswith(".")]
            out += [os.path.join(r, f) for f in fs]
    return out


# ---------------------------------------------------------------- build

def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")))


def build():
    """Compile the program and the harness; returns (classpath, jvm flags)."""
    srcs = tree(os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
                os.path.join(ROOT, "src", "main"), HARNESS)
    srcs = [p for p in srcs if p.endswith((".scala", ".java", ".sbt", ".properties"))]
    key = sha_files(srcs, ROOT)
    stamp = os.path.join(STATE, "build", key + ".json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return json.load(f), key
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log(f"building program and harness (sources {key[:12]})")
    t0 = time.time()
    with open(os.path.join(STATE, "build", "sbt.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchPrepare"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        raise SystemExit(f"build failed (rc={rc}); see .perfbench/build/sbt.log")
    target = os.path.join(HARNESS, "target")
    with open(os.path.join(target, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(target, "jvm-flags.txt")) as f:
        flags = [x for x in f.read().split("\n") if x and not x.startswith("-Xmx")]
    info = {"classpath": cp, "flags": flags, "build_s": time.time() - t0}
    with open(stamp, "w") as f:
        json.dump(info, f)
    return info, key


def cpu_seconds():
    """(busy, stolen) CPU seconds of the machine so far, all CPUs, from
    /proc/stat ((0, 0) if unknown). Stolen is time the hypervisor ran other
    guests while this one had work to run."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        hz = os.sysconf("SC_CLK_TCK")
        return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz
    except (OSError, IndexError, ValueError):
        return 0.0, 0.0


def unstolen(busy, stolen):
    """The share of runnable CPU time the hypervisor left to this machine."""
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0


def spark_heap():
    """The heap the repository's test suite runs Spark with
    (SPARK_DRIVER_MEM, else half the machine's memory, 2g to 8g)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


# ------------------------------------------------------------- fixtures

def load_module(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fhir_projects(out, largest, projects, seed):
    shutil.rmtree(out, ignore_errors=True)
    load_module(os.path.join(HERE, "gen_fhir.py"), "gen_fhir").generate(out, largest, seed, projects)
    return out


# ------------------------------------------------------------- the JVMs

def page_in(paths):
    """Read files once so they sit in the page cache: the host evicts it
    between runs, and set-up and the cold pass would otherwise also time
    reading some hundred MB of jars from disk."""
    for p in paths:
        if os.path.isfile(p):
            with open(p, "rb") as f:
                while f.read(1 << 20):
                    pass


def run_jvm(info, args, harness_args, work):
    """Start the workload JVM; return its set-up (spawn-to-READY wall time
    and the share of CPU the hypervisor left meanwhile) and its raw output.
    One set-up per run: a second, set-up-only JVM would take 8-10 s of
    every run from the warm passes, whose spread limits the benchmark;
    set-up is compared as its median over a set of runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    java = (["java"] + info["flags"] + [f"-Xmx{spark_heap()}", f"-Djava.io.tmpdir={tmp}",
            "-cp", info["classpath"], "perfbench.Harness", "--cores", str(args.cores)])
    page_in(info["classpath"].split(os.pathsep))
    os.sync()  # the previous run's writes are flushed before timing starts
    setup = None
    with open(os.path.join(work, "jvm.log"), "w") as err:
        cpu0 = cpu_seconds()
        t0 = time.monotonic()
        p = subprocess.Popen(java + harness_args, cwd=work, env=env, text=True,
                             stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=err)
        killer = threading.Timer(JVM_TIMEOUT_S, p.kill)
        killer.start()
        try:
            if p.stdout.readline().strip() == "READY":
                setup = time.monotonic() - t0
                cpu1 = cpu_seconds()
                setup = {"wall_s": setup,
                         "share": unstolen(cpu1[0] - cpu0[0], cpu1[1] - cpu0[1])}
            p.communicate()
        finally:
            killer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or setup is None:
        raise SystemExit(f"harness JVM failed (rc={p.returncode}); see {work}/jvm.log")
    with open(os.path.join(work, "raw.json")) as f:
        return setup, json.load(f)


# --------------------------------------------------------------- checks

def oracle_check(tables, digest, outputs, names, errors):
    """Compare each query's cold-pass and check-pass outputs with its DuckDB
    oracle, using the hashing of scripts/selfcheck.py. Oracle digests are
    cached by the fixture and the SQL text; the Spark side is hashed on
    every run."""
    import duckdb
    sc = load_module(os.path.join(ROOT, "scripts", "selfcheck.py"), "selfcheck")
    with open(os.path.join(outputs, "oracle_sql.json")) as f:
        oracle = json.load(f)
    cache_dir = os.path.join(STATE, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in os.listdir(tables):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(tables, t)}'")
    bad = {}
    for n in names:
        if n not in oracle:
            bad[n] = "no oracle"
            continue
        key = hashlib.sha256((digest + "\0" + oracle[n]).encode()).hexdigest()
        cpath = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cpath):
            with open(cpath) as f:
                want = json.load(f)
        else:
            o = con.sql(oracle[n])
            cols, rows = list(o.columns), o.fetchall()
            want = {"cols": sorted(cols), "rows": len(rows), "hash": sc.table_hash(cols, rows)}
            with open(cpath, "w") as f:
                json.dump(want, f)
        for kind, key in (("cold", n), ("check", "check:" + n)):
            if key in errors:  # the query failed: counted already
                continue
            try:
                s = con.sql(f"SELECT * FROM '{os.path.join(outputs, kind, n)}/*.parquet'")
                cols, rows = list(s.columns), s.fetchall()
                got = {"cols": sorted(cols), "rows": len(rows), "hash": sc.table_hash(cols, rows)}
            except Exception as e:  # unreadable output counts as a mismatch
                got = {"error": str(e)[:200]}
            if got != want:
                bad[f"oracle:{kind}:{n}"] = (f"oracle mismatch: spark {got.get('rows')} rows, "
                                            f"oracle {want['rows']} rows")
    return bad


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def summarize(wl, raw, setup):
    """End-to-end metrics. Every time is a wall time less the share of it
    the hypervisor stole: on the shared 4-vCPU VM the host takes up to a
    third of the CPU for minutes at a time (`cpu_steal_s` in the stamp),
    which lengthens a whole run. An operation's wall time is scaled by
    busy / (busy + stolen) CPU over its pass (round), read from /proc/stat
    around each operation; set-up's over spawn to READY. On a quiet host the
    two are equal. The plain wall times are kept under `extra` as `wall.*`."""
    share = {}
    for o in raw["ops"]:
        if "cpu_busy_s" in o:
            b, st = share.get(o["pass"], (0.0, 0.0))
            share[o["pass"]] = (b + o["cpu_busy_s"], st + o["cpu_steal_s"])
    share = {p: unstolen(b, st) for p, (b, st) in share.items()}
    ops = [dict(o, t_s=o["wall_s"] * share.get(o["pass"], 1.0))
           for o in raw["ops"] if "wall_s" in o and not o.get("error")]
    etl = wl["kind"] == "etl"
    timed = [o for o in ops if o["op"] != "store"]
    cold = [o for o in timed if o["pass"] == 0]
    warm = [o for o in timed if o["pass"] > 0]
    # a traced run's plain passes, when it has them: its traced ones carry
    # the tracing overhead
    sample = [o for o in warm if not o["traced"]] or warm
    # An operation's warm time is its best warm pass, as the repository's
    # Bench reports warm: passes get faster while the JIT warms (catalog
    # passes for about ten passes, etl puts for about three rounds), and
    # the host slows whole passes.
    def figures(k):
        per_op = {}
        for o in sample:
            per_op.setdefault((o["op"], o.get("project")), []).append(o[k])
        best = {i: min(v) for i, v in per_op.items()}
        prim = [v for (op, _), v in best.items() if not etl or op == "put"]
        return {"first_op_s": cold[0][k] if cold else 0.0,
                "cold_total_s": sum(o[k] for o in cold),
                "warm_total_s": sum(best.values()),
                "op_p50_s": median(prim)}, len(prim)

    e2e, n_prim = figures("t_s")
    e2e = dict(e2e, setup_s=setup["wall_s"] * setup["share"],
               retained_heap_mb=raw["jvm"]["retained_heap_mb"])
    samples = {"setup_s": 1, "first_op_s": 1, "cold_total_s": len(cold),
               "warm_total_s": len(sample), "op_p50_s": n_prim, "retained_heap_mb": 1}
    every = [o["t_s"] for o in sample if not etl or o["op"] == "put"]
    extra = {"op_p90_s": pct(every, 0.9), "op_p90_n": len(every),
             "warm_passes": len({o["pass"] for o in warm}),
             "wall.setup_s": setup["wall_s"], "setup_unstolen": setup["share"]}
    extra.update({"wall." + k: v for k, v in figures("wall_s")[0].items()})
    extra["unstolen_by_pass"] = [round(v, 4) for _, v in sorted(share.items())]
    if etl:
        for verb in ("put", "read", "get", "delete"):
            v = [o["t_s"] for o in sample if o["op"] == verb]
            extra[f"{verb}_p50_s"] = median(v)
            extra[f"{verb}_n"] = len(v)
        puts = [o for o in sample if o["op"] == "put"]
        extra["import_resources_per_s"] = (sum(o["resources"] for o in puts) /
                                           max(1e-9, sum(o["t_s"] for o in puts)))
    return e2e, samples, extra


def per_layer(wl, raw, cores):
    """Per-layer metrics of a traced run, over its traced warm pass(es)."""
    jvm = raw["jvm"]
    passes = raw["passes"]
    tr = [p for p in passes if p["traced"] and p["pass"] > 0]
    # warm pass 1 is still much the slowest: left out of the overhead
    plain = [p for p in passes if not p["traced"] and p["pass"] > 1]
    ops = [o for o in raw["ops"] if "wall_s" in o and not o.get("error")]
    t_ops = [o for o in ops if o["traced"] and o["pass"] > 0]
    cold_ops = [o for o in ops if o["pass"] == 0]

    def avg_pass(k):
        return statistics.mean(p.get(k, 0.0) for p in tr) if tr else 0.0

    def sum_ops(k, pred=lambda o: True):
        n = max(1, len(tr))
        return sum(o.get(k, 0.0) for o in t_ops if pred(o)) / n

    m = {"session.create_s": jvm["session.create_s"],
         "cold.first_op_s": cold_ops[0]["wall_s"] if cold_ops else 0.0}
    catalog = wl["kind"] == "catalog"
    m["plan.build_s"] = sum_ops("build_s") if catalog else 0.0
    m["plan.eager_jobs"] = sum_ops("plan.eager_jobs") if catalog else 0.0
    for mod in MODULES:
        m[f"module.{mod}.warm_s"] = sum_ops("wall_s", lambda o, mod=mod: o.get("module") == mod)
    for k in ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
              "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
              "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
              "exec.input_records", "exec.output_records", "checkpoint_s"):
        m[k] = sum_ops(k)
    m["codegen.compiles"] = sum(o.get("codegen.compiles", 0) for o in cold_ops)
    m["codegen.compile_s"] = sum(o.get("codegen.compile_s", 0.0) for o in cold_ops)
    m["codegen.warm_compiles"] = sum_ops("codegen.compiles")
    m["codegen.warm_compile_s"] = sum_ops("codegen.compile_s")
    walls = sum_ops("wall_s")
    m["exec.core_busy"] = m["exec.task_run_s"] / (walls * cores) if walls > 0 else 0.0
    m["artifacts.entries"] = passes[-1].get("artifacts.entries", 0)
    m["artifacts.trained"] = sum(o.get("artifacts.trained", 0) for o in cold_ops)
    for k in ("jvm.gc_s", "jvm.jit_s", "jvm.code_cache_mb", "jvm.metaspace_mb"):
        m[k] = jvm[k]
    # fixed-cost attribution over the traced warm pass (catalog) or round:
    # the sink's wall time less its Catalyst phases, codegen and task-busy
    # wall is time spent scheduling and between jobs
    busy = sum_ops("exec.busy_wall_s")
    sink_catalyst = (m["catalyst.analysis_s"] + m["catalyst.optimization_s"] +
                     m["catalyst.planning_s"])
    sink = sum_ops("sink_s") if catalog else walls
    m["attr.task_busy_s"] = busy
    m["attr.sched_gap_s"] = max(0.0, sink - sink_catalyst - m["codegen.warm_compile_s"] - busy)
    # the query's own analysis runs inside Q.fn, before the sink
    m["catalyst.analysis_s"] += sum_ops("plan.analysis_s")
    # pipeline layers (etl_jobs)
    puts = [o for o in t_ops if o["op"] == "put"]
    stores = [o for o in raw["ops"] if o["op"] == "store" and o["pass"] > 0]
    res = sum(o["resources"] for o in puts)
    m["ndjson.parse_s"] = avg_pass("ndjson.parse_s")
    m["etl.input_records_per_resource"] = (sum(o["exec.input_records"] for o in puts) / res
                                          if res else 0.0)
    m["store.output_records_per_resource"] = (sum(o["exec.output_records"] for o in puts) / res
                                             if res else 0.0)
    sin = sum(o["input_bytes"] for o in stores)
    m["store.bytes_per_input_byte"] = sum(o["bytes"] for o in stores) / sin if sin else 0.0
    m["store.files_per_put"] = statistics.mean(o["files"] for o in stores) if stores else 0.0
    # pipeline verbs over every warm job of the run (traced and plain)
    warm_ops = [o for o in ops if o["pass"] > 0]
    for verb in ("put", "read", "get", "delete"):
        m[f"pipeline.{verb}_p50_s"] = median([o["wall_s"] for o in warm_ops if o["op"] == verb])
    wputs = [o for o in warm_ops if o["op"] == "put"]
    m["pipeline.import_resources_per_s"] = (sum(o["resources"] for o in wputs) /
                                            sum(o["wall_s"] for o in wputs)) if wputs else 0.0
    # self time per layer, from the spans (recorded on traced warm passes)
    selfs = raw.get("self_s", {})
    n = max(1, len(tr))
    for layer, name in (("query", "self.harness_s"), ("sink", "self.sink_s"),
                        ("pipeline.put", "self.put_s"), ("pipeline.read", "self.read_s"),
                        ("pipeline.get", "self.get_s"), ("pipeline.delete", "self.delete_s"),
                        ("sources.Ndjson", "self.ndjson_s")):
        m[name] = selfs.get(layer, 0.0) / n
    m["self.plan_s"] = sum(v for k, v in selfs.items() if k.startswith("module.")) / n
    # tracing overhead: the timed operations of traced warm passes against
    # those of the plain ones of this run
    def op_sum(p):
        return sum(o["wall_s"] for o in ops if o["pass"] == p["pass"] and o["op"] != "store")
    t_sum = statistics.mean(op_sum(p) for p in tr) if tr else 0.0
    p_sum = statistics.mean(op_sum(p) for p in plain) if plain else 0.0
    m["trace.overhead"] = t_sum / p_sum - 1.0 if t_sum and p_sum else 0.0
    return m


def attribution_table(raw):
    """Per-query split of warm wall time into layers, averaged over the
    traced warm passes: plan build (Q.fn, including the query's analysis
    and eager jobs), the sink's Catalyst phases, codegen compile,
    scheduling gap and task-busy wall."""
    per_q = {}
    for o in raw["ops"]:
        if o.get("traced") and o["pass"] > 0 and "sink_s" in o:
            cat = o["catalyst.analysis_s"] + o["catalyst.optimization_s"] + o["catalyst.planning_s"]
            gap = max(0.0, o["sink_s"] - cat - o["codegen.compile_s"] - o["exec.busy_wall_s"])
            per_q.setdefault(o["op"], []).append(
                (o["wall_s"], o["build_s"], cat, o["codegen.compile_s"], gap,
                 o["exec.busy_wall_s"], o["plan.eager_jobs"], o["exec.jobs"]))
    head = ("query", "wall_s", "plan_s", "catalyst_s", "codegen_s", "sched_gap_s",
            "task_busy_s", "eager_jobs", "jobs")
    lines = ["%-24s %8s %8s %10s %9s %11s %11s %10s %6s" % head]
    rows = [(q,) + tuple(statistics.mean(c) for c in zip(*v)) for q, v in per_q.items()]
    for r in sorted(rows, key=lambda r: -r[1]):
        lines.append("%-24s %8.3f %8.3f %10.3f %9.3f %11.3f %11.3f %10.1f %6.1f" % r)
    return lines


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Spark runs local[cores] on every CPU this process may use (nproc),
    # passed to the JVM explicitly
    args.cores = len(os.sched_getaffinity(0))
    if not program_present():
        log("the program's sources (build.sbt, src/main/scala) are not here; run from a checkout")
        return 2
    wl = WORKLOADS[args.workload]
    info, src_key = build()

    work = os.path.join(STATE, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    warm = max(wl["min_warm"], int(args.seconds / wl["pass_s"]))
    hargs = ["--kind", wl["kind"], "--seed", str(args.seed), "--warm", str(warm),
             "--trace", str(args.trace), "--work", work, "--out", os.path.join(work, "raw.json")]
    if wl["kind"] == "catalog":
        data = TABLES
        hargs += ["--data", data, "--queries", ",".join(wl["queries"])]
    else:
        data = fhir_projects(os.path.join(work, "fhir"), wl["largest"], wl["projects"], args.seed)
        hargs += ["--data", data]
    digest = sha_files(tree(data), data)

    cpu0 = cpu_seconds()
    setup, raw = run_jvm(info, args, hargs, work)
    steal = cpu_seconds()[1] - cpu0[1]
    errors = dict(raw["errors"])
    timed = [o for o in raw["ops"] if o["op"] != "store"]
    # the timed operations and the untimed check pass (round)'s
    failed = sum(1 for o in timed if o.get("error"))
    failed += sum(1 for k in errors if k.startswith("check:"))
    if wl["kind"] == "catalog":
        attempted = len(timed) + len(wl["queries"])
        bad = oracle_check(data, digest, os.path.join(work, "outputs"), wl["queries"], errors)
        errors.update(bad)
        failed += len(bad)
    else:
        attempted = len(timed) + 3 * wl["projects"]

    e2e, samples, extra = summarize(wl, raw, setup)
    stamp = dict(raw["rig"], nproc=args.cores, seed=args.seed,
                 workload=args.workload, trace=args.trace, sources_sha256=src_key,
                 fixture_sha256=digest, cpu_steal_s=steal)
    result = {"stamp": stamp, "end_to_end": e2e, "samples": samples, "extra": extra,
              "errors": errors}
    if args.trace:
        layers = per_layer(wl, raw, args.cores)
        result["per_layer"] = layers
        result["spans"] = raw.get("spans", [])
        if wl["kind"] == "catalog":
            result["attribution"] = attribution_table(raw)
            print("\n".join(result["attribution"]))
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    res_path = os.path.join(STATE, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(res_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"rig": stamp}))
    for k in e2e:
        print(f"{k:16s} {e2e[k]:12.4f}  (n={samples[k]})")
    for k, v in sorted(extra.items()):
        print(f"{k:22s} {v:12.4f}" if isinstance(v, float) else f"{k:22s} {v}")
    for k, v in sorted(errors.items()):
        print(f"ERROR {k}: {v}")
    for d in os.listdir(work):  # keep the raw record and the JVM log
        if d not in ("raw.json", "jvm.log"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
