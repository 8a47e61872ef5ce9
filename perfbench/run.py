#!/usr/bin/env python3
"""graft benchmark: one command that builds the engine from source, makes
the inputs from a seed, runs one workload closed-loop on local[nproc],
checks every output, and prints the metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run it from the root of a checkout. The last line of standard output is
one JSON object {"correct", "attempted", "failed", "metrics"}; the line
before it is the run record (environment stamps, sample counts, tail
percentiles, failures). With --trace 0 the metrics are the end-to-end
ones, with --trace 1 the per-layer ones. The exit code is nonzero when
any operation threw or failed its output check. See perfbench/README.md.

Maintenance: `--make-goldens` regenerates perfbench/goldens.json and
checks each golden against the DuckDB oracle SQL once.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

# The query workloads read one fixed set of tables: the run's seed only
# permutes query order, so every run does the same work and the goldens
# below stay valid.
TABLE_SEED = 42
TABLE_SF = 0.01
MAX_PASSES = 4  # measured passes an ingest run has inputs for
# 20k-block batches, the size of the repository's streaming throughput
# benchmark (graft.tools.StreamThroughputBench); the warm-up batch only
# has to compile the plans
CHAIN = {"warmup_blocks": 2000, "blocks_per_batch": 20000}
# 10k-document micro-batches, the size of the ingest figures the
# benchmark was sized from (perfbench/README.md)
DOCS = {"docs_per_batch": 10000}
WORKLOADS = ("queries", "ingest")
MODULES = ("graph", "sim", "pipeline", "dedup", "text", "ops", "plans",
           "functions")
KERNELS = ("dot", "cosine", "minhash", "simhash", "topk", "countmin",
           "hist_quantiles", "lsh_sigs")
CHAIN_LAYERS = ("ingest.parse", "ops.flatten", "ops.output_flows",
                "ops.resolve", "ops.netflow", "ops.volume", "ops.transfers")
CALL_METRICS = ("jobs.raw_persist", "jobs.vol_transfer", "jobs.rollup",
                "graph.pagerank", "jobs.dedup_batch", "io.compact")
JVM_TIMEOUT_S = 165
JVM_HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    """Aggregate (busy, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v) - v[3] - v[4] - v[7], v[7]
    except (OSError, ValueError, IndexError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"),
            os.path.join(root, "build.sbt"),
            os.path.join(root, "project", "build.properties"),
            os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, state):
    """Compile the engine and the harness with sbt, once per source
    state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise BenchError("no engine sources under src/main/scala/graft: "
                         "run from the root of a graft checkout")
    stamp = source_stamp(root)
    cp_file = os.path.join(state, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found")
    # every JVM the sbt script starts keeps its perf data to itself
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(state, "tmp")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.boot.lock=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(tmp, exist_ok=True)
    log("building engine and harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines()
             if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise BenchError("sbt build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# --------------------------------------------------------------- inputs

def tables_dir(state):
    """The query workloads' tables, generated once per checkout."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(state, "tables", f"s{TABLE_SEED}_sf{TABLE_SF}_{key}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(d, TABLE_SEED, TABLE_SF)
        open(os.path.join(d, "_done"), "w").close()
    return d


def write_chain_inputs(data, seed):
    """Batch 0 is the warm-up's; pass n ingests batch n."""
    sizes = [CHAIN["warmup_blocks"]] + [CHAIN["blocks_per_batch"]] * MAX_PASSES
    lines, facts = gen.blocks(seed, sum(sizes))
    os.makedirs(os.path.join(data, "blocks"))
    cum = {"resolved_cum": [], "blocks_cum": [], "bytes_cum": [],
           "first_height": []}
    r = b = nbytes = lo = 0
    for i, n in enumerate(sizes):
        chunk = lines[lo:lo + n]
        with open(os.path.join(data, "blocks", f"b{i:03d}.jsonl"), "w") as f:
            f.write("\n".join(chunk) + "\n")
        r += sum(facts["resolved"][lo:lo + n])
        b += n
        nbytes += sum(len(x) + 1 for x in chunk)
        cum["resolved_cum"].append(r)
        cum["blocks_cum"].append(b)
        cum["bytes_cum"].append(nbytes)
        cum["first_height"].append(json.loads(chunk[0])["py/state"]["height"])
        lo += n
    import pyarrow as pa
    import pyarrow.parquet as pq
    units, price, dec = zip(*facts["prices"])
    pq.write_table(pa.table({"unit": list(units),
                             "last_price_ada": list(price),
                             "decimals": pa.array(dec, pa.int32())}),
                   os.path.join(data, "prices.parquet"))
    with open(os.path.join(data, "chain.json"), "w") as f:
        json.dump(dict(cum, batches=len(sizes)), f)


def write_doc_inputs(data, seed):
    """Batch 0 is the warm-up's; pass n ingests batch n."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    n_batches = MAX_PASSES + 1
    batches, facts = gen.documents(seed, n_batches, DOCS["docs_per_batch"])
    os.makedirs(os.path.join(data, "docs"))
    bytes_cum, nbytes = [], 0
    for i, rows in enumerate(batches):
        ids, texts, sources = zip(*rows)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": list(texts),
                                 "source": list(sources)}),
                       os.path.join(data, "docs", f"d{i:03d}.parquet"))
        nbytes += sum(len(t.encode()) for t in texts)
        bytes_cum.append(nbytes)
    with open(os.path.join(data, "docs.json"), "w") as f:
        json.dump({"fresh": facts["fresh"], "dup_share": facts["dup_share"],
                   "bytes_cum": bytes_cum, "batches": n_batches}, f)


def prepare(state, workload, seed, run_dir):
    data = os.path.join(run_dir, "data")
    os.makedirs(data)
    os.symlink(tables_dir(state), os.path.join(data, "tables"))
    if workload == "ingest":
        write_chain_inputs(data, seed)
        write_doc_inputs(data, seed)
    return data


# ------------------------------------------------------------------ JVM

def run_jvm(classpath, run_dir, args, timeout):
    """Runs the harness; returns its record, or raises on a crash."""
    out = os.path.join(run_dir, "record.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", classpath, "perfbench.Main", "--out", out,
            "--work", os.path.join(run_dir, "work")] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"harness exceeded {timeout:.0f} s")
        except BaseException:
            p.kill()
            p.wait()
            raise
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"harness exited with code {code}")
    with open(out) as f:
        return json.load(f)


# -------------------------------------------------------------- metrics

def is_harness(op):
    return op["module"] == "harness"


def dur(op):
    return (op["end_ns"] - op["start_ns"]) / 1e9


def measured(record, traced_only=None):
    """Workload operations of the measured passes, grouped by pass. With
    traced_only set, only the pass that was (or those that were not)
    traced."""
    traced_pass = record["facts"].get("traced_pass")
    by_pass = {}
    for op in record["ops"]:
        if op["pass"] < 1 or is_harness(op):
            continue
        if traced_only is not None and \
                (op["pass"] == traced_pass) != traced_only:
            continue
        by_pass.setdefault(op["pass"], []).append(op)
    return by_pass


LAYER_OPS = set(CHAIN_LAYERS) | {"graph.pagerank"} | {
    f"functions.{k}" for k in KERNELS}


def workload_ops(ops):
    """The workload's own calls that succeeded, without the traced-only
    layer probes."""
    return [o for o in ops if o["name"] not in LAYER_OPS and o["ok"]]


def commits(workload, ops):
    """Commit latencies: on `ingest` one per micro-batch (a chain batch
    is committed by its raw persist and vol/transfer jobs together, a
    document batch by the dedup job), on `queries` one per query."""
    if workload != "ingest":
        return [dur(o) for o in ops]
    by_batch = {}
    for o in ops:
        if o["name"] in ("jobs.raw_persist", "jobs.vol_transfer",
                         "jobs.dedup_batch"):
            key = (o["name"] == "jobs.dedup_batch", o["facts"]["batch"])
            by_batch[key] = by_batch.get(key, 0.0) + dur(o)
    return list(by_batch.values())


def end_to_end(record, workload):
    """As graft.Bench does, each operation counts with its fastest run
    over the measured passes: that filters the host's one-sided noise.
    Commit latency keeps every sample."""
    passes = {p: workload_ops(ops) for p, ops in measured(record).items()}
    if not passes:
        raise BenchError("no measured pass")
    all_ops = [o for ops in passes.values() for o in ops]
    by_name = {}
    for o in all_ops:
        by_name.setdefault(o["name"], []).append(dur(o))
    per_pass = {n: len(v) / len(passes) for n, v in by_name.items()}
    best = {n: min(v) for n, v in by_name.items()}
    pass_s = sum(best[n] * per_pass[n] for n in best)
    commit = commits(workload, all_ops)
    values = {
        "setup_s": (record["setup_s"], 1),
        "pass_s": (pass_s, len(passes)),
        "op_geomean_s": (stats.geomean(list(best.values())), len(all_ops)),
        "commit_p50_s": (stats.median(commit), len(commit)),
    }
    tails = {"commit_s": stats.tail_percentile(commit)}
    return values, tails


def per_layer(record, workload, cores):
    m = {}
    untraced = measured(record, traced_only=False)
    traced = measured(record, traced_only=True)
    if not traced:
        raise BenchError("no traced pass")
    tpass = [workload_ops(ops) for ops in traced.values()]

    def per_pass(f):
        return stats.median([f(ops) for ops in tpass])

    def csum(ops, key):
        return sum(o["counters"][key] for o in ops)

    wall = per_pass(lambda ops: sum(dur(o) for o in ops))
    m["spark.jobs"] = per_pass(lambda ops: csum(ops, "jobs"))
    m["spark.stages"] = per_pass(lambda ops: csum(ops, "stages"))
    m["spark.tasks"] = per_pass(lambda ops: csum(ops, "tasks"))
    m["spark.task_s"] = per_pass(lambda ops: csum(ops, "task_ms")) / 1e3
    m["spark.idle_frac"] = 1 - m["spark.task_s"] / (wall * cores) \
        if wall else 0.0
    m["spark.wait_s"] = per_pass(lambda ops: csum(ops, "wait_ms")) / 1e3
    m["spark.gc_s"] = per_pass(lambda ops: csum(ops, "gc_ms")) / 1e3
    m["spark.shuffle_read_bytes"] = per_pass(
        lambda ops: csum(ops, "shuffle_read"))
    m["spark.shuffle_write_bytes"] = per_pass(
        lambda ops: csum(ops, "shuffle_write"))
    m["spark.spill_bytes"] = per_pass(lambda ops: csum(ops, "spill"))
    m["spark.cuts"] = per_pass(lambda ops: csum(ops, "cuts"))
    m["spark.cut_bytes"] = per_pass(lambda ops: csum(ops, "cut_bytes"))
    m["codegen.compiles"] = per_pass(lambda ops: csum(ops, "compiles"))
    m["codegen.compile_s"] = per_pass(
        lambda ops: csum(ops, "compile_ms")) / 1e3
    m["codegen.setup_compiles"] = record["facts"]["setup_compiles"]
    m["codegen.setup_compile_s"] = record["facts"]["setup_compile_ms"] / 1e3

    # query phases, from the spans of the traced passes
    ops_pass = {o["id"]: o["pass"] for ops in traced.values() for o in ops}
    phase = {}
    for s in record["spans"]:
        if s["op"] in ops_pass and s["name"].startswith("query."):
            key = (s["name"], ops_pass[s["op"]])
            phase[key] = phase.get(key, 0) + (s["end_ns"] - s["start_ns"])
    for name in ("query.build", "query.plan", "query.exec"):
        m[f"{name}_s"] = stats.median(
            [phase.get((name, p), 0) for p in traced]) / 1e9
    # self time of the operation spans that have traced children: the
    # part of each call that no traced phase accounts for
    selfs = stats.self_times(record["spans"])
    parents = {s["parent"] for s in record["spans"]}
    m["trace.unattributed_s"] = stats.median([sum(
        selfs[s["id"]] for s in record["spans"]
        if s["parent"] == -1 and s["id"] in parents
        and ops_pass.get(s["op"]) == p) for p in traced]) / 1e9

    for fam in ("iterative", "single_pass"):
        m[f"family.{fam}_s"] = per_pass(lambda ops: sum(
            dur(o) for o in ops if o["facts"].get("family") == fam))
    for mod in MODULES:
        m[f"{mod}.s"] = per_pass(lambda ops: sum(
            dur(o) for o in ops if o["module"] == mod))
        m[f"{mod}.jobs"] = per_pass(lambda ops: sum(
            o["counters"]["jobs"] for o in ops if o["module"] == mod))

    every = [o for ops in traced.values() for o in ops]
    for k in KERNELS:
        runs = [o for o in record["ops"] if o["name"] == f"functions.{k}"]
        m[f"functions.{k}_ns_row"] = stats.median(
            [(o["end_ns"] - o["start_ns"]) / o["facts"]["rows"]
             for o in runs]) if runs else 0.0
    for name in CHAIN_LAYERS + CALL_METRICS:
        m[f"{name}_s"] = stats.median(
            [dur(o) for o in every if o["name"] == name])
    hits = [o for o in record["ops"] if o["name"] == "probe.resolve_hits"]
    outpoints = sum(o["facts"]["outpoints"] for o in hits)
    m["ops.resolve_hit_ratio"] = sum(
        o["facts"]["hits"] for o in hits) / outpoints if outpoints else 0.0

    f = record["facts"]
    batches = f.get("batches", 0)
    m["io.sink_files"] = f.get("sink_files", 0) / batches if batches else 0
    m["io.sink_bytes"] = f.get("sink_bytes", 0) / batches if batches else 0
    m["io.store_files"] = f.get("store_files", 0)
    m["io.files_per_bucket_max"] = f.get("files_per_bucket_max", 0)
    m["io.store_bytes"] = f.get("store_bytes", 0)
    # store ingest: batch times over the measured passes, in order
    batch_t = [dur(o) for p in sorted(set(untraced) | set(traced))
               for o in (untraced.get(p) or traced.get(p))
               if o["name"] == "jobs.dedup_batch" and o["ok"]]
    k = len(batch_t) // 3 or 1
    m["io.batch_growth"] = stats.median(batch_t[-k:]) / stats.median(
        batch_t[:k]) if len(batch_t) > 1 else 0.0
    ingests = [o for o in record["ops"] if o["name"] == "jobs.dedup_batch"]
    offered = DOCS["docs_per_batch"] * len(ingests)
    m["dedup.fresh_ratio"] = sum(
        o["facts"].get("fresh", 0) for o in ingests) / offered \
        if offered else 0.0
    in_bytes = f.get("input_bytes", 0) + f.get("doc_input_bytes", 0)
    disk = f.get("sink_bytes", 0) + f.get("doc_disk_bytes", 0)
    m["bytes_per_input_byte"] = disk / in_bytes if in_bytes else 0.0
    m["peak_storage_mb"] = record["peak_storage_bytes"] / 2 ** 20
    attempted = len(record["ops"])
    m["fail_frac"] = sum(not o["ok"] for o in record["ops"]) / attempted
    base = [sum(dur(o) for o in workload_ops(ops))
            for ops in untraced.values()]
    # a traced pass with its layer probes, without the kernel benchmarks
    # that follow the last pass
    full = [sum(dur(o) for o in ops if not o["name"].startswith("functions."))
            for ops in traced.values()]
    m["trace.overhead_frac"] = stats.median(full) / stats.median(base) - 1 \
        if base else 0.0
    return m


# ------------------------------------------------------------------ CLI

def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-goldens", action="store_true")
    a = ap.parse_args(argv)
    if not a.make_goldens and a.workload is None:
        ap.error("--workload is required")
    return a


def stamps(root, record, load_start, cpu_start):
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    cpu_end = cpu_times()
    steal = None
    if cpu_start and cpu_end:
        busy = cpu_end[0] - cpu_start[0]
        stolen = cpu_end[1] - cpu_start[1]
        steal = stolen / (busy + stolen) if busy + stolen else 0.0
    return {"nproc": os.cpu_count(), "load_start": load_start,
            "load_end": loadavg(), "steal_frac": steal, "git_commit": commit,
            "source_stamp": source_stamp(root)[:16],
            "jvm": record.get("jvm"), "spark": record.get("spark"),
            "conf": record.get("conf")}


def result_line(record, metrics, units):
    """The last line of output. It carries the metrics BENCHMARK.json
    names; a metric it does not name stays in the run record."""
    ops = record["ops"] if record else []
    failed = sum(not o["ok"] for o in ops)
    return {"correct": bool(ops) and failed == 0,
            "attempted": max(len(ops), 1), "failed": failed if ops else 1,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items() if k in units}}


def metric_units():
    """{name: unit} of BENCHMARK.json's metrics, and the names of the
    end-to-end and the per-layer ones."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        b = json.load(f)
    units = {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}
    return units, [m["name"] for m in b["end_to_end"]], \
        [m["name"] for m in b["per_layer"]]


def main(argv=None, launch=run_jvm):
    a = parse(sys.argv[1:] if argv is None else argv)
    root = os.getcwd()
    state = os.path.join(root, ".bench_build")
    if a.make_goldens:
        import goldens
        return goldens.make(root, state, build(root, state),
                            tables_dir(state), launch)
    load_start, cpu_start = loadavg(), cpu_times()
    try:
        units, e2e_names, layer_names = metric_units()
        classpath = build(root, state)
    except (BenchError, OSError, ValueError,
            subprocess.SubprocessError) as e:
        log(f"cannot run: {e}")
        return 2
    t_start = time.time()
    run_dir = os.path.join(state, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record, metrics, error = None, {}, None
    try:
        data = prepare(state, a.workload, a.seed, run_dir)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data,
                ] + (["--goldens", os.path.join(HERE, "goldens.json")] if os.path.exists(os.path.join(HERE, "goldens.json")) else [])
        record = launch(classpath, run_dir, args,
                        JVM_TIMEOUT_S - (time.time() - t_start))
        cores = record.get("cores", os.cpu_count())
        if a.trace:
            metrics = per_layer(record, a.workload, cores)
            tails = {}
            samples = {}
        else:
            values, tails = end_to_end(record, a.workload)
            metrics = {k: v for k, (v, _) in values.items()}
            samples = {k: n for k, (_, n) in values.items()}
        missing = set(layer_names if a.trace else e2e_names) - set(metrics)
        if missing:
            raise BenchError(f"metrics not computed: {sorted(missing)}")
    except (BenchError, OSError, ValueError, KeyError,
            subprocess.SubprocessError) as e:
        error = f"{type(e).__name__}: {e}"
        log(error)
    finally:
        last = os.path.join(state, "last")
        os.makedirs(last, exist_ok=True)
        for name in ("record.json", "jvm.log"):
            src = os.path.join(run_dir, name)
            if os.path.exists(src):
                shutil.move(src, os.path.join(
                    last, f"{a.workload}-s{a.seed}-t{a.trace}-{name}"))
        shutil.rmtree(run_dir, ignore_errors=True)
    if error is not None:
        print(json.dumps(result_line(None, {}, units)))
        return 1
    failures = [(o["name"], o["error"]) for o in record["ops"] if not o["ok"]]
    print(json.dumps({"record": dict(
        workload=a.workload, seed=a.seed, trace=a.trace,
        seconds=a.seconds, passes=record["passes"],
        measured_s=record["measured_s"], samples=samples, tails=tails,
        facts=record["facts"], failures=failures[:20],
        other_metrics={k: v for k, v in metrics.items() if k not in units},
        **stamps(root, record, load_start, cpu_start))}))
    line = result_line(record, metrics, units)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    # a terminated run stops its JVM too (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
