#!/usr/bin/env python3
"""graft's benchmark: one command, two workloads, end to end and per layer.

    python3 perfbench/run.py --workload {tpch,llm} --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. The first run builds the program and
the harness from source (sbt, offline), generates the inputs with the
program's own generators (dumping a class-data sharing archive on the way)
and computes the DuckDB reference digests; later runs reuse all of them.
Everything it writes goes under `.bench_build/` (or `$CARGO_TARGET_DIR`)
and the sbt project's `target/` directories.

Each run is one JVM with local[cores] and shuffle partitions = cores (the
program's `Sessions.local`), driven as a closed loop with one client:
operations run back to back, each executing its full plan and writing
its result with the program's parquet sink. The seed permutes the
operation order of every pass; the inputs are fixed.

  tpch  seven spec TPC-H queries of FullTpch through the SQL front door over
        TpchGen parquet at TPCH_SF, beside TpchGen writing four tables at
        the same scale
  llm   six LLM-pipeline keys (shingle containment / n-gram Jaccard,
        MinHash LSH, components, sign-LSH top-k, text quality) over AuxGen
        documents and embeddings at LLM_SF

A run: several set-ups (session start + catalog registration, each on a
fresh context), one untimed warm-up pass on the cold JVM, then the timed
passes. Outputs are checked on every run, from the warm-up and from
every timed pass, so state carried across operations and passes is
checked too: each query result's canonical digest (dev/compare.py's
form: columns sorted by name, their type classes, rows sorted) must equal
the digest of the key's DuckDB oracle on the same parquet, and each
generated table must read back the row count of the `gen_rowcounts`
oracle. A wrong result or an exception counts as a failed operation for
every timed execution of it.

The last line of stdout is the result object: the end-to-end metrics with
--trace 0, the per-layer ones with --trace 1 (a traced run alternates
untraced and traced passes; spans are kept in memory and written to
spans.jsonl at the end). The line before it is the full report: run record
(cpus, sf, inputs, seed, JVM flags, load average, CPU steal), sample
counts, fail_frac and every metric by name and unit. perfbench/README.md
says what each metric means and which layer should move which.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Scale factors: the TPC-H corpus the queries read and the generator
# writes each pass, and the documents/embeddings corpus.
TPCH_SF = 0.1
LLM_SF = 0.01
# Set-ups per run (session start + catalog registration); setup_s is
# the median of all but the first, cold one. llm's set-up is a bare
# session start (~0.1 s), so it takes more samples to be steady.
SETUPS = {"tpch": 3, "llm": 8}
# The parallel collector: on 4 cores G1's concurrent threads took a
# third longer per pass and added a quarter to the cold start.
JVM_FLAGS = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
# Nominal pass length: the median timed pass measured on a 4-core
# 2.0 GHz Xeon VM (perfbench/README.md, Sizing). A run makes
# floor(seconds / nominal) timed passes (at least one), so both sides of
# a comparison do the same work and every sample count is fixed by
# --seconds. A traced run makes at least three: untraced, traced,
# untraced, so the tracing overhead is not confounded with the JVM still
# warming up (a run's first timed pass is 1-2 s slower than its second).
NOMINAL_PASS_S = {"tpch": 11.0, "llm": 12.0}
WORKLOADS = {"tpch": TPCH_SF, "llm": LLM_SF}
# The tables each workload's operations read (None: all of its corpus).
READS = {"tpch": None, "llm": ["documents", "embeddings"]}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def state_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def tree_files(*dirs):
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                yield os.path.join(base, f)


def sha_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h


# ------------------------------------------------------------------ build
def build(state):
    src = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(src):
        die(f"no program sources at {os.path.relpath(src, ROOT)}; run from a graft checkout")
    inputs = list(tree_files(os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")))
    inputs += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
               os.path.join(ROOT, "build.sbt")]  # perfbench/build.sbt reads its unmanagedBase
    stamp = sha_files(inputs).hexdigest()
    cp_file = os.path.join(state, "classpath.txt")
    stamp_file = os.path.join(state, "build.stamp")
    if os.path.exists(cp_file) and read(stamp_file) == stamp:
        return read(cp_file)
    os.makedirs(state, exist_ok=True)
    # the sbt launcher script and every JVM it starts (its `java
    # -version` probe too) keep their temporary files inside the checkout
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(state, 'sbt')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # the harness and program as one jar: class-data sharing archives
    # classes from jars only
    cmd += ["export Runtime/fullClasspathAsJars"]
    with open(os.path.join(state, "build.log"), "w") as log:
        r = call(cmd, 600, "the build", cwd=HERE, env=env, stderr=log)
        log.write(r.stdout)
    cps = [l for l in r.stdout.splitlines() if "graft-perfbench" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        die(f"build failed (see {os.path.relpath(state, ROOT)}/build.log)")
    write(cp_file, cps[-1].strip())
    write(stamp_file, stamp)
    return cps[-1].strip()


def read(p):
    try:
        with open(p) as f:
            return f.read()
    except OSError:
        return None


def write(p, s):
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        f.write(s)


def call(cmd, timeout, what, **kw):
    """Runs `cmd` to completion; on timeout the child is killed and
    reaped before the benchmark gives up."""
    try:
        return subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              stdin=subprocess.DEVNULL, timeout=timeout, **kw)
    except subprocess.TimeoutExpired:
        die(f"{what} took longer than {timeout} s")


def java(cp, state, args, log_path, timeout, cds_flag=None):
    """Runs the harness JVM. Every run maps the class-data sharing
    archive the input preparation dumped, which takes class loading
    out of each run's cold start."""
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    archive = os.path.join(state, "classes.jsa")
    if cds_flag is None and os.path.exists(archive):
        cds_flag = f"-XX:SharedArchiveFile={archive}"
    cmd = ["java"] + ([cds_flag] if cds_flag else [])
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(state, 'warehouse')}",
            "-Dderby.system.home=" + os.path.join(state, "derby"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)  # it would override spark.local.dir
    with open(log_path, "w") as log:
        return call(cmd, timeout, f"the JVM ({args[0]})", cwd=state, env=env, stderr=log)


# ---------------------------------------------------------------- prepare
def table_dirs(corpus):
    return {n[:-len(".parquet")]: os.path.join(corpus, n)
            for n in sorted(os.listdir(corpus)) if n.endswith(".parquet")}


def corpus_stats(corpus, tables=None):
    """(rows, bytes) of the parquet tables under `corpus`."""
    import pyarrow.parquet as pq
    rows = nbytes = 0
    for t, d in table_dirs(corpus).items():
        if tables is not None and t not in tables:
            continue
        for f in parquet_files(d):
            rows += pq.ParquetFile(f).metadata.num_rows
            nbytes += os.path.getsize(f)
    return rows, nbytes


def corpus_checksum(corpus):
    """Checksum of every table's file contents, in part order (Spark
    names each file with a per-write id, so names are left out)."""
    h = hashlib.sha256()
    for t, d in table_dirs(corpus).items():
        h.update(t.encode())
        for f in parquet_files(d):
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def parquet_files(d):
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def prepare(cp, state):
    data = os.path.join(state, "data")
    want = json.dumps({"build": read(os.path.join(state, "build.stamp")),
                       "tpch_sf": TPCH_SF, "llm_sf": LLM_SF})
    if read(os.path.join(data, "prepared.json")) == want:
        return data
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    archive = os.path.join(state, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    r = java(cp, state, ["prepare", data, str(TPCH_SF), str(LLM_SF)],
             os.path.join(state, "prepare.log"), 300,
             cds_flag=f"-XX:ArchiveClassesAtExit={archive}")
    if r.returncode != 0:
        die(f"input generation failed (see {os.path.relpath(state, ROOT)}/prepare.log)")
    write(os.path.join(data, "prepared.json"), want)
    return data


def corpus_of(data, workload):
    return {"tpch": os.path.join(data, "tpch"),
            "llm": os.path.join(data, "llm", f"sf{LLM_SF}")}[workload]


# ----------------------------------------------------------- output check
def load_compare():
    path = os.path.join(ROOT, "dev", "compare.py")
    spec = importlib.util.spec_from_file_location("graft_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(rel, cmp):
    """Canonical digest of a DuckDB relation: columns by name, their type
    classes, rows sorted (dev/compare.py's canonical form)."""
    rows, cols = rel.fetchall(), list(rel.columns)
    types = sorted((c, cmp.type_class(t)) for c, t in
                   zip(rel.columns, rel.limit(0).arrow().schema.types))
    canon_rows, canon_cols = cmp.canon(rows, cols)
    h = hashlib.sha256(json.dumps([canon_cols, types]).encode())
    for r in canon_rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest(), len(canon_rows)


def bind_views(con, corpus):
    for t, d in table_dirs(corpus).items():
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{d}/*.parquet')")


def oracle_text(sql, corpus):
    # FullTpch's oracle binds each table to its own corpus path
    return re.sub(r"read_parquet\('[^']*/(\w+)\.parquet/\*\.parquet'\)",
                  lambda m: f"read_parquet('{corpus}/{m.group(1)}.parquet/*.parquet')", sql)


def gen_rowcounts(sql, sf):
    """`gen_rowcounts`' oracle over tables of TPC-H spec size (the
    testdata it was written for has exactly those counts)."""
    import duckdb
    con = duckdb.connect()
    for t, base in (("supplier", 10000), ("customer", 150000), ("part", 200000),
                    ("orders", 1500000)):
        con.execute(f"CREATE VIEW {t} AS SELECT range AS id FROM range({max(1, int(base * sf))})")
    return {f"gen_{t}": n for t, n in con.sql(sql).fetchall()}


def references(state, data, workload, ops, cmp):
    """Expected output per op: the oracle's digest for queries, the
    row count for generator writes. Cached under the oracle text and
    the checksum of every input file."""
    import duckdb
    oracles = json.loads(read(os.path.join(data, "oracles.json")))
    corpus = corpus_of(data, workload)
    base = corpus_checksum(corpus)
    out, con = {}, None
    for name in [op for op in ops if not op.startswith("gen_")]:
        sql = oracle_text(oracles[name], corpus)
        key = hashlib.sha256((sql + "\x00" + base).encode()).hexdigest()
        path = os.path.join(state, "refs", key + ".json")
        cached = read(path)
        if cached is None:
            if con is None:
                con = duckdb.connect()
                bind_views(con, corpus)
            d, n = digest(con.sql(sql), cmp)
            cached = json.dumps({"digest": d, "rows": n})
            write(path, cached)
        out[name] = json.loads(cached)
    if any(op.startswith("gen_") for op in ops):
        counts = gen_rowcounts(oracles["gen_rowcounts"], WORKLOADS[workload])
        out.update({k: {"rows": v} for k, v in counts.items()})
    return out


def check(report, refs, cmp):
    """Returns {op: reason} for every op whose output is wrong. Each op's
    result, from the warm-up and from every timed pass, must match the
    oracle's digest (queries) or read back the oracle's row count
    (generator writes)."""
    import duckdb
    wrong = dict(report["warmup_errors"])
    con = duckdb.connect()
    for op in report["ops"]:
        for where in [report["warmup_dir"]] + report["pass_dirs"]:
            if op in wrong:
                break
            files = f"read_parquet('{where}/{op}.parquet/*.parquet')"
            try:
                if op.startswith("gen_"):
                    n = con.sql(f"SELECT count(*) FROM {files}").fetchone()[0]
                    if n != refs[op]["rows"]:
                        wrong[op] = f"{n} rows read back from {os.path.basename(where)}, " \
                                    f"oracle {refs[op]['rows']}"
                    continue
                d, n = digest(con.sql(f"SELECT * FROM {files}"), cmp)
            except Exception as e:  # missing or unreadable output
                wrong[op] = f"output unreadable in {os.path.basename(where)}: {e}"
                continue
            if d != refs[op]["digest"]:
                wrong[op] = f"digest differs from oracle in {os.path.basename(where)} " \
                            f"({n} rows, oracle {refs[op]['rows']})"
    return wrong


# ------------------------------------------------------------- run record
def cpu_stat():
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- metrics
def tail(passes):
    """The highest percentile of operation times with at least ten
    samples beyond it, and that percentile. Below 20 samples no
    percentile above the median qualifies; the tail is then the slowest
    operation of a pass, median over passes, reported as the 100th."""
    s = [v for p in passes for v in p["op_s"].values()]
    n = len(s)
    if n < 20:
        return statistics.median(max(p["op_s"].values()) for p in passes), 100.0
    return sorted(s)[n - 11], 100.0 * (n - 10) / n


def end_to_end(report, w, data):
    """End-to-end metrics (value, unit) and the sample counts behind them."""
    passes = [p for p in report["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in passes]
    samples = [v for p in passes for v in p["op_s"].values()]
    pass_s = statistics.median(walls)
    tail_v, tail_p = tail(passes)
    if w == "tpch":
        # the generator's throughput and footprint, from the last pass
        rows, nbytes = corpus_stats(report["pass_dirs"][-1],
                                    [op for op in report["ops"] if op.startswith("gen_")])
        gen_s = statistics.median(
            sum(v for k, v in p["op_s"].items() if k.startswith("gen_")) for p in passes)
        rows_per_s, bytes_per_row = rows / gen_s, nbytes / rows
    else:
        # no generator runs here; every run reports every metric, so
        # these only restate the fixed input and pass_s
        rows, nbytes = corpus_stats(corpus_of(data, w), READS[w])
        rows_per_s, bytes_per_row = rows / pass_s, nbytes / rows
    return {
        "setup_s": (statistics.median(report["setup_s"][1:]), "s"),
        "warmup_s": (report["warmup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (statistics.median(samples), "s"),
        "op_tail_s": (tail_v, "s"),
        "peak_rss_mb": (report["peak_rss_mb"], "MB"),
        "rows_per_s": (rows_per_s, "1/s"),
        "stored_bytes_per_row": (bytes_per_row, "B"),
    }, {"passes": len(walls), "op_samples": len(samples), "op_tail_pct": round(tail_p, 2)}


def per_layer(report):
    """Per-layer sums per traced pass (median over traced passes)."""
    traced = [p for p in report["passes"] if p["traced"]]
    plain = [p for p in report["passes"] if not p["traced"]]

    def med(f):
        return statistics.median(f(p) for p in traced)

    def lay(k):
        return med(lambda p: p["layers"][k])

    def ops_s(pred):
        return med(lambda p: sum(v for k, v in p["op_s"].items() if pred(k)))

    task_s, op_s, n = lay("task_s"), lay("op_s"), cores()
    m = {
        "sessions.start_s": (statistics.median(report["session_s"][1:]), "s"),
        "registry.build_s": (lay("build_s"), "s"),
        "plans.optimize_s": (lay("optimize_s"), "s"),
        "plans.physical_s": (lay("physical_s"), "s"),
        "exec.wall_s": (lay("execute_s"), "s"),
        "exec.jobs": (lay("jobs"), "count"),
        "exec.stages": (lay("stages"), "count"),
        "exec.tasks": (lay("tasks"), "count"),
        "exec.task_s": (task_s, "s"),
        "exec.task_cpu_s": (lay("task_cpu_s"), "s"),
        "exec.gc_s": (lay("gc_s"), "s"),
        "exec.parallel_eff": (task_s / (op_s * n), "ratio"),
        "exec.idle_core_s": (op_s * n - task_s, "s"),
        "exec.spill_mb": (lay("spill_b") / 1e6, "MB"),
        "shuffle.write_mb": (lay("shuffle_write_b") / 1e6, "MB"),
        "shuffle.read_mb": (lay("shuffle_read_b") / 1e6, "MB"),
        "shuffle.fetch_wait_s": (lay("fetch_wait_s"), "s"),
        "sources.scan_mb": (lay("scan_b") / 1e6, "MB"),
        "sources.scan_files": (lay("scan_files"), "count"),
        "caches.released": (med(lambda p: p["released"]), "count"),
        "caches.release_s": (med(lambda p: p["release_s"]), "s"),
        "tpchgen.orders_s": (ops_s(lambda k: k == "gen_orders"), "s"),
        "tpchgen.lineitem_s": (ops_s(lambda k: k == "gen_lineitem"), "s"),
        "tpchgen.other_s": (ops_s(lambda k: k.startswith("gen_")
                                  and k not in ("gen_orders", "gen_lineitem")), "s"),
        "sinks.write_mb": (lay("output_b") / 1e6, "MB"),
        "sinks.files": (med(lambda p: p["files"]), "count"),
        "trace.spans": (lay("spans"), "count"),
        "trace.overhead_s": (med(lambda p: p["wall_s"])
                             - statistics.median(p["wall_s"] for p in plain), "s"),
    }
    for name in ("op", "build", "optimize", "physical", "execute", "job", "stage"):
        m[f"self.{name}_s"] = (med(lambda p: p["layers"]["self_s"].get(name, 0.0)), "s")
    return m


# ------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = a.workload

    state = state_dir()
    cp = build(state)
    data = prepare(cp, state)
    cmp = load_compare()
    passes = max(1, int(a.seconds // NOMINAL_PASS_S[w]))
    if a.trace:
        passes = max(3, passes)

    out = os.path.join(state, "runs", w)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    steal0, total0 = cpu_stat()
    load0 = loadavg()
    t0 = time.time()
    r = java(cp, state, ["run", w, data, out, str(a.seed), str(passes), str(a.trace),
                         str(cores()), str(SETUPS[w]), str(WORKLOADS[w])],
             os.path.join(out, "jvm.log"), 160)
    steal1, total1 = cpu_stat()
    run_wall = time.time() - t0
    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if r.returncode != 0 or not lines:
        die(f"workload {w} did not finish (see {os.path.relpath(out, ROOT)}/jvm.log)")
    raw = lines[-1][len("PERFBENCH "):]
    write(os.path.join(out, "raw.json"), raw)
    report = json.loads(raw)

    refs = references(state, data, w, report["ops"], cmp)
    wrong = check(report, refs, cmp)
    # a failed or wrong-result operation counts once per timed execution
    failed = sum(1 for p in report["passes"] for op in p["op_s"]
                 if op in p["failed"] or op in wrong)
    attempted = report["attempted"]
    e2e, counts = end_to_end(report, w, data)
    in_rows, in_bytes = corpus_stats(corpus_of(data, w), READS[w])
    record = {
        "workload": w, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cores(), "sf": WORKLOADS[w], "jvm_flags": JVM_FLAGS, "setups": SETUPS[w],
        "input_rows": in_rows, "input_bytes": in_bytes,
        "loadavg_start": load0, "loadavg_end": loadavg(),
        "steal_pct": round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 3),
        "run_wall_s": round(run_wall, 3),
        "fail_frac": failed / attempted, "wrong": wrong, **counts,
    }
    full = {"record": record,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "fail_frac": {"value": record["fail_frac"], "unit": "ratio"}}
    metrics = e2e
    if a.trace:
        metrics = per_layer(report)
        full["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        full["spans_file"] = os.path.relpath(os.path.join(out, "spans.jsonl"), ROOT)
    write(os.path.join(out, "report.json"), json.dumps(full, indent=1))
    print(json.dumps(full))
    print(json.dumps({
        "correct": failed == 0 and not wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
