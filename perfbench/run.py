#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program and the JVM harness (``perfbench/jvm``) with sbt when
their sources changed, generates the seed's inputs (cached under
``.bench_build/``), measures set-up in fresh JVMs, runs the workload in one
JVM (a closed loop with one client: the first pass, then as many timed
passes as take about ``--seconds`` on a 4-core box; the count depends only
on ``--seconds`` and the workload), checks every output, and prints the
metrics as the last line of standard output.
With ``--trace 0`` those are the end-to-end metrics; with ``--trace 1`` the
per-layer metrics of a traced run. The exit code is 0 only if every query
execution succeeded with a correct output. See ``perfbench/README.md``.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402


# inputs: generator family; records: the input records one pass reads;
# pass_s: about the wall time of a pass after the first on a 4-core box,
# which turns --seconds into a fixed number of timed passes
WORKLOADS = {
    "etl_biblio": {"inputs": "biblio", "records": ("records",),
                   "pass_s": 4.8},
    "iterative_graph_ml": {"inputs": "tables", "records": (
        "orders", "lineitem", "embeddings"), "pass_s": 3.5},
}

SETUP_PROBES = 1       # extra fresh JVMs that only measure set-up
MIN_TIMED_PASSES = 3   # per timing kind: untraced, and traced with --trace 1
# caps that keep a run under 180 s, and the first run's build under 900 s
MAX_MEASURE_S = 60
BUILD_TIMEOUT_S = 700
JVM_TIMEOUT_S = 120
PROBE_TIMEOUT_S = 40

END_TO_END_UNITS = {
    "setup_s": "s", "first_pass_cpu_s": "s", "session_cpu_s": "s",
    "records_per_cpu_s": "1/s",
}
MODULES = ("BibSources", "Excel", "Enrich", "Dedup", "Similarity", "Graph",
           "Recommend", "Classify", "Warehouse")
# per-layer metrics measured on the first pass, in a fresh JVM
FIRST_PASS_LAYERS = ("jvm.jit_s", "jvm.classes_loaded",
                     "sql.codegen_compile_s", "sql.codegen_classes")
PER_LAYER_UNITS = {
    "wall.first_pass_s": "s", "wall.pass_s": "s", "cpu.pass_s": "s",
    "jvm.gc_s": "s", "jvm.gc_count": "count", "jvm.heap_committed_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "jvm.jit_s": "s", "jvm.classes_loaded": "count",
    "sql.executions": "count", "sql.plan_s": "s",
    "sql.codegen_compile_s": "s", "sql.codegen_classes": "count",
    "driver.idle_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_s": "s", "sched.task_cpu_s": "s", "sched.task_wait_s": "s",
    "sched.stage_skew": "ratio", "sched.core_busy_ratio": "ratio",
    "sched.tasks_failed": "count", "sched.stages_retried": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "spill.mb": "MB",
    "storage.live_mb_after_pass": "MB", "storage.live_rdds_after_pass": "count",
    "storage.peak_exec_mb": "MB",
    "io.input_mb": "MB", "io.input_records": "count",
    "io.rows_read_per_output_row": "ratio", "io.output_mb": "MB",
    "enrich.fetches_per_journal": "ratio", "llm.calls_per_record": "ratio",
    "trace.overhead_ratio": "ratio",
}
for _m in MODULES:
    PER_LAYER_UNITS.update({f"op.{_m}.call_s": "s", f"op.{_m}.jobs": "count",
                            f"op.{_m}.job_s": "s", f"op.{_m}.task_s": "s"})


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def run_proc(cmd, cwd, timeout, env=None, log_path=None):
    """Runs ``cmd`` in its own process group and waits for it to end; on a
    timeout the whole group is killed before returning."""
    out = open(log_path, "wb") if log_path else subprocess.DEVNULL
    try:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} did not finish within {timeout} s"
                 + (f"; log: {log_path}" if log_path else ""))
    finally:
        if log_path:
            out.close()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---- build ---------------------------------------------------------------------

def source_key():
    """Hash of everything the build reads, plus the environment the
    program's build turns into JVM options."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "jvm", "build.sbt"),
             os.path.join(HERE, "jvm", "project", "build.properties")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "jvm", "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    for var in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_EXTRA_JAVA_OPTS"):
        h.update(f"{var}={os.environ.get(var, '')}".encode())
    return h.hexdigest()[:20]


def build():
    """Returns the launch spec (JVM options and classpath), building first
    when the sources changed since the last build in this checkout."""
    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
              "perfbench/jvm/build.sbt"):
        if not os.path.isfile(os.path.join(ROOT, f)):
            fail(f"{f} is missing: run from the root of a full checkout")
    spec_path = os.path.join(BUILD, f"launch-{source_key()}.json")
    if not os.path.isfile(spec_path):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
        log_path = os.path.join(BUILD, "build.log")
        log("building the program and the harness (sbt)")
        t0 = time.time()
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "compile", "launchSpec"], os.path.join(HERE, "jvm"),
                      BUILD_TIMEOUT_S, env, log_path)
        if rc != 0:
            log(tail(log_path))
            fail(f"build failed (exit {rc}); log: {log_path}")
        shutil.copyfile(os.path.join(HERE, "jvm", "target", "launch.json"),
                        spec_path)
        log(f"built in {time.time() - t0:.1f} s")
    with open(spec_path) as f:
        return json.load(f)


# ---- inputs ----------------------------------------------------------------------

def inputs(family, seed):
    """The seed's generated inputs, made once per checkout and generator
    version; returns their directory and its cache key."""
    with open(gen.__file__, "rb") as f:
        key = f"{family}-{seed}-{hashlib.sha256(f.read()).hexdigest()[:12]}"
    d = os.path.join(BUILD, "inputs", key)
    if not os.path.isfile(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (gen.gen_biblio if family == "biblio" else gen.gen_tables)(seed, tmp)
        os.rename(tmp, d)
        open(os.path.join(d, ".done"), "w").close()
    return d, key


def input_records(workload, in_dir):
    name = "counts.txt" if WORKLOADS[workload]["inputs"] == "biblio" else "rows.txt"
    with open(os.path.join(in_dir, name)) as f:
        counts = dict(line.strip().split("=") for line in f if "=" in line)
    return sum(int(counts[k]) for k in WORKLOADS[workload]["records"])


# ---- the program's JVM -------------------------------------------------------------

def nproc():
    return len(os.sched_getaffinity(0))


def jvm(spec, run_dir, args, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # java.io.tmpdir keeps the program's temporary files inside the checkout
    cmd = (["java"] + spec["java_options"] + [f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(spec["classpath"]), "perfbench.Main",
           "--nproc", str(nproc()), "--out", run_dir,
           "--local-dir", os.path.join(tmp, "spark-local")] + args)
    log_path = os.path.join(run_dir, "jvm.log")
    rc = run_proc(cmd, ROOT, timeout, log_path=log_path)
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.isfile(result):
        log(tail(log_path))
        fail(f"the benchmark JVM failed (exit {rc}); log: {log_path}")
    with open(result) as f:
        return json.load(f)


# ---- output checks -------------------------------------------------------------------

def canon(v):
    """Cell canonicalization, the same rules as the program's tools/compare.py."""
    if v is None or isinstance(v, float):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def sortkey(row):
    return tuple((x is None, str(x), repr(x)) for x in row)


def canonical_rows(arrow_table):
    cols = sorted(arrow_table.column_names)
    rows = [tuple(canon(r[c]) for c in cols) for r in arrow_table.to_pylist()]
    rows.sort(key=sortkey)
    return cols, rows


def oracle_rows(sql, in_dir, inputs_key):
    """The DuckDB result of one oracle query on the seed's inputs, cached
    per checkout."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(BUILD, "oracle", inputs_key, f"{key}.pickle")
    if os.path.isfile(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(in_dir, "*.parquet")):
        table = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{p}'")
    res = canonical_rows(con.execute(sql).fetch_arrow_table())
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(res, f)
    os.replace(path + ".tmp", path)
    return res


def oracle_problem(name, sql, run_dir, in_dir, inputs_key):
    files = sorted(glob.glob(os.path.join(run_dir, "outputs", name, "*.parquet")))
    if not files:
        return "no saved output"
    got_cols, got = canonical_rows(pa.concat_tables(
        [pq.read_table(f) for f in files]))
    want_cols, want = oracle_rows(sql, in_dir, inputs_key)
    if got_cols != want_cols:
        return f"columns {got_cols} != oracle {want_cols}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    bad = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
    if bad:
        return (f"{len(bad)}/{len(got)} rows differ from the oracle; first: "
                f"{got[bad[0]]} != {want[bad[0]]}")
    return None


def check(result, run_dir, in_dir, inputs_key):
    """Marks every query execution ok or failed. An execution fails if it
    threw, if its own check found a wrong output, if its output differs
    from the first pass's, or if the first pass's output differs from the
    query's DuckDB oracle. Returns (attempted, failed, problems)."""
    first = {q["name"]: q for q in result["passes"][0]["queries"]}
    oracle_bad = {}
    for name, sql in sorted(result["oracle_sql"].items()):
        if first[name]["error"] is None:
            oracle_bad[name] = oracle_problem(name, sql, run_dir, in_dir,
                                              inputs_key)
    attempted, failed, problems = 0, 0, {}
    for p in result["passes"]:
        for q in p["queries"]:
            attempted += 1
            why = (q["error"] or q["problem"] or oracle_bad.get(q["name"])
                   or (None if q["digest"] == first[q["name"]]["digest"]
                       else "output differs from the first pass"))
            if why:
                failed += 1
                problems.setdefault(q["name"], why)
    return attempted, failed, problems


# ---- metrics ----------------------------------------------------------------------------

def timed(result, traced):
    """The timed passes: all after the first pass."""
    return [p for p in result["passes"][1:] if p["traced"] == traced]


def end_to_end(result, setups, records):
    """Set-up is wall time. Passes are measured in CPU seconds of the
    program's JVM, all threads: on a shared host, time the host gives to
    others stretches wall time but is not counted as this JVM's CPU time.
    The session total is the first pass plus the timed passes: JIT
    compilation shifts CPU time from one pass to the next, and the sum over
    a fixed sequence of passes is steadier than any one pass or a median
    of a few."""
    passes = [result["passes"][0]] + timed(result, False)
    session_cpu_s = sum(p["cpu_seconds"] for p in passes)
    return {
        "setup_s": statistics.median(setups),
        "first_pass_cpu_s": passes[0]["cpu_seconds"],
        "session_cpu_s": session_cpu_s,
        "records_per_cpu_s": records * len(passes) / session_cpu_s,
    }


def per_layer(result):
    first = result["passes"][0]
    traced, untraced = timed(result, True), timed(result, False)
    out = {}
    for name in PER_LAYER_UNITS:
        if name == "wall.first_pass_s":
            out[name] = first["seconds"]
        elif name == "wall.pass_s":
            out[name] = statistics.mean(p["seconds"] for p in untraced)
        elif name == "cpu.pass_s":
            out[name] = statistics.mean(p["cpu_seconds"] for p in untraced)
        elif name == "jvm.peak_rss_mb":
            out[name] = result["peak_rss_mb"]
        elif name in FIRST_PASS_LAYERS:
            out[name] = first["layers"].get(name, 0.0)
        elif name == "jvm.heap_committed_mb":
            out[name] = max(p["layers"].get(name, 0.0) for p in [first] + traced)
        elif name == "trace.overhead_ratio":
            out[name] = (
                statistics.mean(p["cpu_seconds"] for p in traced) /
                statistics.mean(p["cpu_seconds"] for p in untraced) - 1.0)
        else:
            out[name] = statistics.mean(p["layers"].get(name, 0.0) for p in traced)
    return out


def metadata(args, spec, result):
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or commit
    except (OSError, subprocess.SubprocessError):
        pass
    return {"commit": commit, "nproc": nproc(), "seed": args.seed,
            "workload": args.workload, "trace": args.trace,
            "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM", ""),
            "java_options": spec["java_options"],
            "spark_version": result.get("spark_version")}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="",
                    help="comma-separated broken queries to add (throwcol, "
                         "wrong); used by the benchmark's own tests")
    args = ap.parse_args(argv)

    spec = build()
    family = WORKLOADS[args.workload]["inputs"]
    in_dir, inputs_key = inputs(family, args.seed)
    records = input_records(args.workload, in_dir)
    passes = max(MIN_TIMED_PASSES,
                 round(args.seconds / WORKLOADS[args.workload]["pass_s"]))
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-"
                                          f"{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        setups = []
        if not args.trace:
            for i in range(SETUP_PROBES):
                probe = os.path.join(run_dir, f"probe{i}")
                setups.append(jvm(spec, probe, ["--mode", "setup"],
                                  PROBE_TIMEOUT_S)["setup_s"])
        result = jvm(spec, run_dir, [
            "--mode", "run", "--workload", args.workload, "--inputs", in_dir,
            "--trace", str(args.trace), "--passes", str(passes),
            "--max-seconds", str(MAX_MEASURE_S), "--inject", args.inject],
            JVM_TIMEOUT_S)
        setups.append(result["setup_s"])
        attempted, failed, problems = check(result, run_dir, in_dir,
                                            inputs_key)
        meta = metadata(args, spec, result)
        if args.trace:
            values, units = per_layer(result), PER_LAYER_UNITS
            shutil.copyfile(os.path.join(run_dir, "trace.jsonl"), os.path.join(
                BUILD, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            values, units = end_to_end(result, setups, records), END_TO_END_UNITS
    finally:
        for sub in ("tmp", "outputs", "etl.parquet"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
        if os.path.isfile(os.path.join(run_dir, "etl.xlsx")):
            os.remove(os.path.join(run_dir, "etl.xlsx"))
    warm = len(timed(result, False))
    print(f"# meta {json.dumps(meta, sort_keys=True)}")
    print(f"# {args.workload} seed {args.seed}: {records} input records, "
          f"{len(result['passes'])} passes ({warm} timed untraced), "
          f"{attempted} query executions, {failed} failed")
    # every pass in order, the first one first; * marks a traced pass
    for key in ("seconds", "cpu_seconds"):
        print(f"# pass {key}: " + " ".join(
            f"{p[key]:.3f}{'*' if p['traced'] else ''}"
            for p in result["passes"]))
    for name, why in sorted(problems.items()):
        print(f"# FAILED {name}: {why}")
    for name, v in values.items():
        print(f"# {name} = {v:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
