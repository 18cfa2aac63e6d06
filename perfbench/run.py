#!/usr/bin/env python3
"""Benchmark of the graft medallion engine: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and the
program from source with sbt (perfbench/build.sbt); later runs reuse that
build until a source file changes. A run then:

1. generates the workload's inputs from --seed into a fresh directory under
   perfbench/.runs/ (set-up time starts here, after the build);
2. launches one JVM (Spark local[nproc], one client issuing calls in
   sequence) that runs the workload and writes its metrics;
3. checks the outputs: the JVM checks every refresh and read against the
   generator's exact counts, and this script checks every curation query
   result against DuckDB running ``SparkEntry.oracleSql`` on the same
   corpus;
4. prints every metric by name with its unit, then one JSON line
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics of BENCHMARK.json with --trace 0, the per-layer ones with
   --trace 1 (a layer the workload does not exercise reads 0).

The program keeps layout artifacts and scratch files under
/dev/shm/graft-spark-local, and they outlive the JVM; every entry the run
created there is deleted afterwards. Exit status is 0 only when every check
passed.
"""
import argparse
import hashlib
import json
import math
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")
RESULTS = os.path.join(HERE, "results")
SHM = "/dev/shm/graft-spark-local"
RUN_DEADLINE_S = 170  # the run must end within 180 s

# The curation query set, one query per layer the issue names:
# d189 is a connected-components query that verifies on the sorted-multiset
# merge kernel over persisted layouts; s314 reranks with the cosine kernel;
# t154 runs the gram_hashes text kernel over a persisted layout; t59 picks
# per-document top terms with the TopKPerKey operator (graft.plans).
QUERIES = ["d189_admit_compact", "s314_crossencoder_rerank", "t154_dup_spans",
           "t59_tfidf_terms"]

SIZES = {
    "medallion_refresh": {"banks": 150, "credit_unions": 150, "states": 6,
                          "silver_partitions": 4, "warmup": 1, "timed": 1,
                          "warmup_reads": 5, "reads_per_quarter": 120,
                          "min_reads": 40},
    "curation_small": {"docs": 500, "vecs": 200, "min_warm_passes": 2},
}

# The JIT and garbage collector are the JVM's defaults, as the program runs
# everywhere else; the heap is capped to keep the run small. The JIT's
# compiler threads are kept alive for the whole run, so the harness can
# leave their CPU out of the CPU metrics (perfbench.Run.cpuNs); this does
# not change what the JIT compiles or the code it produces.
JVM_FLAGS = ["-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads"]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the program and the harness (sbt) unless the last build is
    newer than every source. Returns (runtime classpath, whether it built)."""
    stamp = os.path.join(HERE, "target", "classpath.txt")
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    if os.path.isfile(stamp) and os.path.getmtime(stamp) >= _newest_mtime(sources):
        return open(stamp).read().strip(), False
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    # offline: the toolchain's caches already hold every dependency
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:  # build.sbt takes Spark's jars from it
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false", "writeClasspath"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        if _wait(p, 850) != 0:
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            die("build failed (log: perfbench/target/build.log)", 3)
    return open(stamp).read().strip(), True


def _wait(p, timeout):
    """Wait for p; on timeout kill its whole process group. Returns the exit
    code, or None after a kill."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, rundir):
    import gen
    sz = SIZES[workload]
    if workload == "medallion_refresh":
        quarters = gen.medallion_plan(
            seed, sz["banks"], sz["credit_unions"], sz["states"],
            sz["warmup"] + sz["timed"], os.path.join(rundir, "staged"),
            sz["reads_per_quarter"])
        for q in quarters[:sz["warmup"]]:
            q["reads"] = q["reads"][:sz["warmup_reads"]]
        return {"lake": os.path.join(rundir, "lake"), "warmup": sz["warmup"],
                "min_reads": sz["min_reads"], "quarters": quarters,
                "silver_partitions": sz["silver_partitions"], "sizes": sz}
    corpus = os.path.join(rundir, "corpus")
    gen.write_corpus(gen.corpus_tables(seed, sz["docs"], sz["vecs"]), corpus)
    return {"corpus": corpus, "queries": QUERIES,
            "min_warm_passes": sz["min_warm_passes"], "sizes": sz}


# -------------------------------------------------------------------- JVM

def run_jvm(cp, workload, plan_path, out, seconds, trace, t0, rundir, deadline):
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.isfile(java):
        java = "java"
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = [java, *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    jvm += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--plan", plan_path, "--out", out, "--trace", str(trace),
            "--seconds", str(seconds), "--t0-ms", str(int(t0 * 1000))]
    # the program's artifacts under SHM outlive the JVM: delete what this
    # run created
    shm_existed = os.path.isdir(SHM)
    before = set(os.listdir(SHM)) if shm_existed else set()
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    try:
        with open(os.path.join(out, "jvm.log"), "w") as log:
            p = subprocess.Popen(jvm, cwd=rundir, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, env=env,
                                 start_new_session=True)
            return _wait(p, max(1, deadline - time.time()))
    finally:
        if not shm_existed:
            shutil.rmtree(SHM, ignore_errors=True)
        elif os.path.isdir(SHM):
            for name in set(os.listdir(SHM)) - before:
                path = os.path.join(SHM, name)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)


# ----------------------------------------------------------------- oracle

def _canon(v):
    import numpy as np
    import pandas as pd
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NA>"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return f"{float(v):.12g}"
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return f"{float(v):.12g}"
    return str(v)


def result_hash(df):
    """Order-independent hash of a result: columns by name, each row as
    canonical strings (floats to 12 significant digits), rows sorted."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_canon(r[c]) for c in cols)
                  for r in df[cols].to_dict("records"))
    h = hashlib.md5(("\x1e".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return h.hexdigest(), len(rows)


def oracle_check(corpus, out, queries):
    """DuckDB runs ``SparkEntry.oracleSql`` on the same corpus; each query's
    cold-pass result must hash equal. Oracle answers do not depend on the
    program, so they are cached by corpus fingerprint and SQL text."""
    import duckdb
    import pandas as pd
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    fp = hashlib.md5()
    for t in sorted(os.listdir(corpus)):
        with open(os.path.join(corpus, t), "rb") as f:
            fp.update(t.encode() + hashlib.md5(f.read()).digest())
    cache_dir = os.path.join(HERE, ".cache")
    os.makedirs(cache_dir, exist_ok=True)
    cache_path = os.path.join(cache_dir, f"oracle-{fp.hexdigest()}.json")
    cache = json.load(open(cache_path)) if os.path.isfile(cache_path) else {}
    con = None
    bad = {}
    timing = {}
    for q in queries:
        rdir = os.path.join(out, "results", q)
        if not os.path.isdir(rdir):
            continue  # the query failed in the JVM and is already counted
        if q not in sqls:
            bad[q] = "no oracle SQL"
            continue
        key = hashlib.md5(sqls[q].encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in os.listdir(corpus):
                    name = t.removesuffix(".parquet")
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(corpus, t)}')")
            t = time.time()
            cache[key] = result_hash(con.execute(sqls[q]).fetch_arrow_table().to_pandas())
            timing[q] = time.time() - t
        got = result_hash(pd.read_parquet(rdir))
        want = tuple(cache[key])
        if got != want:
            bad[q] = f"result differs from the oracle (rows {got[1]} vs {want[1]})"
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return bad, timing


# ----------------------------------------------------------------- report

def _git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def _source_digest():
    h = hashlib.md5()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()


def _cpu_s():
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def tracing_overhead(workload, e2e, manifest):
    """Each end-to-end metric of this traced run relative to the untraced run
    of ``results/<workload>-s<seed>-t0.json``, or None unless that run had
    the same seed, --seconds, sizes, sources and JVM flags."""
    base = os.path.join(RESULTS, f"{workload}-s{manifest['seed']}-t0.json")
    if not os.path.isfile(base):
        return None
    prev = json.load(open(base))
    same = ("seed", "seconds", "sizes", "source_digest", "jvm")
    if any(prev["manifest"].get(k) != manifest.get(k) for k in same):
        return None
    return {k: v / prev["e2e"][k] - 1 for k, v in e2e.items() if prev["e2e"].get(k)}


def execute(workload, seed, seconds, trace):
    """One run: build if needed, generate inputs, run the JVM, check the
    outputs. Returns {"record", "correct", "metrics"}; exits the process
    (non-zero, no result) when the run itself cannot complete."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not in this checkout")
    if workload not in SIZES:
        die(f"unknown workload {workload}; one of {', '.join(SIZES)}")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    deadline = T_PROCESS + RUN_DEADLINE_S
    digest = _source_digest()  # of the sources the build below compiles
    cp, built = build()
    if built:  # the first run in a checkout builds; the run gets its own window
        deadline = time.time() + RUN_DEADLINE_S - 10
    t0, cpu0 = time.time(), _cpu_s()  # set-up starts here
    sys.path.insert(0, HERE)
    tag = f"{workload}-s{seed}-t{trace}"
    rundir = os.path.join(RUNS, f"{tag}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    out = os.path.join(rundir, "out")
    os.makedirs(out)
    try:
        plan = make_inputs(workload, seed, rundir)
        plan_path = os.path.join(rundir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        gen_cpu = _cpu_s() - cpu0
        code = run_jvm(cp, workload, plan_path, out, seconds, trace,
                       t0, rundir, deadline)
        os.makedirs(RESULTS, exist_ok=True)
        shutil.copy(os.path.join(out, "jvm.log"), os.path.join(RESULTS, f"{tag}.jvm.log"))
        res_path = os.path.join(out, "result.json")
        if code != 0 or not os.path.isfile(res_path):
            with open(os.path.join(out, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die(f"the JVM {'timed out' if code is None else f'exited {code}'}", 4)
        res = json.load(open(res_path))
        res["e2e"]["setup_s"] = gen_cpu + res["e2e"].pop("setup_jvm_cpu_s")
        failures = list(res["failures"])
        failed = res["failed"]
        manifest = res["manifest"]
        if workload != "medallion_refresh":
            bad, manifest["oracle_s"] = oracle_check(plan["corpus"], out, QUERIES)
            failed += len(bad)
            failures += [f"oracle {q}: {why}" for q, why in bad.items()]
        attempted = res["attempted"]
        manifest.update({
            "git_sha": _git_sha(), "source_digest": digest,
            "seed": seed, "seconds": seconds, "jvm": JVM_FLAGS,
            "inputs": os.path.relpath(rundir, ROOT),
            "ops_failed_frac": failed / max(attempted, 1),
        })
        # tracing overhead: this traced run against the untraced run of the
        # same code, seed and sizes; unavailable when there is none
        if trace:
            manifest["tracing_overhead"] = tracing_overhead(workload, res["e2e"], manifest)
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(RESULTS, f"{tag}.spans.jsonl"))
        record = dict(res, failed=failed, failures=failures, manifest=manifest)
        with open(os.path.join(RESULTS, f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    if trace:
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"] if m["name"] in res["e2e"]}
    complete = len(metrics) == len(spec["per_layer" if trace else "end_to_end"])
    return {"record": record, "metrics": metrics,
            "correct": failed == 0 and attempted > 0 and complete}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    r = execute(args.workload, args.seed, args.seconds, args.trace)
    rec = r["record"]
    m = rec["manifest"]
    for f in rec["failures"][:20]:
        print(f"FAILED {f}")
    print(f"# {args.workload} seed={args.seed} traced={args.trace} "
          f"floor_ms={m['floor_ms']:.1f} stage_incr_ms={m['stage_incr_ms']:.1f}")
    # wall-clock and workload-specific figures, for reading; not gated
    for k, v in rec["named"].items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"ops_failed_frac {m['ops_failed_frac']:.6g} ratio")
    if args.trace:
        over = m["tracing_overhead"]
        if over is None:
            print("tracing_overhead unavailable: no untraced run of this seed, "
                  "sizes and sources")
        for k, v in (over or {}).items():
            print(f"tracing_overhead.{k} {v:+.3%}")
    for n, v in r["metrics"].items():
        print(f"{n} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": r["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": r["metrics"]}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
