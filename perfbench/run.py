#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <tabular|curate> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. The first run builds the
engine and the benchmark from source with sbt (cached under .perfbench/,
keyed by a hash of the sources). Each run then generates the workload's
inputs from the seed, runs the workload in one JVM (perfbench.Main),
checks every operation's output against the registry's DuckDB oracle
(computed once per seed and cached, outside all timing), and prints a
metric table followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/README.md).
"""
import argparse
import glob
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
sys.path.insert(0, HERE)

WORKLOADS = ("tabular", "curate")
# curate's ANN index: parts of the vectors ingested per pass (one written, the
# rest appended), probe requests per pass, and query vectors per request,
# drawn from the oracle's query pool (vec_id < 10).
INGEST_PARTS = 2
PROBES_PER_PASS = 2
QUERY_POOL = 10
QUERIES_PER_PROBE = 5
# The workload JVM is killed after a fixed allowance for start-up and
# warm-up plus three times the timed window (the untraced and the traced
# passes, and the pass that runs past the window's end).
JVM_TIMEOUT_BASE_S = 140
# Both workloads run C1-only (-XX:TieredStopAtLevel=1). Under C2 the pass
# wall keeps falling, by uneven steps, for more than ten passes, and the C2
# compiler threads stay busy all the while: on tabular they spent 5.8 s of
# compile time in a 3.4 s pass, and the whole JVM used 10.9 of the 13.6
# CPU-seconds four cores give in that time, so every pass competed with the
# compiler for the cores and the wall followed whatever else the host ran.
# C1-only leaves the pass walls level after the warm-up (tabular: about
# 0.6 s of compile time and 4.8 CPU-seconds a pass). The figures are
# therefore C1 figures: executor CPU is higher than under C2, and a change
# that gains only under C2 (inlining, escape analysis, vectorised loops) is
# not measured. The timed passes (four on tabular, three on curate) take
# longer than --seconds 8, so the number of passes the medians are taken
# over does not depend on the host's speed.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1"]
# Untimed warm-up passes and minimum timed passes per workload.
PASSES = {"tabular": (3, 4), "curate": (1, 3)}
# Checked ops whose oracle reads only the seed-independent vector corpus.
SEEDLESS_OPS = {"ann_probe"}
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return max(1, int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1))


def source_hash(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt")]
    for pattern in ("project/*.sbt", "project/*.properties", "src/main/**/*",
                    "perfbench/build.sbt", "perfbench/project/*.properties",
                    "perfbench/src/**/*"):
        files += glob.glob(os.path.join(root, pattern), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, state):
    """Compile engine + benchmark once per source hash; return the classpath."""
    out = os.path.join(state, "build", source_hash(root))
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def make_inputs(workload, seed, data):
    """Generate the run's inputs; returns (input properties, ANN index plan)."""
    import gen
    import numpy as np
    import pyarrow.parquet as pq
    sizes = gen.generate(workload, seed, data)
    if workload != "curate":
        return sizes, None
    # The ANN index serves one fixed vector corpus (so its costly oracle is
    # computed once per checkout); the seed draws how the vectors are split
    # into ingest parts, the order they arrive in, and every probe batch.
    rng = np.random.default_rng([seed, 7])
    emb = pq.read_table(os.path.join(data, "embeddings.parquet"))
    part = rng.permutation(np.arange(emb.num_rows) % INGEST_PARTS)
    names = [f"ann_part_{p}" for p in rng.permutation(INGEST_PARTS)]
    for p, name in enumerate(names):
        gen.write_table(data, name, emb.take(np.flatnonzero(part == p)), gen.cpus())
    gen.write_table(data, "probe_vectors", emb.take(np.arange(QUERY_POOL)), 1)
    plan = {"ann_parts": names,
            "probes": [sorted(int(x) for x in rng.choice(QUERY_POOL, QUERIES_PER_PROBE,
                                                         replace=False))
                       for _ in range(PROBES_PER_PASS)]}
    sizes.update(ingest_parts=INGEST_PARTS, probes_per_pass=PROBES_PER_PASS)
    return sizes, plan


def run_jvm(root, state, classpath, cfg):
    cfg_path = os.path.join(cfg["out"], "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    cmd = ["java", *[x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", *JIT_FLAGS,
           f"-Djava.io.tmpdir={cfg['scratch']}", "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main", cfg_path]
    cfg["launch_ms"] = int(time.time() * 1000)
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    log = open(os.path.join(cfg["out"], "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=state, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        proc.wait(timeout=JVM_TIMEOUT_BASE_S + 3 * cfg["seconds"])
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"workload JVM timed out; see {log.name}")
    signal.signal(signal.SIGTERM, signal.SIG_DFL)
    signal.signal(signal.SIGINT, signal.SIG_DFL)
    log.close()
    res = os.path.join(cfg["out"], "result.json")
    if proc.returncode != 0 or not os.path.exists(res):
        sys.stderr.write(open(log.name).read()[-4000:])
        fail("workload JVM failed")
    with open(res) as fh:
        result = json.load(fh)
    with open(os.path.join(cfg["out"], "oracle_sql.json")) as fh:
        sql = json.load(fh)
    return result, sql


def expected(workload, seed, data, state, sql):
    """Oracle results per checked op, computed once per (op, generator,
    oracle SQL, seed) and cached as parquet; ops over the fixed vector
    corpus do not depend on the seed."""
    import oracle
    import pandas as pd
    gen_src = open(os.path.join(HERE, "gen.py")).read()
    con = None
    res = {}
    for op, q in sql.items():
        key = hashlib.sha256(json.dumps(
            [workload, op, q, gen_src, None if op in SEEDLESS_OPS else seed]).encode())
        path = os.path.join(state, "oracle", f"{op}-{key.hexdigest()[:16]}.parquet")
        if not os.path.exists(path):
            con = con or oracle.connect(data, cores())
            os.makedirs(os.path.dirname(path), exist_ok=True)
            con.execute(q).fetchdf().to_parquet(path + ".tmp")
            os.replace(path + ".tmp", path)
        res[op] = pd.read_parquet(path)
    return res


def check(plan, out, exp):
    """Compare each op's output of one pass (written under `out`) with its
    oracle; returns the ops that mismatched, with the reason."""
    import oracle
    import pandas as pd
    bad = {}
    for op, want in exp.items():
        got = oracle.read_output(os.path.join(out, op))
        if got is None:
            bad[op] = "no output"
            continue
        if op == "ann_probe":
            # each probe batch answers for its own ids: the expected rows are
            # the oracle's rows for those ids, batch by batch
            want = pd.concat([want[want["query_id"].isin(p)] for p in plan["probes"]],
                             ignore_index=True)
        a, b = oracle.fingerprint(got), oracle.fingerprint(want)
        if a != b:
            bad[op] = f"spark {a[:2]} != oracle {b[:2]}" if a[:2] != b[:2] else "hash mismatch"
    return bad


def check_passes(plan, out, exp, failed_calls):
    """Check every checked pass k (outputs under <out>/pass-<k>), as every
    pass's calls count in `attempted`. A mismatched op counts as one failure
    of its pass, unless its call already failed there with an exception
    (failed_calls[k-1] names those calls)."""
    return {f"pass-{k}/{op}": why
            for k, failed in enumerate(failed_calls, start=1)
            for op, why in check(plan, os.path.join(out, f"pass-{k}"), exp).items()
            if op not in failed}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; expected one of {WORKLOADS}")
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of an engine checkout: {need} is missing")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    state = os.path.join(root, ".perfbench")
    classpath = build(root, state)
    run_dir = os.path.join(state, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    scratch = os.path.join(run_dir, "scratch")
    for d in (out, scratch):
        os.makedirs(d)

    t0 = time.time()
    sizes, plan = make_inputs(args.workload, args.seed, data)
    gen_s = time.time() - t0
    cfg = {"workload": args.workload, "data": data, "out": out, "scratch": scratch,
           "warehouse": os.path.join(run_dir, "warehouse"),
           "index_root": os.path.join(run_dir, "indexes"),
           "seconds": args.seconds, "trace": bool(args.trace), "cores": cores(),
           "warm_passes": PASSES[args.workload][0], "min_passes": PASSES[args.workload][1],
           "run_id": f"{args.workload}-{args.seed}-{int(t0)}", "requests": plan}
    res, sql = run_jvm(root, state, classpath, cfg)
    exp = expected(args.workload, args.seed, data, state, sql)
    bad = check_passes(plan, out, exp, res["failed_calls"])

    if "dedup_keep_best" in exp:
        kb, dc = exp["dedup_keep_best"], exp["decontaminate"]
        sizes.update(dup_docs_frac=round(float((kb["cluster_size"] > 1).mean()), 4),
                     kept_frac=round(float(kb["kept"].mean()), 4),
                     contaminated_frac=round(float(dc["contaminated"].mean()), 4))
    med = statistics.median
    probes = res["probe_s"]
    attempted = res["attempted"]
    failed = res["failed"] + len(bad)
    # Every per-pass figure is the median over the fixed number of timed
    # passes.
    e2e = {
        "setup_s": (gen_s + res["setup_s"], "s"),
        "wall_s": (med(res["wall_s"]), "s"),
        "task_cpu_s": (med(res["task_cpu_s"]), "s"),
        "shuffle_mb": (med(res["shuffle_mb"]), "MB"),
        "heap_peak_mb": (med(res["heap_peak_mb"]), "MB"),
    }
    extra = {
        "fail_frac": (failed / attempted, "ratio"),
        "gc_s": (med(res["gc_s"]), "s"),
        "thread_cpu_s": (med(res["thread_cpu_s"]), "s"),
        "process_cpu_s": (med(res["process_cpu_s"]), "s"),
        "jit_s": (med(res["jit_s"]), "s"),
        "steal_s": (med(res["steal_s"]), "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    if args.workload == "curate":
        extra["ingest_s"] = (med(res["ingest_s"]), "s")
        # too few probes per run for a tail percentile with 10 samples
        # beyond it: the slowest probe stands in for the tail
        extra["probe_p50_s"] = (med(probes), "s")
        extra["probe_max_s"] = (max(probes), "s")
        extra["probe_samples"] = (len(probes), "count")
    layers = {}
    if args.trace:
        layers = {k: (v, unit_of(k)) for k, v in res["layers"].items()}
        layers["trace.overhead_s"] = (res["trace_overhead_s"], "s")
        layers["run.gc_s"] = extra["gc_s"]
        layers["spark.heap_retained_mb"] = extra["heap_retained_mb"]
        layers["run.fail_frac"] = extra["fail_frac"]
        layers["run.ingest_s"] = (med(res["ingest_s"]), "s")
        layers["run.probe_p50_s"] = (med(probes) if probes else 0.0, "s")
        layers["run.probe_max_s"] = (max(probes, default=0.0), "s")

    print(f"workload={args.workload} seed={args.seed} cores={cores()} inputs={sizes} "
          f"warm_walls={res['warm_walls']} timed_walls={res['wall_s']}")
    print(f"index bytes={res['index_bytes']} files={res['index_files']} "
          f"catalog tables={res['catalog_tables']}")
    for k, (v, u) in {**e2e, **extra, **layers}.items():
        print(f"  {k:42s} {v:14.6f} {u}")
    for e in res["errors"]:
        print(f"  error: {e}")
    for op, why in bad.items():
        print(f"  oracle mismatch: {op}: {why}")

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    pool = layers if args.trace else e2e
    metrics = {n: {"value": pool[n][0], "unit": pool[n][1]} for n in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf in ("core_busy", "job_overlap", "write_amp", "rows_read_per_hit"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
