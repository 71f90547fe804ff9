#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into `target/` and `perfbench/target/`);
inputs, outputs and Spark's scratch space live under `.bench_build/`.

Each run is one JVM on `local[nproc]`: set-up (session, staged artifacts
and two untimed warm-up passes), timed passes of the workload's jobs until
S seconds have passed (at least two), then an untimed check pass. Jobs are
executed into a `noop` sink, and the Spark cache is cleared before every
pass. The check compares oracle jobs with DuckDB on the generated corpus,
jobs without an oracle with their own earlier execution, and the
recommender's CSVs with the reference's golden shape. Any job that throws,
differs or returns no rows counts as failed.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
ones. With `--trace 1` the run alternates untraced and traced passes and
reports the per-layer metrics, among them the tracing overhead (traced
minus untraced pass time); the span file is kept under
`.bench_build/traces/`. A per-run record lands in `.bench_build/results/`.

Workloads: `short-mix` and `operator-heavy` (see BENCHMARK.json);
`recsys-etl` runs the reference recommender pipeline on its own, and
`survey` times every driver query once at the short-mix scale, which is how
short-mix's query list was picked.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ["short-mix", "operator-heavy", "recsys-etl", "survey"]
SHORT_MIX_SF = 0.01       # star schema scale of short-mix
SHORT_MIX_CONTENT = 42    # short-mix rows are fixed; the seed only orders them
HEAVY_SF = 0.02           # star schema scale of operator-heavy
RMSE_SLACK = 1.0          # the recommender's RMSE stays under noise + slack
HEAP = "3g"
# A run lives about a minute. Under C2 the JIT keeps compiling through all
# of it, competing with Spark's task threads, and pass times drift run to
# run; C1-only code settles within the warm-up. The serial collector adds
# no concurrent GC threads to a heap that retains under 100 MB. C1 frames
# are larger, and deserializing ALS's iterated lineage in a task overflows
# the default thread stack.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC", "-Xss16m"]

END_TO_END = {"setup_s": "s", "pass_s": "s", "job_p50_s": "s",
              "job_p90_s": "s", "cpu_s": "s", "retained_heap_mb": "MB"}
MODULES = ["operators.Profile", "operators.Recommend", "operators.Relational",
           "ext.Dedup", "ext.TextOps", "ext.Graph", "ext.Similarity",
           "ml.Als"]
EXPRS = ["ShingleHashes", "SimHash64", "MinHashSignature", "JaccardSim",
         "LangId", "VectorDot"]
PER_LAYER = (
    ["entry.build_s", "entry.build_self_s", "planner.plan_s",
     "planner.plan_nodes", "planner.exchanges", "planner.broadcasts",
     "exec.action_s", "exec.action_self_s", "exec.jobs", "exec.stages",
     "exec.tasks", "exec.task_s", "exec.task_cpu_s", "exec.task_overhead_s",
     "exec.idle_frac", "exec.serial_stage_s", "shuffle.write_mb",
     "shuffle.read_mb", "memory.spill_mb", "memory.peak_exec_mb",
     "sources.scan_s", "scan.input_mb", "scan.input_rows",
     "sources.csv_read_s", "sources.write_s", "ml.fit_s", "ml.recommend_s",
     "pipeline.action_s", "core.session_s", "core.persisted_rdds",
     "core.storage_mb", "trace.overhead_s", "trace.spans",
     "check.failed_frac"]
    + [f"{m}.{k}" for m in MODULES for k in ("action_s", "task_cpu_s")]
    + [f"functions.{e}.{k}" for e in EXPRS
       for k in ("action_s", "algebra_action_s")])
LAYER_UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a rebuild follows any edit."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for d in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for base, _, files in sorted(os.walk(d)):
            tops += [os.path.join(base, f) for f in sorted(files)]
    for p in tops:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(deadline):
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"], cwd=HERE, env=env,
            stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        die("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    cp = out.stdout.strip().splitlines()[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def generate(workload, seed, data):
    import gen
    if workload in ("short-mix", "survey"):
        gen.star(data, SHORT_MIX_SF, SHORT_MIX_CONTENT, order_seed=seed)
    elif workload == "operator-heavy":
        gen.star(data, HEAVY_SF, seed)
        gen.probes(data, seed)
    return gen.recsys(data, seed) if workload in ("operator-heavy", "recsys-etl") else None


def run_jvm(cp, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", *JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("engine run timed out")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"engine run failed (exit {rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_oracle(data, work, checks):
    """DuckDB on the generated corpus, compared with the normalisation of
    tools/check_oracle.py: columns by name, rows by all columns, floats by
    bit pattern."""
    import duckdb
    import numpy as np
    if not any(c["kind"] == "Oracle" for c in checks):
        return {}
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data}/{t}.parquet'")

    def norm(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    problems = {}
    for c in checks:
        if c["kind"] != "Oracle" or c["problem"]:
            continue
        try:
            exp = norm(con.execute(c["sql"]).fetchdf())
            files = sorted(os.path.join(work, "out", c["name"], f)
                           for f in os.listdir(os.path.join(work, "out",
                                                            c["name"]))
                           if f.endswith(".parquet"))
            got = norm(con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf())
        except Exception as e:  # noqa: BLE001 - reported as a failure
            problems[c["name"]] = f"oracle error: {e}"
            continue
        if list(exp.columns) != list(got.columns):
            problems[c["name"]] = f"columns {list(got.columns)}"
        elif len(exp) != len(got):
            problems[c["name"]] = f"rows {len(got)} != {len(exp)}"
        elif len(exp) == 0:
            problems[c["name"]] = "empty result"
        else:
            for col in exp.columns:
                a, b = exp[col], got[col]
                if (np.issubdtype(a.dtype, np.floating)
                        or np.issubdtype(b.dtype, np.floating)):
                    eq = (a.to_numpy(dtype="float64").view("uint64")
                          == b.to_numpy(dtype="float64").view("uint64"))
                else:
                    try:
                        eq = ((a == b) | (a.isna() & b.isna())).to_numpy()
                    except Exception:  # noqa: BLE001 - mixed dtypes
                        eq = (a.astype(str) == b.astype(str)).to_numpy()
                if not eq.all():
                    problems[c["name"]] = f"value diffs in {col}"
                    break
    return problems


def check_golden(work, rmse, noise):
    """The reference's output shape: header, 5 rows, avg_rating desc."""
    import csv
    problems = []
    for f in ["recommendations_series.csv", "recommendations_movies.csv"]:
        with open(os.path.join(work, f), newline="", encoding="utf-8") as fh:
            rows = list(csv.reader(fh))
        if not rows or rows[0] != ["ID", "Name", "English name", "avg_rating"]:
            problems.append(f"{f}: header {rows[:1]}")
            continue
        body = rows[1:]
        avgs = [float(r[3]) for r in body if len(r) == 4 and r[3]]
        if len(body) != 5 or len(avgs) != 5:
            problems.append(f"{f}: {len(body)} rows")
        elif avgs != sorted(avgs, reverse=True):
            problems.append(f"{f}: not sorted by avg_rating")
    if not rmse < noise + RMSE_SLACK:
        problems.append(f"rmse {rmse} over {noise + RMSE_SLACK}")
    return "; ".join(problems) or None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found next to perfbench/")
    build_deadline = t_start + 840
    cp = classpath(build_deadline)
    deadline = time.time() + (3000 if a.workload == "survey" else 170)

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t0 = time.time()
    noise = generate(a.workload, a.seed, data)
    gen_s = time.time() - t0
    cores = len(os.sched_getaffinity(0))
    res = run_jvm(cp, ["--workload", a.workload, "--data", data,
                       "--work", work, "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--cores", str(cores)],
                  work, deadline)

    jvm_s = time.time() - t0 - gen_s
    checks = res["checks"]
    t1 = time.time()
    oracle = check_oracle(data, work, checks)
    oracle_s = time.time() - t1
    for c in checks:
        if c["name"] in oracle:
            c["problem"] = oracle[c["name"]]
        if c["kind"] == "Golden" and not c["problem"]:
            with open(os.path.join(work, "rmse.txt")) as f:
                rmse = float(f.read())
            c["problem"] = check_golden(work, rmse, noise)
            log(f"recsys RMSE {rmse:.4f} (planted noise {noise})")
    bad = {c["name"]: c["problem"] for c in checks if c["problem"]}

    passes = res["passes"]
    plain = [p for p in passes if not p["traced"]]
    runs = [j for p in passes for j in p["jobs"] + p["layer_jobs"]]
    attempted = len(runs) + len(checks)
    failed = sum(1 for j in runs if j["error"] or j["name"] in bad) + len(bad)
    for name, why in sorted(bad.items()):
        log(f"FAILED {name}: {why}")

    if a.workload == "survey":
        times = {}
        for j in runs:
            times.setdefault(j["name"], []).append(j["wall_s"])
        with open(os.path.join(BUILD, "survey.json"), "w") as f:
            json.dump({"times": {k: min(v) for k, v in times.items()},
                       "failed": bad}, f, indent=1, sort_keys=True)

    walls = sorted(j["wall_s"] for p in plain for j in p["jobs"])
    q = statistics.quantiles(walls, n=10) if len(walls) > 1 else walls * 9
    log(f"{a.workload} seed {a.seed}: {len(passes)} passes, "
        f"{len(walls)} job samples, gen {gen_s:.1f}s, jvm {jvm_s:.1f}s, "
        f"oracle {oracle_s:.1f}s, "
        f"failed {failed}/{attempted}")
    if a.trace:
        layers = dict(res.get("layers", {}))
        layers["sources.write_s"] = layers.get("sources.action_s", 0.0)
        traced = [p["wall_s"] for p in passes if p["traced"]]
        layers["trace.overhead_s"] = median(traced) - median(
            [p["wall_s"] for p in plain])
        layers["check.failed_frac"] = failed / attempted
        metrics = {}
        for k in PER_LAYER:
            unit = next((u for s, u in LAYER_UNITS.items() if k.endswith(s)),
                        "count")
            metrics[k] = {"value": float(layers.get(k, 0.0)), "unit": unit}
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(
            trace_dir, f"{a.workload}-seed{a.seed}.spans.json"))
    else:
        values = {
            "setup_s": res["setup_s"],
            "pass_s": median([p["wall_s"] for p in plain]),
            "job_p50_s": median(walls),
            "job_p90_s": q[8],
            "cpu_s": median([p["cpu_s"] for p in plain]),
            "retained_heap_mb": median([p["retained_heap_mb"] for p in plain]),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump({"result": res, "failed_jobs": bad, "gen_s": gen_s,
                   "metrics": metrics}, f, indent=1)
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(
        BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not bad and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
