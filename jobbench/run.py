#!/usr/bin/env python3
"""Job benchmark: the repo's pipelines timed as whole jobs on local[nproc].

    python3 jobbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(``src/main/scala``) and the harness (``jobbench/src``) with scalac into
``$CARGO_TARGET_DIR/jobbench`` (default ``.bench_build/jobbench``); later
runs reuse the classes while the sources are unchanged.

Workloads (inputs generated from ``--seed`` by ``gen.py``):

* ``vehicles_jobs`` - the reference's four pipelines over a dirty vehicles
  CSV: P1 the five DataUnderstanding queries, P2 clean + skewness, P3
  featurize + the nine PricePipeline regressors, P4 deriveFeatures +
  recommend.
* ``corpus_dedup`` - minhash near-dup pairs, dup clusters, revision-chain
  clusters and the LSH kNN join over a documents/embeddings fixture.
  Runnable by hand; BENCHMARK.json leaves it out so that all its runs fit
  the time one benchmark check may take.
* ``incremental_ingest`` - streaming minhash dedup, merge-apply and
  multi-batch apply round trips, and the streamed rollup refresh over the
  same kind of fixture.

Each pass issues the workload's calls in order from a single thread (one
closed-loop client); every call is timed on its own and its output
checked: row count and an order-insensitive digest equal on every pass,
the DuckDB oracle of the repo's ``SparkEntry.oracleSql`` on the warm-up
output, finite fit metrics. After the warm-up passes (two for
vehicles_jobs, one otherwise), whole passes repeat until ``--seconds``
have elapsed (at least one); each reported figure is the median over
those passes.

End-to-end metrics: ``job_s`` is the wall of a pass, ``cpu_s`` the
process CPU time it burns, ``live_heap_mb`` the heap still in use after
a full collection at the end of a pass (the largest over the passes),
and ``setup_s`` the time from input generation through session start and
the warm-up passes. Per-step walls (``understanding_s``, ``cleaning_s``,
``price_models_s``, ``recommend_s``; ``near_dup_s``, ``clusters_s``,
``knn_s``; ``stream_dedup_s``, ``cdc_apply_s``, ``rollup_refresh_s``)
are printed on the detail line with their median and sample count, and
the highest percentile that has ten samples above it when there are
that many.

The three tree regressors of P3 (``price_trees``) are attempted on every
pass but kept out of ``job_s`` and ``cpu_s``: they fail on this data
(``PricePipeline.regressors`` keeps the default maxBins=32 against
hundreds of categories) and are counted in ``failed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced passes and prints the per-layer profile (medians
over traced passes) plus the tracing overhead. The per-step detail of
every metric is printed before the last line and saved to
``<build>/profiles/<workload>-<seed>-trace<t>.json``. The last line of
stdout is the JSON result.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")

WORKLOADS = ("vehicles_jobs", "corpus_dedup", "incremental_ingest")
VEHICLE_ROWS = 5000
CORPUS_DOCS = 2000
CORPUS_VECS = 1000
TREE_MODELS = ("DecisionTree", "RandomForest", "GradientBoosting")
TREE_ERROR = "requires maxBins"
HARD_LIMIT_S = 170.0
HEAP = "2g"

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

PER_LAYER = [
    "app.self_s", "operators.self_s", "ml.featurize_s", "ml.fit_eval_s",
    "ml.recommend_s", "streaming.self_s",
    "spark.planner.plan_ms", "spark.planner.queries",
    "spark.scheduler.jobs", "spark.scheduler.stages",
    "spark.scheduler.stages_skipped", "spark.scheduler.tasks",
    "spark.scheduler.tasks_failed", "spark.scheduler.driver_gap_ms",
    "spark.scheduler.task_wait_ms",
    "spark.executor.run_ms", "spark.executor.cpu_ms",
    "spark.executor.busy_ratio", "spark.executor.task_skew",
    "spark.shuffle.write_bytes", "spark.shuffle.read_bytes",
    "spark.shuffle.fetch_wait_ms",
    "spark.memory.spill_bytes", "spark.memory.gc_ms",
    "spark.memory.peak_exec_bytes",
    "sources.input_bytes", "sources.input_records", "sources.scan_task_ms",
    "sources.output_bytes", "sources.output_records",
    "streaming.batches", "streaming.input_rows", "streaming.state_rows",
    "streaming.state_bytes", "streaming.batch_ms",
    "trace.overhead_share"]
# per-pass totals: summed over calls, except these
MAX_OVER_CALLS = {"spark.executor.task_skew", "spark.memory.peak_exec_bytes"}
RATIO = "spark.executor.busy_ratio"


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_skew", "_share")):
        return "ratio"
    return "count"


def fail(msg, code=2):
    print(f"jobbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_jars():
    """The jar directory the repo's build.sbt compiles against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    candidates = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if os.path.isdir(d) and any(j.startswith("spark-sql_") for j in os.listdir(d)):
            return d
    fail("no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    out = []
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in os.walk(base):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def build(build_dir, jars):
    """Compile engine + harness once per source state; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(build_dir, f"classes-{stamp}")
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
         f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed", 1)
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in os.listdir(build_dir):
        if old.startswith("classes-") and os.path.join(build_dir, old) != tmp:
            shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    os.rename(tmp, classes)
    print(f"jobbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


# ------------------------------------------------------------------ checks

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in sorted("|".join(canon(r[i]) for i in order) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_checks(work, input_dir):
    """Warm-up outputs vs the repo's DuckDB oracle SQL over the same fixture."""
    out_dir = os.path.join(work, "outputs")
    if not os.path.isdir(out_dir):
        return []
    import duckdb
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    problems = []
    for name in sorted(os.listdir(out_dir)):
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        grows, gcols = got.fetchall(), list(got.columns)
        exp = con.sql(oracle[name])
        erows, ecols = exp.fetchall(), list(exp.columns)
        if sorted(gcols) != sorted(ecols):
            problems.append(f"{name}: columns {sorted(gcols)} != oracle {sorted(ecols)}")
        elif len(grows) != len(erows):
            problems.append(f"{name}: {len(grows)} rows != oracle {len(erows)}")
        elif table_hash(grows, gcols) != table_hash(erows, ecols):
            problems.append(f"{name}: row hash differs from the oracle")
        elif not grows:
            problems.append(f"{name}: empty output")
    return problems


def call_checks(passes):
    """Every pass must reproduce the warm-up's rows and digest; fits must be
    finite; the only failures allowed are the known tree-fit defect."""
    problems = []
    ref = {}
    for p in passes:
        for c in p["calls"]:
            key = f'{c["step"]}/{c["name"]}'
            if not c["ok"]:
                if not (c["name"] in TREE_MODELS and TREE_ERROR in c["error"]):
                    problems.append(f'pass {p["idx"]} {key} failed: {c["error"]}')
                continue
            if c["fit"]:
                bad = [k for k, v in c["fit"].items() if v is None or not math.isfinite(v)]
                if bad:
                    problems.append(f'pass {p["idx"]} {key}: non-finite {bad}')
                continue
            if c["rows"] <= 0:
                problems.append(f'pass {p["idx"]} {key}: no rows')
            first = ref.setdefault(key, c["digest"])
            if c["digest"] != first:
                problems.append(f'pass {p["idx"]} {key}: digest {c["digest"]} != warm-up {first}')
    return problems


# ------------------------------------------------------------------ metrics

def self_times(spans):
    """Per-layer self time of one pass: span minus its direct children."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["wall_s"]
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + s["wall_s"] - child.get(s["id"], 0.0)
    return out


def pass_totals(p, cores):
    """Per-layer metrics of one traced pass, summed over its calls."""
    tot = {}
    for call, m in p["layers"].items():
        for k, v in m.items():
            if v is None:
                continue
            if k in MAX_OVER_CALLS:
                tot[k] = max(tot.get(k, 0.0), v)
            elif k != RATIO:
                tot[k] = tot.get(k, 0.0) + v
    wall_ms = 1000.0 * sum(c["wall_s"] for c in p["calls"])
    tot[RATIO] = tot.get("spark.executor.run_ms", 0.0) / max(1.0, wall_ms * cores)
    st = self_times(p["spans"])
    for layer in ("app", "operators", "streaming"):
        tot[f"{layer}.self_s"] = st.get(layer, 0.0)
    for layer in ("ml.featurize", "ml.fit_eval", "ml.recommend"):
        tot[f"{layer}_s"] = st.get(layer, 0.0)
    return tot


def named_walls(p):
    walls = {}
    for c in p["calls"]:
        walls[f'{c["step"]}_s'] = walls.get(f'{c["step"]}_s', 0.0) + c["wall_s"]
    return walls


def summary(values):
    """Median and sample count, plus the highest nearest-rank percentile
    that has at least ten samples above it, when there are that many."""
    v = sorted(values)
    out = {"median": statistics.median(v), "n": len(v)}
    if len(v) > 10:
        q = 100 * (len(v) - 10) // len(v)
        out[f"p{q}"] = v[max(0, math.ceil(q / 100 * len(v)) - 1)]
    return out


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(HARNESS_SRC):
        fail(f"engine sources not found under {ROOT}; run from a full checkout")
    build_root = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(build_root):
        build_root = os.path.join(ROOT, build_root)
    build_dir = os.path.join(build_root, "jobbench")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes = build(build_dir, jars)
    sys.path.insert(0, HERE)
    import gen

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(input_dir)
    try:
        t_setup0 = time.time()
        if args.workload == "vehicles_jobs":
            gen.vehicles_csv(os.path.join(input_dir, "vehicles.csv"), args.seed, VEHICLE_ROWS)
        else:
            gen.corpus(input_dir, args.seed, CORPUS_DOCS, CORPUS_VECS)
        gen_s = time.time() - t_setup0

        result_file = os.path.join(work, "result.json")
        log_file = os.path.join(work, "jvm.log")
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
                f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
                "-Dspark.ui.enabled=false"]
               + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{classes}:{os.path.join(jars, '*')}", "jobbench.JobBench",
                  "--workload", args.workload, "--input", input_dir, "--work", work,
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--cores", str(cores), "--out", result_file])
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=max(30.0, HARD_LIMIT_S - (time.time() - t_setup0)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode != 0 or not os.path.isfile(result_file):
            with open(log_file) as f:
                tail = f.read()[-6000:]
            print(tail, file=sys.stderr)
            fail(f"benchmark JVM exited with {proc.returncode}", 1)
        with open(result_file) as f:
            res = json.load(f)

        t_check = time.time()
        problems = call_checks(res["passes"]) + oracle_checks(work, input_dir)
        check_s = time.time() - t_check
        setup_s = res["ready_ms"] / 1000.0 - t_setup0
        timed = [p for p in res["passes"] if p["kind"] != "warmup"]
        plain = [p for p in timed if p["kind"] == "timed"]
        traced = [p for p in timed if p["kind"] == "traced"]

        def job_s(p):
            return sum(c["wall_s"] for c in p["calls"] if c["step"] != "price_trees")

        def cpu_s(p):
            return sum(c["cpu_s"] for c in p["calls"] if c["step"] != "price_trees")

        attempted = sum(len(p["calls"]) for p in timed)
        failed = sum(1 for p in timed for c in p["calls"] if not c["ok"])
        detail = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "passes": {"warmup": len(res["passes"]) - len(timed), "untraced": len(plain),
                       "traced": len(traced)},
            "setup": {"setup_s": setup_s, "generate_s": gen_s,
                      "session_s": res["session_ready_ms"] / 1000.0 - t_setup0 - gen_s,
                      "warmup_passes_s": sum(c["wall_s"] for p in res["passes"]
                                             if p["kind"] == "warmup" for c in p["calls"])},
            "ops_failed_share": failed / max(1, attempted),
            "check_s": check_s,
            "timings": {}, "problems": problems}
        walls = {}
        for p in plain:
            for k, v in list(named_walls(p).items()) + [("job_s", job_s(p)), ("cpu_s", cpu_s(p))]:
                walls.setdefault(k, []).append(v)
        detail["timings"] = {k: summary(v) for k, v in sorted(walls.items())}

        if args.trace == 0:
            metrics = {"job_s": statistics.median(job_s(p) for p in plain),
                       "setup_s": setup_s,
                       "cpu_s": statistics.median(cpu_s(p) for p in plain),
                       "live_heap_mb": max(p["live_heap_bytes"] for p in plain) / 2**20}
        else:
            totals = [pass_totals(p, cores) for p in traced]
            metrics = {k: statistics.median(t.get(k, 0.0) for t in totals)
                       for k in PER_LAYER if k != "trace.overhead_share"}
            untraced_job = statistics.median(job_s(p) for p in plain)
            traced_job = statistics.median(job_s(p) for p in traced)
            metrics["trace.overhead_share"] = traced_job / untraced_job - 1.0
            detail["trace"] = {"untraced_job_s": untraced_job, "traced_job_s": traced_job}
            # every profile metric for every call, medians over traced passes
            per_call = {}
            for p in traced:
                for call, m in p["layers"].items():
                    for k, v in m.items():
                        per_call.setdefault(call, {}).setdefault(k, []).append(v or 0.0)
            detail["per_call"] = {c: {k: statistics.median(v) for k, v in sorted(m.items())}
                                  for c, m in per_call.items()}

        prof_dir = os.path.join(build_dir, "profiles")
        os.makedirs(prof_dir, exist_ok=True)
        with open(os.path.join(prof_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump({"detail": detail, "passes": res["passes"]}, f, indent=1)
        print(json.dumps(detail, sort_keys=True))
        for msg in problems:
            print(f"jobbench: CHECK FAILED {msg}", file=sys.stderr)
        line = {"correct": not problems, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": "MB" if k == "live_heap_mb" else unit_of(k)}
                            for k, v in metrics.items()}}
        print(json.dumps(line))
        sys.exit(0 if not problems else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
