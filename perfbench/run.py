#!/usr/bin/env python3
"""The graft benchmark: one command, one JVM per run, one closed-loop client.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/target. Each run then

1. generates the workload's inputs from the seed (gen.py), then starts a
   Spark session and warms it up on small inputs; set-up time is all of
   that, in a cold JVM: it pays the class loading and first JIT/codegen;
2. runs the workload's calls back to back on local[4] for S seconds
   (perfbench.Main), forcing every query through the noop sink;
3. checks every output: query results against their DuckDB oracle SQL on
   the same generated tables (the compare rules of tools/check_oracle.py),
   ETL outputs against what the generator predicts;
4. prints one JSON line: end-to-end metrics with --trace 0, per-layer
   metrics with --trace 1 (the traced run also writes its spans to
   perfbench/out/trace-<workload>-<seed>.json).
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

GRAPH_SF = 0.01
EAV_RECORDS = 200
WARM_EAV_RECORDS = 20
JVM_HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build
def _sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ROOT}/src/main/**/*", recursive=True)
                   + glob.glob(f"{HERE}/src/main/**/*", recursive=True)
                   + [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    stamp = f"{HERE}/target/build-stamp.json"
    digest = _sources_digest()
    if os.path.exists(stamp):
        s = json.load(open(stamp))
        if s.get("digest") == digest:
            return s["classpath"]
    log("building the engine and the harness (sbt, offline) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([os.environ.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                f"-Dsbt.global.base={HERE}/.sbt-global", "-Xmx2g",
                                "-XX:-UsePerfData"])
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    if p.returncode != 0:
        log(p.stdout[-4000:], p.stderr[-4000:])
        raise SystemExit("build failed")
    classpath = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")][-1].strip()
    json.dump({"digest": digest, "classpath": classpath}, open(stamp, "w"))
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


# ------------------------------------------------------------------ inputs
def make_inputs(workload, seed, work):
    """Generate the timed and the warm-up inputs; returns (data, warm)."""
    data, warm = f"{work}/data", f"{work}/warm"
    if workload == "etl_deid":
        gen.eav(seed, EAV_RECORDS, data)
        gen.eav(seed, WARM_EAV_RECORDS, warm)
    else:
        gen.tables(seed, 0.001, warm)
        gen.tables(seed, GRAPH_SF, data)
    return data, warm


# ------------------------------------------------------------------ checks
def check_queries(out, data):
    """DuckDB oracle compare of every result dumped under ``out/results``
    (oracle SQL from ``out/run.json``) on the tables in ``data``; returns
    {query: why} for each failed one."""
    import duckdb
    sys.path.insert(0, f"{ROOT}/tools")
    from check_oracle import TABLES, check_one
    oracle = json.load(open(f"{out}/run.json"))["facts"].get("oracle_sql", {})
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        src = f"{data}/{t}.parquet"
        pattern = f"{src}/*.parquet" if os.path.isdir(src) else src
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out}/results/{name}/*.parquet")
        try:
            ok, msg = check_one(con, name, files, sql) if files else (False, "no output")
        except Exception as e:  # a checker error is a failed check
            ok, msg = False, f"checker error: {e}"
        if not ok:
            bad[name] = msg
    return bad


def check_etl(facts, expected):
    """Compare the ETL run's facts with what the generator predicts."""
    want = {
        "input_rows": expected["input_rows"],
        "kept_rows": expected["kept_rows"],
        "kept_by_status": expected["kept_by_status"],
        "date_errors": expected["date_errors"],
        "calc_records": expected["calc_records"],
        "secondary_records": expected["secondary_records"],
        "envelopes_with_metadata": facts.get("envelopes"),
        "header_ok": True,
    }
    return {k: f"got {facts.get(k)!r}, want {v!r}" for k, v in want.items() if facts.get(k) != v}


# --------------------------------------------------------------------- run
def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(run, problems, gen_s, trace):
    """The result line from the harness's run.json and the failed checks.

    A call fails when it throws or when its output check fails; every timed
    execution of a failed call counts as failed and none counts as a time.
    """
    calls = {q for p in run["passes"] for q in p["times"]} | set(run["errors"])
    etl_wrong = any(k.startswith("etl.") for k in problems)
    wrong = {q for q in calls if q in problems or etl_wrong}
    attempted = run["attempted"]
    failed = run["failed"] + sum(1 for p in run["passes"] for q in p["times"] if q in wrong)

    def wall_of(p):
        return sum(t for q, t in p["times"].items() if q not in wrong)

    # the second half of the first min_passes untraced passes (the same
    # passes in every run, whatever the run's speed)
    n = run["min_passes"]
    steady = [p for p in run["passes"] if not p["traced"]][n // 2:n]
    start_s, warmup_s = run["setup"]
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(run["layers"].items())}
        metrics["session.start_s"] = {"value": start_s, "unit": "s"}
        metrics["session.warmup_s"] = {"value": warmup_s, "unit": "s"}
        metrics["session.generate_s"] = {"value": gen_s, "unit": "s"}
    else:
        metrics = {
            "setup_s": {"value": gen_s + start_s + warmup_s, "unit": "s"},
            "wall_s": {"value": median([wall_of(p) for p in steady]), "unit": "s"},
            "cpu_s": {"value": median([p["cpu_s"] for p in steady]), "unit": "s"},
            "peak_heap_mb": {"value": run["peak_heap_mb"], "unit": "MB"},
            "success_frac": {"value": 1 - failed / attempted, "unit": "ratio"},
        }
    return {"correct": not problems and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args(argv)
    if not (os.path.isfile(f"{ROOT}/src/main/scala/graft/SparkEntry.scala")
            and os.path.isfile(f"{ROOT}/tools/check_oracle.py")):
        log("engine sources not found: run from the root of a graft checkout")
        return 2
    classpath = build()

    work = f"{HERE}/work/{a.workload}-{a.seed}-{os.getpid()}"
    out = f"{work}/out"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out)
    try:
        # set-up, part 1: input generation (part 2, session start and
        # warm-up, runs in the JVM)
        t0 = time.perf_counter()
        data, warm = make_inputs(a.workload, a.seed, work)
        gen_s = time.perf_counter() - t0
        log(f"[perfbench] inputs generated in {gen_s:.2f} s")
        # a fixed heap, so pass times do not depend on when G1 grows it;
        # no perf-data file outside the checkout
        cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work}",
               "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", classpath, "perfbench.Main",
               "--workload", a.workload, "--data", data, "--warm", warm, "--out", out,
               "--seconds", str(a.seconds), "--trace", str(a.trace)]
        env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=f"{work}/spark-local")
        p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=170)
        if p.returncode != 0:
            log(p.stderr[-6000:])
            log(f"harness exited with {p.returncode}")
            return 1
        for line in p.stderr.splitlines():
            if line.startswith("[perfbench]"):
                log(line)
        run = json.load(open(f"{out}/run.json"))

        # checks (untimed): every output against its oracle
        problems = dict(run["errors"])
        if a.workload == "etl_deid":
            expected = json.load(open(f"{data}/expected.json"))
            problems.update({f"etl.{k}": v for k, v in check_etl(run["facts"], expected).items()})
        else:
            problems.update(check_queries(out, data))
        for k, v in problems.items():
            log(f"FAIL {k}: {v}")
        result = summarize(run, problems, gen_s, a.trace)
        if a.trace:
            trace_file = f"{HERE}/out/trace-{a.workload}-{a.seed}.json"
            os.makedirs(os.path.dirname(trace_file), exist_ok=True)
            shutil.copy(f"{out}/trace.json", trace_file)
            log(f"tracing overhead: {run['trace_overhead_s']:+.4f} s per pass "
                f"(traced wall_s minus untraced wall_s); spans in {os.path.relpath(trace_file, ROOT)}")
        log(f"{a.workload} seed={a.seed}: {len(run['passes'])} passes, {result['attempted']} calls, "
            f"{result['failed']} failed, failed_frac={result['failed'] / result['attempted']:.4f}")
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    if name.endswith("_rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
