#!/usr/bin/env python3
"""Benchmark of the medallion pipeline and a slice of the query inventory.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cron_hourly --seed 1 --seconds 15 --trace 0

Workloads: cron_hourly, backfill_day, inventory_slice (see README.md).
The run builds the program from source if needed, generates its inputs from
the seed, starts one JVM, which builds the session cold and measures whole
passes of the workload for `--seconds`, checks every output, and prints one
JSON object as the last line of standard output. With
`--trace 0` it reports the end-to-end metrics; with `--trace 1` it runs an
extra traced pass and reports the per-layer metrics instead. Any failed call
or wrong output makes the run exit with code 1.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 150
# the calls op_mean_s is taken over: silver hours, or slice queries
OP_LAYERS = ("Medallion.serialise", "ops", "llmops", "pipeline")
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def testdata(sf):
    """A parquet lake of the repo's test data (TESTDATA.md)."""
    return os.path.join(os.path.expanduser("~/testdata"), sf)


# the slice reads the sf0.01 lake; the generator draws rows from sf0.1 events
SLICE_SF = "sf0.01"
EVENTS_SF = "sf0.1"


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: cannot find the Spark jars (set SPARK_HOME)")
    return home


def source_fingerprint():
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "src"), PROGRAM_SOURCES]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt, offline; return the
    runtime classpath. Skipped when the sources have not changed."""
    if not os.path.isdir(PROGRAM_SOURCES):
        raise SystemExit(f"perfbench: program sources not found at {PROGRAM_SOURCES}")
    fp = source_fingerprint()
    stamp = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip(), fp
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log("building (sbt compile) ...")
    t = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(fp)
    log(f"built in {time.time() - t:.1f}s")
    return open(cp_file).read().strip(), fp


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def driver_mem():
    return os.environ.get("SPARK_DRIVER_MEM", "8g")  # as the repo's build.sbt


def java_cmd(cp, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{driver_mem()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}/derby", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def oracle_reference(cp):
    """Row count, digest and DuckDB seconds of every slice query's oracle
    SQL, computed once per checkout and kept in the build directory, keyed
    by the sources and the lake files."""
    lake = testdata(SLICE_SF)
    key = hashlib.sha256(json.dumps([source_fingerprint(), metrics.SLICE] + [
        (f, os.path.getsize(os.path.join(lake, f)), os.path.getmtime(os.path.join(lake, f)))
        for f in sorted(os.listdir(lake))]).encode()).hexdigest()
    path = os.path.join(TARGET, "oracle.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if cached["key"] == key:
            return cached["queries"]
    log("computing oracle results of the slice ...")
    sql_file = os.path.join(TARGET, "oracle_sql.json")
    subprocess.run(java_cmd(cp, TARGET, {"mode": "oracle", "queries": ",".join(metrics.SLICE),
                                         "out": sql_file}),
                   check=True, stdout=sys.stderr, stdin=subprocess.DEVNULL, timeout=120)
    with open(sql_file) as fh:
        queries = check.oracle_results(lake, json.load(fh))
    with open(path, "w") as fh:
        json.dump({"key": key, "queries": queries}, fh)
    return queries


def run_jvm(cp, run_dir, tag, args):
    """Start one benchmark JVM and wait for it; return its result JSON."""
    out = os.path.join(run_dir, f"{tag}.json")
    cmd = java_cmd(cp, run_dir, dict(args, out=out))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    logf = open(os.path.join(run_dir, f"{tag}.log"), "w")
    t_start = time.time()
    cmd += ["--t0-ms", str(int(t_start * 1000))]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:  # also on SIGTERM: never leave a JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        logf.close()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, f"{tag}.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: JVM {tag} exited with {proc.returncode}")
    with open(out) as fh:
        res = json.load(fh)
    log(f"{tag}: setup {res['setup_s']:.2f}s, JVM wall {time.time() - t_start:.2f}s")
    return res


def prepare_pipeline(workload, seed, run_dir):
    """Generate the bronze files and pre-land hour 0 for the cold first call."""
    src = os.path.join(run_dir, "src")
    manifest, gold = gen.generate(workload, seed, src,
                                  os.path.join(testdata(EVENTS_SF), "events.parquet"))
    with open(os.path.join(run_dir, "hours.tsv"), "w") as fh:
        for f in manifest["files"]:
            fh.write(f"{f['day']}\t{f['hour']}\t{f['file']}\t{f['lines']}\n")
    first = manifest["files"][0]
    landed = os.path.join(run_dir, "lake0", "bronze", "gharchive", "events",
                          first["day"], f"{first['hour']:02d}")
    os.makedirs(landed)
    os.link(os.path.join(src, first["file"]), os.path.join(landed, first["file"]))
    return manifest, gold


def pass_calls(result, summaries):
    """The calls made directly inside the given passes."""
    spans = {p["span"] for p in summaries}
    return [c for c in result["calls"] if c["parent"] in spans]


def one_pass(result, label):
    summary = result.get(label) or {}
    return summary, pass_calls(result, [summary] if summary else [])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def calibrate():
    """Milliseconds a fixed single-threaded hash loop takes right now (median
    of five): how fast the box is at the start of the run. Not a metric;
    it goes into the context record next to the entry loadavg."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        h = b"perfbench"
        for _ in range(50_000):
            h = hashlib.sha256(h).digest()
        times.append((time.perf_counter() - t) * 1e3)
    return round(median(times), 3)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15,
                    help="measuring time: whole timed passes, as many as fit, at least one")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # turn SIGTERM into an exit, so cleanup (child JVMs, run dir) still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # read before any JVM of ours exists: the load of the box, not of us
    with open("/proc/loadavg") as fh:
        load_entry = [float(x) for x in fh.read().split()[:3]]
    for sf in (SLICE_SF, EVENTS_SF):
        if not os.path.isdir(testdata(sf)):
            raise SystemExit(f"perfbench: test data not found at {testdata(sf)}")
    cp, fingerprint = build()
    oracle = oracle_reference(cp)

    os.makedirs(WORK, exist_ok=True)
    for stale in os.listdir(WORK):  # left behind by a killed run
        if stale.startswith("run-"):
            shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
    run_id = f"{a.workload}-s{a.seed}-{int(time.time())}"
    run_dir = os.path.join(WORK, f"run-{run_id}")
    os.makedirs(run_dir)
    context = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
               "load_entry": load_entry, "calib_ms": calibrate(), "nproc": os.cpu_count(),
               "cores": cores(), "driver_mem": driver_mem(), "source_sha256": fingerprint,
               "commit": git_commit()}
    try:
        result, record = run(a, cp, run_dir, run_id, oracle, context)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{run_id}-t{a.trace}.json"), "w") as fh:
        json.dump(dict(context, **record, result=result), fh, indent=1)
    print("context " + json.dumps(context))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # an exported checkout; source_sha256 identifies it
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run(a, cp, run_dir, run_id, oracle, context):
    """Generate, launch, check and measure; return the result line and the
    per-call timings for the run's record."""
    pipeline = a.workload != "inventory_slice"
    jvm_args = {"workload": a.workload, "work": run_dir, "cores": cores(), "run-id": run_id,
                "sf": testdata(SLICE_SF), "seconds": a.seconds}
    if pipeline:
        manifest, gold = prepare_pipeline(a.workload, a.seed, run_dir)
        context["input"] = {k: manifest[k] for k in
                            ("shape", "events", "valid_events", "bytes", "raw_bytes")}
        context["input"]["files"] = len(manifest["files"])
    else:
        order = list(metrics.SLICE)
        random.Random(a.seed).shuffle(order)
        jvm_args["queries"] = ",".join(
            [metrics.SLICE_FIRST] + [q for q in metrics.SLICE if q != metrics.SLICE_FIRST])
        jvm_args["order"] = ",".join(order)
        context["input"] = {"sf_dir": testdata(SLICE_SF), "queries": len(metrics.SLICE)}

    main_res = run_jvm(cp, run_dir, "main", dict(jvm_args, mode="main", trace=a.trace))

    calls = [c for c in main_res["calls"] if c["layer"] not in ("harness", "Sessions")]
    timed = main_res["timed"]
    untraced = pass_calls(main_res, timed)
    con = check.connect()
    if pipeline:
        wrong = check.pipeline(con, manifest, gold, timed + [
            main_res[k] for k in ("traced", "untraced_again") if k in main_res])
    else:
        wrong = check.slice_results(con, run_dir, metrics.SLICE, oracle)
    for w in wrong:
        log("WRONG:", w)
    attempted = len(calls)
    failed = min(attempted, sum(not c["ok"] for c in calls) + len(wrong))
    ops = [c["wall_s"] for c in untraced if c["layer"] in OP_LAYERS]

    if not a.trace:
        values = {
            "setup_s": main_res["setup_s"],
            # the mean, not the median: with the host's fast and slow phases
            # the median of a run's calls jumps between the two (see README)
            "op_mean_s": mean(ops),
            "pass_s": mean([p["pass_s"] for p in timed]),
        }
        names = metrics.END_TO_END
    else:
        values = per_layer(main_res, failed / attempted if attempted else 1.0)
        if pipeline:
            values.update(workload_views(untraced, manifest, len(timed)))
            ref = check.duckdb_reference(con, manifest, gold, run_dir)
            spark_s = sum(c["wall_s"] for c in untraced if c["layer"] in
                          ("Medallion.serialise", "Medallion.aggregate")) / len(timed)
        else:
            values["query_total_s"] = sum(ops) / len(timed)
            # DuckDB's time for the oracle SQL, measured when it was cached
            ref = {"total_s": sum(oracle[q][2] for q in metrics.SLICE if q in oracle)}
            spark_s = values["query_total_s"]
        values.update({f"duckdb.{k}": v for k, v in ref.items()})
        values["duckdb.ratio"] = spark_s / ref["total_s"] if ref.get("total_s") else 0.0
        names = metrics.PER_LAYER

    result = {
        "correct": failed == 0 and all(p["ok"] for p in timed),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
    }
    record = {"passes": [p["pass_s"] for p in timed],
              "timed_calls": [[c["layer"], c["name"], c["wall_s"]] for c in untraced],
              "setup_s": main_res["setup_s"]}
    return result, record



def per_layer(main_res, failed_ratio):
    """Per-layer metrics of a traced run (zero where a layer did not run)."""
    values = {n: 0.0 for n, _ in metrics.PER_LAYER}
    values.update({k: v for k, v in main_res.get("layers", {}).items() if v is not None})
    values["first_op_s"] = main_res.get("first_op_s", 0.0)
    values["failed_ratio"] = failed_ratio
    traced, traced_calls = one_pass(main_res, "traced")
    again, again_calls = one_pass(main_res, "untraced_again")

    def op_mean(cs):
        return mean([c["wall_s"] for c in cs if c["layer"] in OP_LAYERS])
    values["trace.overhead_pass_s"] = traced.get("pass_s", 0.0) - again.get("pass_s", 0.0)
    values["trace.overhead_op_mean_s"] = op_mean(traced_calls) - op_mean(again_calls)
    values["trace.harness_self_s"] = next(
        (c["wall_s"] for c in main_res["calls"] if c["id"] == traced.get("span")), 0.0
    ) - sum(c["wall_s"] for c in traced_calls)
    return values


def workload_views(untraced, manifest, passes):
    """The pipeline's own latency views, from the timed passes."""
    walls = {}
    for c in untraced:
        walls.setdefault(c["layer"], []).append(c["wall_s"])
    silver = walls.get("Medallion.serialise", [])
    views = {"silver_hour_p50_s": median(silver),
             "gold_day_p50_s": median(walls.get("Medallion.aggregate", [])),
             "stream_catchup_s": (sum(walls.get("Medallion.stream_silver", []))
                                  + sum(walls.get("Medallion.stream_gold", []))) / passes}
    tail = metrics.tail_percentile(silver)
    if tail:
        views["silver_hour_tail_s"], views["silver_hour_tail_pct"], \
            views["silver_hour_samples"] = tail
        log(f"silver_hour_tail_s is p{tail[1]} of {tail[2]} hours")
    batch_s = sum(sum(walls.get(k, [])) for k in
                  ("Ingester", "Medallion.serialise", "Medallion.aggregate"))
    views["events_per_s"] = manifest["valid_events"] * passes / batch_s if batch_s else 0.0
    return views


if __name__ == "__main__":
    main()
