#!/usr/bin/env python3
"""The repository's benchmark: one command per workload.

    python3 perfbench/run.py --workload <oneshot|store> --seed <n>
        --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the engine
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala compiler
shipped in Spark's jars into `.bench_build/`, reused while the sources match.
The input is the repository's sf0.01 test tables, kept in
`perfbench/data/sf0.01`. Each run starts one JVM at `local[nproc]` with one
closed-loop client, checks every output (DuckDB oracle through
`tools/check.py`, and in-JVM checks against `serve()`), and prints one JSON
object as its last stdout line:
the end-to-end metrics (`--trace 0`) or the per-layer table (`--trace 1`).
See perfbench/README.md."""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import layers  # noqa: E402
import plan as plans  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SF = 0.01
DATA = os.path.join(HERE, "data", f"sf{SF}")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
SERVICES = "META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"
# a fixed heap, so GC sizing does not vary from run to run
HEAP = "1g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else that of the first Spark
    on PATH (a directory holding `spark-submit`) that ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark jars with a Scala compiler found; set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        fail("no engine sources (src/main/scala) in this checkout")
    files = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files, os.path.join(main, "resources")


def build(jars):
    """Compile engine + harness once per source tree; returns the class dir."""
    files, resources = sources()
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp, 0.0
    t0 = time.time()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    log(f"compiling {len(files)} sources")
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes, stamp, time.time() - t0


def data():
    """The input tables; fail when any is missing."""
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(DATA, f"{t}.parquet"))]
    if missing:
        fail(f"input tables missing from {os.path.relpath(DATA, ROOT)}: {missing}")
    return DATA


def probe_pool(d):
    """The observation fixture's (chromosome, position) points, sorted;
    the same derivation as VardaSql.observations."""
    return [tuple(r) for r in duckdb.sql(f"""
        SELECT DISTINCT CASE WHEN user_id % 22 = 20 THEN 'X' WHEN user_id % 22 = 21 THEN 'MT'
                             ELSE CAST(1 + user_id % 22 AS VARCHAR) END,
               CAST(1000 + (event_id * 37) % 100000 AS BIGINT)
        FROM '{d}/events.parquet' ORDER BY 1, 2""").fetchall()]


def git_rev(stamp):
    """The checkout's git commit, or the source hash where there is no git."""
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else f"src-{stamp}"


def loadavg():
    return open("/proc/loadavg").read().split()[:3]


def run_jvm(classes, jars, plan_file, run_dir, timeout_s):
    """Run the harness; return (exit code, peak RSS in MB, stderr tail)."""
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Duser.timezone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(jars, '*')}",
              "graft.perfbench.Harness", plan_file])
    err_path = os.path.join(run_dir, "jvm.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT,
                             start_new_session=True)
        timer = threading.Timer(timeout_s, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    tail = open(err_path).read()[-3000:]
    return p.returncode, ru.ru_maxrss / 1024.0, tail


def present_tables(d, present, into):
    """The tables restricted to the store's present samples: the
    `varda_freq_incremental` oracle over them is the expected final
    served state (samples are user_id % 20 in events, o_custkey % 20 in
    orders; see VardaSql)."""
    os.makedirs(into)
    ids = ", ".join(str(i) for i in present) or "NULL"
    for f in glob.glob(os.path.join(d, "*.parquet")):
        shutil.copy(f, into)
    for t, c in (("events", "user_id"), ("orders", "o_custkey")):
        duckdb.sql(f"COPY (SELECT * FROM '{d}/{t}.parquet' WHERE {c} % 20 IN ({ids})) "
                   f"TO '{into}/{t}.parquet' (FORMAT parquet)")
    return into


def check_outputs(d, dump, keys):
    """Oracle check of the dumped outputs: DuckDB SQL through tools/check.py.
    Returns the failing keys; a key without oracle SQL fails."""
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    bad = [k for k in keys if k not in oracle]
    with_sql = [k for k in keys if k in oracle]
    if with_sql:
        out = os.path.join(dump, "check.json")
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), d, dump,
                        "--json", out] + with_sql,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        res = json.load(open(out))["keys"] if os.path.exists(out) else {}
        bad += [k for k in with_sql if not res.get(k, {}).get("pass")]
    return bad


def end_to_end(res, rss_mb):
    """The end-to-end metrics of one untraced run, plus sample counts."""
    ops = res["ops"]
    timed = [o["s"] for o in ops if o["pass"] >= 0 and o["kind"] in ("query", "lookup")]
    p50 = layers.percentile(timed, 0.5)
    if p50 is None:
        raise SystemExit(f"[perfbench] only {len(timed)} op samples; a p50 needs "
                         f"{2 * layers.MIN_BEYOND}")
    m = {"setup_s": (sum(res["phases"].values()), "s"),
         "pass_s": (statistics.median(res["pass_s"]), "s"),
         "query_s.p50": (p50, "s"),
         "peak_heap_mb": (max(res["live_heap_mb"]), "MB")}
    per_key = {}
    for o in ops:
        if o["pass"] >= 0 and o["kind"] in ("query", "lookup"):
            per_key.setdefault(o["key"], []).append(o["s"])
    # the resident set holds the whole fixed heap whatever the run retains,
    # so it is reported here, not as a bounded metric
    info = {"peak_rss_mb": rss_mb, "live_heap_mb": res["live_heap_mb"],
            "pass_s": res["pass_s"],
            "samples": {"query_s": len(timed), "pass_s": len(res["pass_s"])},
            "key_median_s": {k: statistics.median(v) for k, v in sorted(per_key.items())}}
    # the highest percentile the sample supports
    for q in (99, 90, 75):
        v = layers.percentile(timed, q / 100)
        if v is not None:
            info[f"query_s.p{q}"] = v
            break
    for kind in ("commit", "retract", "compact"):
        xs = [o["s"] for o in ops if o["kind"] == kind and o["pass"] >= 0]
        if xs:
            info[f"{kind}_s"] = statistics.median(xs)
            info["samples"][f"{kind}_s"] = len(xs)
    return m, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=plans.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes, stamp, build_s = build(jars)
    if not os.path.isfile(os.path.join(classes, SERVICES)):
        fail(f"{SERVICES} is missing from the built classes; freqstore reads would fail fast")
    d = data()
    cpus = os.cpu_count() or 1
    load0 = loadavg()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        p = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "cpus": cpus, "data": d, "out": run_dir}
        if a.workload == "store":
            p.update(plans.store_plan(a.seed, probe_pool(d)))
            keys = ["varda_freq_incremental"]
        else:
            p.update(plans.pass_plan(a.workload, a.seed))
            keys = p["keys"]
        plan_file = os.path.join(run_dir, "plan.json")
        with open(plan_file, "w") as f:
            json.dump(p, f)
        # room for a run between two and three times as slow as one at
        # --seconds 10 on 4 busy cores (50-60 s), so a slowdown is measured
        # rather than killed, within the 180 s a run has
        code, rss_mb, tail = run_jvm(classes, jars, plan_file, run_dir,
                                     2 * a.seconds + 120)
        if code != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
            fail(f"harness exited with {code}:\n{tail}")
        res = json.load(open(os.path.join(run_dir, "result.json")))
        truth = d if "present" not in res else present_tables(
            d, res["present"], os.path.join(run_dir, "present"))
        bad = check_outputs(truth, os.path.join(run_dir, "dump"), keys)
        attempted = res["attempted"] + len(keys)
        failed = res["failed"] + len(bad)
        fixture_bytes = sum(os.path.getsize(f"{d}/{t}.parquet") for t in ("events", "orders"))
        store_ratio = res.get("store_bytes", 0) / fixture_bytes
        env = {"rev": git_rev(stamp), "nproc": cpus, "master": f"local[{cpus}]",
               "jvm": res["jvm"],
               "python": platform.python_version(), "loadavg_start": load0,
               "loadavg_end": loadavg(), "seed": a.seed, "workload": a.workload,
               "sf": SF, "build_s": build_s,
               "setup_phases": res["phases"], "passes": len(res["pass_s"]),
               "wrong_keys": bad}
        if a.trace:
            # the raw spans outlive the run directory, one file per workload
            kept = shutil.copy(os.path.join(run_dir, "trace.json"),
                               os.path.join(BUILD, f"trace-{a.workload}.json"))
            trace = json.load(open(kept))
            table = layers.layer_table(trace, cpus, store_ratio)
            metrics = {k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in table.items()}
            env["self_times_s"] = layers.key_self_times(trace)
            e2e, _ = end_to_end(res, rss_mb)
            base_file = os.path.join(BUILD, f"untraced-{a.workload}.json")
            if os.path.exists(base_file):
                base = json.load(open(base_file))
                env["tracing_overhead"] = {k: e2e[k][0] - base[k] for k in e2e if k in base}
        else:
            e2e, info = end_to_end(res, rss_mb)
            env.update(info)
            if store_ratio:
                env["store_bytes_ratio"] = store_ratio
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            with open(os.path.join(BUILD, f"untraced-{a.workload}.json"), "w") as f:
                json.dump({k: v for k, (v, _) in e2e.items()}, f)
        print(json.dumps({"env": env}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
