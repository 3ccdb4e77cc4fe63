#!/usr/bin/env python3
"""Repo benchmark: one named workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark driver from source with the Scala
compiler that ships in Spark's jars (into `.bench_build/`, reused while the
sources are unchanged), runs the driver (`perfbench/src`) in one JVM on
`local[<cores>]`, checks every output the run produced, and prints one JSON
object as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. Environment:

    SPARK_HOME           Spark install whose jars/ hold Spark and Scala
    SPARK_GRAFT_SF_DIR   fixture tables (default: ~/testdata/sf0.1, the tree
                         graft.Bench reads)
    PERFBENCH_CPUS       cores for local[n] (default: all)
"""
import argparse
import fcntl
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN = "org.apache.spark.sql.perfbench.Driver"
RUN_LIMIT_S = 170
# the JVM flags spark-submit would add on JDK 17 (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not engine:
        fail("no engine sources under src/main/scala: run from a repo checkout")
    if not bench:
        fail("no driver sources under perfbench/src")
    return engine + bench


def build(jars):
    """Compile engine + driver into .bench_build/classes unless up to date."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, "STAMP")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [p for name in ("compiler", "library", "reflect")
                    for p in glob.glob(os.path.join(jars, f"scala-{name}-2.13.*.jar"))]
        t0 = time.time()
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
             "-classpath", os.path.join(jars, "*")] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f}s",
              file=sys.stderr)
        with open(os.path.join(tmp, "STAMP"), "w") as f:
            f.write(stamp)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        return out


def run_driver(args, cpus, classes, jars, fixtures, work, deadline):
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata file in the system temp dir: the run writes only here
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           opens +
           ["-cp", f"{classes}:{os.path.join(jars, '*')}", MAIN,
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--fixtures", fixtures, "--work", work, "--cpus", str(cpus)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # cwd = work dir: anything the JVM drops in its cwd goes away with it
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print("[perfbench] driver timed out", file=sys.stderr)
            return -1
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def load_selfcheck():
    """tools/selfcheck.py: the repo's canonicalization of query results."""
    sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
    path = os.path.join(ROOT, "tools", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canon_digest(selfcheck, df):
    cols, rows = selfcheck.canon(df)
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return {"digest": h.hexdigest(), "rows": len(rows)}


def oracle_checks(result, fixtures):
    """DuckDB runs each oracle SQL over the same tables; its canonical
    digest must equal that of the engine's output. Oracle digests over the
    read-only fixtures are cached under .bench_build/oracle."""
    items = result.get("oracle", [])
    if not items:
        return []
    import duckdb
    selfcheck = load_selfcheck()
    cache_dir = os.path.join(BUILD, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in selfcheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(fixtures, t + '.parquet')}'")
    fx_key = "".join(
        f"{p}:{os.path.getsize(p)}:{os.path.getmtime(p)}"
        for p in sorted(glob.glob(os.path.join(fixtures, "*.parquet"))))
    out = []
    for item in items:
        name = item["name"]
        key = hashlib.sha256((fx_key + item["sql"]).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        try:
            if os.path.exists(cached):
                want = json.load(open(cached))
            else:
                want = canon_digest(selfcheck, con.execute(item["sql"]).df())
                with open(cached, "w") as f:
                    json.dump(want, f)
            got = canon_digest(selfcheck, con.execute(
                f"SELECT * FROM '{item['spark']}/*.parquet'").df())
            ok = got == want
            detail = "" if ok else f"oracle {want} engine {got}"
        except Exception as e:  # a broken output is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        out.append((f"oracle {name}", ok, detail))
    return out


def end_to_end(result):
    return {
        "setup_s": statistics.median(result["setup_s"]),
        "unit_s.p50": statistics.median(u["ms"] for u in result["units"]) / 1e3,
    }


def per_layer(result):
    m = dict(result.get("layers", {}))
    m.update(result["extra"])
    m["warmup_s"] = result["warmup_s"]
    m["session_s"] = result["session_s"]
    m["mem.rss_peak_mb"] = result["rss_peak_mb"]
    return m


def check_reference(workload, layers):
    """Warn when a traced run's per-unit counts differ from the recorded
    reference: a plan change, not box noise."""
    ref = json.load(open(os.path.join(HERE, "reference_counts.json")))[workload]
    for k, want in ref.items():
        got = layers.get(k)
        if got is None or abs(got - want) > 1e-6 * max(1.0, abs(want)):
            print(f"[perfbench] COUNT DRIFT {workload} {k}: reference {want}, "
                  f"this run {got}", file=sys.stderr)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cpus = int(os.environ.get("PERFBENCH_CPUS") or os.cpu_count())

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload}; choose from {names}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    spark_home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(spark_home, "jars")
    if not spark_home or not os.path.isdir(jars):
        fail("SPARK_HOME must point at a Spark install with a jars/ directory")
    fixtures = os.environ.get("SPARK_GRAFT_SF_DIR",
                              os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.exists(os.path.join(fixtures, "documents.parquet")):
        fail(f"fixture tables not found under {fixtures}")

    t_build = time.time()
    classes = build(jars)
    # a build (first run in a checkout) extends the limit by its own length
    deadline = t_start + RUN_LIMIT_S + (time.time() - t_build)
    work = os.path.join(BUILD, "runs", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        rc = run_driver(args, cpus, classes, jars, fixtures, work, deadline)
        res_path = os.path.join(work, "result.json")
        if not os.path.exists(res_path):
            log = open(os.path.join(work, "jvm.log"), errors="replace").read()
            sys.stderr.write(log[-6000:])
            print(f"[perfbench] driver exited {rc} without a result", file=sys.stderr)
            return 1
        result = json.load(open(res_path))
        checks = [(c["name"], c["ok"], c["detail"]) for c in result["checks"]]
        checks += oracle_checks(result, fixtures)
        bad = [c for c in checks if not c[1]]
        for name, _, detail in bad:
            print(f"[perfbench] FAILED {name}: {detail}", file=sys.stderr)
        if rc != 0 and not bad:
            bad = [("driver", False, f"exit {rc}")]
        if args.trace:
            trace = os.path.join(work, "trace.json")
            if os.path.exists(trace):
                shutil.copy(trace, os.path.join(BUILD, f"trace-{args.workload}.json"))
            values = per_layer(result)
            check_reference(args.workload, values)
            for k, v in sorted(result.get("self_ms", {}).items(), key=lambda kv: -kv[1]):
                print(f"[perfbench] self_ms {k:40s} {v:12.1f}", file=sys.stderr)
        else:
            values = end_to_end(result)
        print("[perfbench] unit ms: " + " ".join(f"{u['ms']:.0f}" for u in result["units"]),
              file=sys.stderr)
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in wanted}
        attempted = len(result["ops"]) + len(checks)
        print(json.dumps({"correct": not bad, "attempted": attempted,
                          "failed": len(bad), "metrics": metrics}))
        return 0 if not bad else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
