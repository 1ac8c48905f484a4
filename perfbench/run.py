#!/usr/bin/env python3
"""Repo benchmark: one workload, one seed, one JVM.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from `src/main` and the benchmark's JVM side from
`perfbench/src` with the Scala compiler that ships in the Spark distribution's
`jars/` (the build is cached in `.perfbench_build/`, keyed by a hash of the
sources), makes
the workload's inputs from the seed, runs the workload in a JVM under fixed
run conditions (see perfbench/README.md), checks every answer, and prints one
detail line and then the result line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. Each run works in its own directory under
`.perfbench_runs/`, which it deletes before it exits.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".perfbench_build"
RUNS = ".perfbench_runs"
HEAP = "3g"
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
WORKLOADS = ("declared_mix", "keyed_ingest", "keyed_serve")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The `jars/` directory of the Spark distribution: `SPARK_HOME`, else the
    first `spark-submit` on the PATH whose distribution ships the compiler."""
    path = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.abspath(d)) for d in path
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isfile(os.path.join(home, "jars", "scala-compiler-2.13.17.jar")):
            return os.path.join(home, "jars")
    die("no Spark distribution with the Scala 2.13.17 compiler; set SPARK_HOME")


SPARK_JARS = spark_jars()


def scalac(classpath, out, sources):
    compiler = [f"{SPARK_JARS}/scala-{m}-2.13.17.jar" for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(classpath), "-d", out] + sources
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        die("compilation failed")


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compiled(out, sources, compile_fn):
    """Run `compile_fn` into a fresh `out` unless `sources` are unchanged
    since the last successful build there."""
    stamp = out + ".stamp"
    key = digest(sources)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    os.makedirs(out)
    compile_fn()
    with open(stamp, "w") as f:
        f.write(key)


def build():
    """Compile the program, then the benchmark's JVM side against it; each
    step is skipped when its sources are unchanged."""
    program = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not program:
        die("no program sources under src/main/scala; run from the root of a checkout")
    resources = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True)
                       if os.path.isfile(p))
    bench_sources = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    classes, bench = os.path.join(BUILD, "classes"), os.path.join(BUILD, "bench")
    jars = sorted(glob.glob(f"{SPARK_JARS}/*.jar"))

    def program_build():
        scalac(jars, classes, program)
        for p in resources:
            dst = os.path.join(classes, os.path.relpath(p, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
    compiled(classes, program + resources, program_build)
    compiled(bench, program + resources + bench_sources,
             lambda: scalac(jars + [classes], bench, bench_sources))
    return classes, bench


def start_jvm(classes, bench, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # no JVM perf-data file: a run writes only inside its checkout
           ["-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join([bench, classes, f"{SPARK_JARS}/*"]), "perfbench.Main"] + args)
    return subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)


def kill_jvm(proc):
    # the JVM leads its own process group: take down anything it started
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def wait_jvm(proc, deadline):
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        kill_jvm(proc)
        die(f"workload JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        kill_jvm(proc)
        die(f"workload JVM exited with {rc}")


def norm_cell(v):
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    return (type(v).__name__, str(v))


def norm_table(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: [str(x) for x in r])
    return [cols[i] for i in order], out


def check_mix(fixtures, results, names):
    """Compare each query's Spark result with its DuckDB oracle, cell-exact
    after sorting rows and columns (the repo's tools/t2_local.py rules).
    Returns the names that failed.
    """
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures}/{t}.parquet')")
    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))
    bad = []
    for name in names:
        files = glob.glob(os.path.join(results, name, "*.parquet"))
        try:
            if name not in oracle or not files:
                raise ValueError("no Spark result")
            cur = con.execute(oracle[name])
            want = norm_table([d[0] for d in cur.description], cur.fetchall())
            cur = con.execute(f"SELECT * FROM read_parquet({files!r})")
            got = norm_table([d[0] for d in cur.description], cur.fetchall())
            if got[0] != want[0] or len(got[1]) != len(want[1]):
                raise ValueError(f"shape {got[0]} x {len(got[1])} rows, oracle "
                                 f"{want[0]} x {len(want[1])} rows")
            diff = [(a, b) for a, b in zip(got[1], want[1]) if a != b]
            if diff:
                raise ValueError(f"{len(diff)} rows differ; first: spark {diff[0][0]} "
                                 f"oracle {diff[0][1]} (columns {got[0]})")
        except Exception as e:
            print(f"perfbench: FAILED oracle {name}: {e}", file=sys.stderr)
            bad.append(name)
    return bad


def dir_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs
               if os.path.isfile(os.path.join(d, f)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile("BENCHMARK.json"):
        die("run from the root of a checkout (BENCHMARK.json not found)")
    spec = json.load(open("BENCHMARK.json"))
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    classes, bench = build()

    work = os.path.abspath(os.path.join(RUNS, f"{os.getpid()}-{time.time_ns()}"))
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        t0 = time.time()
        proc = start_jvm(classes, bench, [a.workload, str(a.seed), str(a.seconds),
                                          str(a.trace), work, out], work)
        fixtures = os.path.join(work, "fixtures")
        try:
            if a.workload == "declared_mix":
                # generated while the JVM starts; the JVM waits for _READY
                sys.path.insert(0, HERE)
                import gen
                gen.generate(fixtures, a.seed)
                open(os.path.join(fixtures, "_READY"), "w").close()
        except BaseException:
            kill_jvm(proc)
            raise
        wait_jvm(proc, t0 + JVM_TIMEOUT_S)
        t_jvm = time.time()
        res = json.load(open(out))
        attempted, failed = res["attempted"], res["failed"]
        detail = res["detail"]
        if a.workload == "declared_mix":
            names = detail["queries"]
            bad = check_mix(fixtures, os.path.join(work, "results"), names)
            attempted += len(names)
            failed += len(bad)
            detail["oracle_failed"] = bad
        detail["run_dir_bytes"] = dir_bytes(work)
        detail["phases_s"] = {"jvm": t_jvm - t0, "checks": time.time() - t_jvm}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    produced = res["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = produced.get(m["name"])
        if isinstance(v, dict):
            v = v["value"]
        if v is None:
            die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    detail["failed_frac"] = failed / max(attempted, 1)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
