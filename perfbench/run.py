#!/usr/bin/env python3
"""The muraspark benchmark: build, run one workload, check, print metrics.

    python3 perfbench/run.py --workload sql_compile --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the library
(src/main) and the harness (perfbench/src) with the Scala compiler that
ships in Spark's jars directory ($SPARK_HOME, or the directory of
spark-submit on PATH) into .bench_build/; later runs reuse that build
while the sources are unchanged.

One run is one JVM at local[<cores>] over the tables in perfbench/data:
  1. it sets the session up once, timed from JVM start (setup_s);
  2. it runs the workload's operations once (the cold pass, cold_pass_s),
     then again in warm passes for --seconds, and at least four
     (warm_pass_s, the median);
  3. it samples compile latency in the warm passes (compile_p50_ms,
     compile_p99_ms), at least 1000 samples: each SQL statement's text to
     physical plan, and for each query its result plan, re-planned from
     the logical plan a fixed number of times outside the timed section.
A run whose pass budget ends before those minimums fails.
The seed fixes the order of the operations. Each run gets a fresh scratch
directory (java.io.tmpdir, spark.local.dir, warehouse, artifact root)
that is deleted afterwards, so no run serves another run's artifacts.

Outputs are checked against DuckDB over the same tables: every query's
result in the cold pass (where artifacts are built and then served), every
compiled statement's column names, and the mura doc-example plan text in
every pass. An operation that throws or fails its check counts as failed;
plan-lint errors make the run incorrect.

With --trace 1 the listeners are attached and the run prints the
per-layer metrics instead; warm passes alternate traced and untraced, and
trace.overhead_ratio is the ratio of their medians. Spans (one per
operation, with a child per layer) go to .bench_build/traces/.

The last line of stdout is the JSON result; the lines before it list
every metric with its unit.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 170

OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not any(f.startswith("scala-compiler") for f in os.listdir(jars)):
        fail(f"no scala-compiler jar in {jars}")
    return jars


def sources(top, exts):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(exts)]
    return sorted(out)


def scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"compilation into {dest} failed")


def build(jars):
    """Compile src/main and the harness; return the run classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no library sources at {main_src}: run from the root of a muraspark checkout")
    resources = os.path.join(ROOT, "src", "main", "resources")
    lib = sources(main_src, (".scala", ".java"))
    res = sources(resources, ("",)) if os.path.isdir(resources) else []
    bench = sources(os.path.join(HERE, "src"), (".scala",))
    h = hashlib.sha256()
    for p in lib + res + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    main_cls, bench_cls = os.path.join(out, "main"), os.path.join(out, "bench")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "done")):
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            scalac(jars, f"{jars}/*", main_cls, lib)
            for p in res:
                dst = os.path.join(main_cls, os.path.relpath(p, resources))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(p, dst)
            scalac(jars, f"{main_cls}:{jars}/*", bench_cls, bench)
            open(os.path.join(out, "done"), "w").close()
            print(f"built {os.path.relpath(out, ROOT)} in {time.time() - t0:.1f} s", file=sys.stderr)
            for old in os.listdir(BUILD):
                if old.startswith("classes-") and os.path.join(BUILD, old) != out:
                    shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    return f"{bench_cls}:{main_cls}:{jars}/*"


def ops_for(workload, spec, seed):
    """The workload's operations, in the order the seed fixes."""
    w = spec["workloads"][workload]
    ops = [("query", q, "") for q in w.get("queries", [])]
    ops += [("oracle", q, "") for q in w.get("oracle_sql", [])]
    for t in w.get("ddl_tables", []):
        path = os.path.join(DATA, f"{t}.parquet")
        ops.append(("ddl", f"mura_{t}",
                    f"CREATE EXTERNAL TABLE mura_{t} STORED AS PARQUET LOCATION '{path}'"))
    if w.get("doc_example"):
        ops.append(("doc", "mura_doc_example", ""))
    # DDL first: a later statement may read a table it registers.
    rng = random.Random(seed)
    ddl = [o for o in ops if o[0] == "ddl"]
    rest = [o for o in ops if o[0] != "ddl"]
    rng.shuffle(ddl)
    rng.shuffle(rest)
    return ddl + rest


def run_jvm(classpath, args, work, log):
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Harness"] + args
    with open(log, "w") as out:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def percentile(xs, q):
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(xs)
    return s[max(0, -(-len(s) * q // 100) - 1)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; known: {', '.join(spec['workloads'])}")
    if not os.path.isdir(DATA):
        fail(f"no tables at {DATA}")

    jars = spark_jars()
    classpath = build(jars)
    import oracle  # after the build, so a missing checkout fails first

    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "artifacts", "out"):
        os.makedirs(os.path.join(work, d))
    try:
        ops = ops_for(a.workload, spec, a.seed)
        with open(os.path.join(work, "ops.txt"), "w") as f:
            f.writelines(f"{k}\t{n}\t{t}\n" for k, n, t in ops)
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        record_path = os.path.join(work, "record.json")
        cores = len(os.sched_getaffinity(0))
        args = ["--ops", os.path.join(work, "ops.txt"), "--data", DATA, "--work", work,
                "--out", record_path, "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores),
                "--spans", os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl")]
        log = os.path.join(work, "harness.log")
        rc = run_jvm(classpath, args, work, log)
        if rc != 0 or not os.path.exists(record_path):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"harness {'timed out' if rc is None else f'exited with {rc}'}")
        with open(record_path) as f:
            rec = json.load(f)

        problems = [f"pass {e['pass']} {e['name']}: {e['error']}" for e in rec["errors"]]
        ddl_paths = {n: os.path.join(DATA, f"{n[len('mura_'):]}.parquet")
                     for k, n, _ in ops if k == "ddl"}
        problems += oracle.check(DATA, os.path.join(BUILD, "oracle"), rec, ddl_paths)
        failed = len(problems)
        for p in problems:
            print(f"FAILED {p}", file=sys.stderr)
        correct = failed == 0 and rec["lint_errors"] == 0

        passes = rec["passes"]
        warm_untraced = [p["wall_s"] for p in passes if p["kind"] == "warm" and not p["traced"]]
        if not warm_untraced:
            fail("the run has no untraced warm pass")
        if a.trace == 0:
            samples = rec["compile_ms"]
            values = {
                "setup_s": rec["setup_s"],
                "cold_pass_s": passes[0]["wall_s"],
                "warm_pass_s": statistics.median(warm_untraced),
                "compile_p50_ms": statistics.median(samples),
                "compile_p99_ms": percentile(samples, 99),
            }
            wanted = contract["end_to_end"]
        else:
            warm_traced = [p["wall_s"] for p in passes if p["kind"] == "warm" and p["traced"]]
            values = dict(rec["layers"])
            values["plans.lint_errors"] = rec["lint_errors"]
            values["trace.overhead_ratio"] = (
                statistics.median(warm_traced) / statistics.median(warm_untraced))
            wanted = contract["per_layer"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        print(f"workload {a.workload} seed {a.seed}: {len(passes)} passes, "
              f"{rec['attempted']} operations, {failed} failed, "
              f"{len(rec['compile_ms'])} compile samples, lint errors {rec['lint_errors']}")
        for name, m in metrics.items():
            print(f"  {name:40s} {m['value']:.6g} {m['unit']}")
        print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
