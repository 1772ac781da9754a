#!/usr/bin/env python3
"""Repository benchmark: one command per workload.

    python3 perfbench/run.py --workload <serve|operators> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt depends on the root
build) into `.bench_build/`, then prepares the seed-independent corpus and
serve stores into `.bench_build/cache/` in a JVM of its own; later runs
reuse both while the sources are unchanged, so no timed run builds them.
Each run starts one JVM on `local[nproc]`, generates the
workload's inputs from the seed, measures for the given seconds, checks
every output, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
A traced run also leaves its spans in `.bench_build/results/`, which
`perfbench/report.py` turns into per-layer tables.

`--write-oracle` (operators only) recomputes the DuckDB oracle
fingerprints in perfbench/oracle_fingerprints.json from the registry's
oracle SQL over the generated corpus.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CACHE = os.path.join(BUILD, "cache")
FINGERPRINTS = os.path.join(HERE, "oracle_fingerprints.json")
WORKLOADS = ("serve", "operators")
CORPUS_TABLES = ("documents", "embeddings", "orders", "lineitem")
# per-layer metric prefixes each workload reports itself
LAYERS = {"serve": ("index.", "retrieval.", "replay.", "api.", "sources.", "streaming.", "store."),
          "operators": ("registry.",)}

# Spark on JDK 17 outside spark-submit needs these (as the root build's
# forked runs pass them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Size and mtime of every build input, so edits trigger a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"program sources not found ({need}); run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    # seed-independent data (corpus, serve stores) is prepared per build
    shutil.rmtree(CACHE, ignore_errors=True)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def jvm(cp, work, args, timeout=170):
    """Run perfbench.Main in a fresh work dir; return its result file."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", *args, "--work", work,
            "--cache", CACHE, "--out", out_file]
    env = dict(os.environ, GRAFT_WORK_DIR=os.path.join(work, "graft"),
               SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die(f"run timed out; see {log.name}")
    if p.returncode != 0 or not os.path.exists(out_file):
        die(f"run failed with code {p.returncode}; see {log.name}")
    return out_file


def prepare(cp):
    """Build the corpus and the serve stores once per build, outside the
    timed run, so that every run's set-up excludes them."""
    done = os.path.join(CACHE, "PREPARED")
    if os.path.exists(done):
        return
    t0 = time.time()
    out = jvm(cp, os.path.join(BUILD, "work", "prepare"),
              ["--workload", "prepare", "--seed", "0", "--seconds", "0", "--trace", "0"],
              timeout=600)
    if json.load(open(out))["failed"]:
        die("prepare failed; see .bench_build/work/prepare/jvm.log")
    shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    open(done, "w").close()
    print(f"perfbench: prepared in {time.time() - t0:.1f}s", file=sys.stderr)


def other_jvms():
    """Java processes besides this run's (stray JVMs skew timings)."""
    try:
        out = subprocess.run(["jps", "-l"], capture_output=True, text=True,
                             timeout=30).stdout
    except Exception:
        return ["jps unavailable"]
    return [l for l in out.splitlines() if l.strip() and "jps" not in l.lower()]


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return int(v) if v.is_integer() else repr(v)
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else str(v.normalize())
    if isinstance(v, (list, tuple)):
        return [canon_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon_value(x) for k, x in sorted(v.items())}
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def fingerprint(con, sql):
    """Row count and sha256 of a result with columns sorted by name and
    rows sorted by value (the comparison tools/check.py makes)."""
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(json.dumps([canon_value(r[i]) for i in order]) for r in rel.fetchall())
    h = hashlib.sha256(("|".join(cols[i] for i in order) + "\n" + "\n".join(rows)).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def check_operators(work, result, write_oracle):
    """Compare each checked output with its stored DuckDB fingerprint."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    corpus = result["info"]["corpus"]
    if write_oracle:
        for t in CORPUS_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet/*.parquet'")
        oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
        fps = {n: fingerprint(con, sql) for n, sql in sorted(oracle.items())}
        with open(FINGERPRINTS, "w") as f:
            json.dump(fps, f, indent=1, sort_keys=True)
            f.write("\n")
    expected = json.load(open(FINGERPRINTS))
    runs_per_query = result["info"].get("passes", 1)
    bad = []
    for name, exp in sorted(expected.items()):
        out = os.path.join(work, "out", "p0", name)
        try:
            got = fingerprint(con, f"SELECT * FROM '{out}/*.parquet'")
        except Exception as e:
            got = {"error": str(e)[:200]}
        if got != exp:
            bad.append(name)
            result["info"].setdefault("errors", []).append(f"{name}: oracle {exp} got {got}")
    result["failed"] += runs_per_query * len(bad)
    result["info"]["oracle_checked"] = len(expected)
    result["info"]["oracle_mismatch"] = bad


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-oracle", action="store_true")
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        die("BENCHMARK.json not found")
    spec = json.load(open(bench_file))
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    cp = build()
    prepare(cp)
    jvms_before = other_jvms()
    load_before = os.getloadavg()[0]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", tag)
    out_file = jvm(cp, work, ["--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    result = json.load(open(out_file))
    if args.workload == "operators":
        check_operators(work, result, args.write_oracle)

    info = result["info"]
    info.update(other_jvms_before=jvms_before, loadavg_before_run=load_before,
                loadavg_after_run=os.getloadavg()[0], workload=args.workload,
                seed=args.seed, seconds=args.seconds, trace=args.trace)
    got = result["metrics"]
    metrics = {k: got[k] for k in wanted if k in got and got[k]["value"] is not None}
    if args.trace:
        # a layer another workload exercises did no work in this one
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for k in wanted:
            if k not in metrics and not k.startswith(LAYERS[args.workload]):
                metrics[k] = {"value": 0.0, "unit": units[k]}
    missing = [k for k in wanted if k not in metrics]
    info["workload_metrics"] = {k: v for k, v in got.items() if k not in wanted}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    json.dump(result, open(os.path.join(results, f"{tag}.json"), "w"), indent=1)
    if args.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(results, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    # run facts first, the result line last
    print(json.dumps({"run": info, "missing_metrics": missing}))
    print(json.dumps({
        "correct": result["failed"] == 0 and not missing,
        "attempted": max(int(result["attempted"]), 1),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
