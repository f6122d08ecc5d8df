#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <olap_short|elt_sync> --seed <n> \
        --seconds <s> --trace <0|1>

It builds the program and the benchmark with sbt (once per source state),
generates the fixture tables (once), runs one benchmark JVM, checks the
answers, and prints one JSON object as the last line of standard output:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer ones with `--trace 1`). Everything it builds or
writes stays under `.bench_build/` and the sbt `target/` directories.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build")
# one run must end within 180 s; the first one in a checkout also builds
RUN_LIMIT_S, FIRST_RUN_LIMIT_S = 170, 870
# olap_short runs at sf0.01 so that a run fits several warm passes; elt_sync
# derives its streams from the sf0.1 orders and events
SCALE = {"olap_short": "0.01", "elt_sync": "0.1"}
# the tables gen.py writes: every table the olap_short queries read
TABLES = "region nation customer supplier orders lineitem events".split()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the benchmark unless this source state was
    built already; return the JVM arguments (options, -cp, class path)."""
    digest = tree_digest(["build.sbt", "project/build.properties", "src/main",
                          "perfbench/build.sbt", "perfbench/project/build.properties",
                          "perfbench/src"])
    args_file = os.path.join(HERE, "target", "launch-args.txt")
    stamp = os.path.join(CACHE, "build.stamp")
    if os.path.exists(stamp) and os.path.exists(args_file) and open(stamp).read() == digest:
        return [l for l in open(args_file).read().splitlines() if l], False
    log = os.path.join(CACHE, "build.log")
    env = dict(os.environ, SPARK_DRIVER_MEM=os.environ.get("SPARK_DRIVER_MEM", "4g"))
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile", "launchArgs"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return [l for l in open(args_file).read().splitlines() if l], True


def fixture_tables(sf):
    data = os.path.join(CACHE, f"data-{tree_digest(['perfbench/gen.py'])}-sf{sf}")
    if not os.path.isdir(data):
        subprocess.check_call([sys.executable, os.path.join(HERE, "gen.py"), data, sf])
    return data


def canon(v):
    """One value as the DuckDB-oracle compare renders it: floats to 10
    significant digits, everything else by repr."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9e}"
    return repr(v)


def answer_digest(cursor):
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon(r[i]) for i in order) for r in cursor.fetchall())
    body = repr(([cols[i] for i in order], rows)).encode()
    return hashlib.sha256(body).hexdigest(), len(rows)


def check_answers(data, results):
    """Compare every query answer the JVM wrote with the answer of the
    query's oracle SQL on DuckDB. Oracle digests are cached per SQL text
    and fixture. Returns the queries whose answers differ."""
    import duckdb
    oracle_sql = json.load(open(os.path.join(results, "oracle_sql.json")))
    cache_file = os.path.join(CACHE, "oracle-" + os.path.basename(data) + ".json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        out = os.path.join(results, name)
        if not os.path.isdir(out):
            continue  # the query itself failed; the JVM counted it
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in cache:
            cache[key] = answer_digest(con.execute(sql))[0]
        got, n = answer_digest(con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')"))
        if got != cache[key]:
            bad.append(name)
            print(f"answer differs from the DuckDB oracle: {name} ({n} rows)")
    with open(cache_file + ".tmp", "w") as fh:
        json.dump(cache, fh)
    os.replace(cache_file + ".tmp", cache_file)
    return bad


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["olap_short", "elt_sync"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ["build.sbt", "src/main/scala/graft", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    os.makedirs(CACHE, exist_ok=True)

    jvm_args, built = build()
    data = fixture_tables(SCALE[a.workload])
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - 15
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(CACHE, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
    result_file = os.path.join(work, "result.json")
    cmd = ["java",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           *jvm_args, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data, "--work", work, "--out", result_file,
           "--spans", os.path.join(CACHE, "traces", f"{tag}.jsonl")]
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = proc.wait(timeout=max(10, limit - (time.time() - start)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail("benchmark JVM timed out")
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"benchmark JVM exited with {rc}")
        res = json.load(open(result_file))
        failed = res["failed"]
        if a.workload == "olap_short":
            failed += len(check_answers(data, os.path.join(work, "results")))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for note in res["notes"]:
        print(note)
    print(f"error_rate {failed / res['attempted']:.4f} ({failed} of {res['attempted']} operations)")
    for name, m in res["metrics"].items():
        shown = "not measured" if m["value"] is None else f"{m['value']:.6g}"
        print(f"{name} = {shown} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
