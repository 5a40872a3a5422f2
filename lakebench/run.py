#!/usr/bin/env python3
"""Lakehouse benchmark runner.

    python3 lakebench/run.py --workload <stream_ingest|query_suite> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) and records the JVM classpath in
`lakebench/.build/`; later runs reuse it while no source file changed. Each
run starts one JVM (`lakebench.Main`), which generates its inputs from the
seed, measures for `--seconds`, checks every output against its model and
writes a record to `lakebench/.work/`. For `query_suite` this script then
compares each query's dumped output with DuckDB running the query's oracle
SQL, by the rule of `tools/check_oracle.py`.

The report lines name every metric with its unit; the last line is the
result: `{"correct", "attempted", "failed", "metrics"}` with the
`end_to_end` metrics of BENCHMARK.json (`--trace 0`) or its `per_layer`
metrics (`--trace 1`). The exit code is non-zero when the run could not be
made, and then no result line is printed.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JAVA_TIMEOUT_S = 165
SBT_TIMEOUT_S = 840


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark once per source state; return the launch line."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isfile(launch) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(launch).read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.isfile(repos) else []) + ["-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=SBT_TIMEOUT_S).returncode
    if rc != 0 or not os.path.isfile(launch):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}), log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"built in {time.time() - t0:.1f} s")
    return open(launch).read().splitlines()


def run_jvm(launch, args, work):
    cp, opts = launch[0], [o for o in launch[1:] if o]
    # the parallel collector: no concurrent GC threads beside the timed work
    cmd = ["java", *opts, "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}",
           "-cp", cp, "lakebench.Main", *args]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {JAVA_TIMEOUT_S} s, log in {log}")
    record = os.path.join(work, "record.json")
    if rc != 0 or not os.path.isfile(record):
        lines = open(log, errors="replace").read().splitlines()
        sys.stderr.write("\n".join(l for l in lines if "Exception" in l or "Error" in l)[-3000:] + "\n")
        fail(f"run failed (exit {rc}), log in {log}")
    return json.load(open(record))


def load_oracle_rule():
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    if not os.path.isfile(path):
        fail(f"missing {path}")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_diff(rule, cols, rows, duck_cols, duck_rows):
    """None when Spark's output equals DuckDB's by check_oracle.py's rule:
    same column names, same row count, and cell by cell equal in order
    (floats bit-exact) -- the queries end in a total ORDER BY."""
    if sorted(cols) != sorted(duck_cols):
        return f"columns spark={sorted(cols)} duck={sorted(duck_cols)}"
    if len(rows) != len(duck_rows):
        return f"rows spark={len(rows)} duck={len(duck_rows)}"
    di = {c: duck_cols.index(c) for c in duck_cols}
    si = {c: cols.index(c) for c in cols}
    for c in sorted(cols):
        for i in range(len(rows)):
            if not rule.cmp_cell(rows[i][si[c]], duck_rows[i][di[c]]):
                return f"col={c} row={i} spark={rows[i][si[c]]!r} duck={duck_rows[i][di[c]]!r}"
    return None


def check_queries(record, work, sf_dir):
    """Compare every dumped query output with DuckDB; each compare is one
    checked operation. The comparison is also run on the same output with
    its last row dropped and with one value changed: both must fail."""
    import duckdb
    import pyarrow.parquet as pq
    rule = load_oracle_rule()
    qout = os.path.join(work, "qout")
    oracle = json.load(open(os.path.join(qout, "oracle_sql.json")))
    con = duckdb.connect()
    for t in rule.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isfile(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    attempted = failed = 0
    errors = []
    for q in record["inputs"]["queries"]:
        attempted += 1
        try:
            tbl = pq.read_table(os.path.join(qout, q))
            cols = tbl.column_names
            data = [tbl.column(c).to_pylist() for c in cols]
            rows = [list(r) for r in zip(*data)] if data else []
            if q not in oracle:
                raise ValueError("no oracle SQL")
            res = con.sql(oracle[q])
            duck_cols, duck_rows = res.columns, res.fetchall()
            d = oracle_diff(rule, cols, rows, duck_cols, duck_rows)
            if d is None and rows:
                changed = [r[:] for r in rows]
                changed[0][0] = "corrupted" if not isinstance(changed[0][0], str) else changed[0][0] + "x"
                for what, bad in (("drop one row", rows[:-1]), ("change one value", changed)):
                    if oracle_diff(rule, cols, bad, duck_cols, duck_rows) is None:
                        d = f"checker self-test: {what} not rejected"
            elif d is None:
                d = "empty output: the checker self-test needs a row"
        except Exception as e:  # a query that cannot be read or run counts as failed
            d = f"{type(e).__name__}: {e}"
        if d is not None:
            failed += 1
            errors.append(f"{q}: {d}")
    return attempted, failed, errors


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        fail("no BENCHMARK.json at the checkout root")
    spec = json.load(open(bench_path))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))

    launch = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = run_jvm(launch, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, sf_dir], work)

    attempted, failed, errors = record["attempted"], record["failed"], list(record["errors"])
    self_tested = record["checks_self_tested"]
    if a.workload == "query_suite":
        qa, qf, qe = check_queries(record, work, sf_dir)
        attempted, failed, errors, self_tested = attempted + qa, failed + qf, errors + qe, self_tested + qa

    report = dict(record["report"])
    report["op_error_rate"] = failed / attempted if attempted else 1.0
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"attempted={attempted} failed={failed} self_tested_checks={self_tested}")
    for e in errors:
        print(f"# FAIL {e}")
    print("# report: " + " ".join(f"{k}={fmt(v)}" for k, v in report.items()))
    print("# inputs: " + json.dumps(record["inputs"]))
    print("# contention: " + json.dumps(record["telemetry"]))
    if a.trace:
        print("# layers: " + " ".join(f"{k}={fmt(v)}" for k, v in record["layers"].items()))

    if a.trace:
        # a layer the workload does not use did no work: its amounts are 0
        metrics = {m["name"]: {"value": float(record["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        missing = []
    else:
        metrics = {m["name"]: {"value": record["contract"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"] if m["name"] in record["contract"]}
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in record["contract"]]
    for m in missing:
        print(f"# FAIL metric {m} was not measured")
    correct = failed == 0 and attempted > 0 and not missing
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
