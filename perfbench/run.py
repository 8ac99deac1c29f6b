#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dwh_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. It compiles `src/main/scala` together with
the harness under `perfbench/src` (once per source state, into
`.bench_build/`), generates the workload's inputs from the seed, runs the
harness JVM, checks the outputs and prints, as the last stdout line,
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` is a separate run with spans and Spark
listeners on, and reports the per-layer metrics. Exits non-zero when any
op or output check failed, and without a result line when it cannot
build or run at all.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

CURATION_QUERIES = ["q117_selection_pipeline", "q13_near_dup_jaccard"]
# inputs per workload, and the harness's untimed warm-up ops and minimum timed ops
WORKLOADS = {
    "dwh_batch": ({"sf": 0.01}, {"warm-ops": 0, "min-ops": 2}),
    "dwh_incremental": ({"bootstrap_rows": 15_000, "batch_rows": 5_000, "batches": 60},
                        {"warm-ops": 2, "min-ops": 6}),
    "curation_chain": ({"docs": 500, "queries": CURATION_QUERIES, "warm_query": CURATION_QUERIES[-1],
                        "max_passes": 12},
                       {"warm-ops": 2, "min-ops": 5}),
}
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class Unrunnable(Exception):
    """The benchmark cannot build or start the program."""


def spark_jars():
    """The Spark install's jars dir (it also holds the Scala compiler):
    `$SPARK_HOME/jars`, else the one next to `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit") or "/")))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise Unrunnable("no Spark install with the Scala compiler found; set SPARK_HOME")
    return jars


def build(root, jars):
    """Compile the program and the harness; returns the classes dir.
    Keyed by a digest of every source, so an unchanged tree is not
    rebuilt."""
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise Unrunnable(f"no program sources under {root}/src/main/scala")
    sources = program + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    digest = hashlib.sha256()
    for s in sources:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(root, ".bench_build", "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    proc = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise Unrunnable("compile failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(out, ".done")):
            raise
    for stale in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
        if stale != out and not stale.endswith(".args"):
            shutil.rmtree(stale, ignore_errors=True)
    print(f"[perfbench] built {len(sources)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def oracle_checks(raw, input_dir, root):
    """Each registry query that has a DuckDB oracle: its landed output
    must equal the oracle's rows under tools/selfcheck.py's
    normalization (column-name sort, cell stringify)."""
    oracles = raw["extra"].get("oracle_sql", {})
    if not oracles:
        return []
    import duckdb
    sys.path.insert(0, os.path.join(root, "tools"))
    from selfcheck import norm
    con = duckdb.connect()
    for p in glob.glob(os.path.join(input_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    checks = []
    for name, sql in sorted(oracles.items()):
        try:
            want = norm(con.execute(sql).df())
            got = norm(duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{raw['extra']['outputs']}/{name}/*.parquet')").df())
            w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
            g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
            ok = list(w.columns) == list(g.columns) and w.equals(g)
            checks.append({"name": f"oracle.{name}", "ok": ok,
                           "detail": f"oracle {w.shape} spark {g.shape}"})
        except Exception as e:  # a broken oracle comparison is a failed check
            checks.append({"name": f"oracle.{name}", "ok": False, "detail": repr(e)[:300]})
    return checks


def run(workload, seed, seconds, trace, root, input_override=None):
    """Build, generate, run the harness; returns the result object."""
    jars = spark_jars()
    classes = build(root, jars)
    sizes, harness = WORKLOADS[workload]
    run_dir = os.path.join(root, ".bench_build", "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    input_dir = os.path.join(run_dir, "input")
    gen.generate(workload, seed, input_dir, sizes)
    if input_override is not None:
        input_dir = input_override
    raw_path, log_path = os.path.join(run_dir, "raw.json"), os.path.join(run_dir, "jvm.log")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-XX:-UsePerfData", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{os.path.join(jars, '*')}", "graft.perfbench.Harness",
            "--workload", workload, "--input", input_dir, "--work", work, "--out", raw_path,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)] +
           [a for k, v in harness.items() for a in (f"--{k}", str(v))])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    with open(log_path, "w") as log:
        try:
            subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                           timeout=JVM_TIMEOUT_S, cwd=work)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] harness timed out after {JVM_TIMEOUT_S}s", file=sys.stderr)
    if not os.path.exists(raw_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        shutil.rmtree(run_dir, ignore_errors=True)
        raise Unrunnable("harness wrote no result; log tail:\n" + tail)
    with open(raw_path) as f:
        raw = json.load(f)
    with open(log_path, errors="replace") as f:
        error_lines = sum(" ERROR " in line for line in f)
    extra_checks = oracle_checks(raw, input_dir, root)
    attempted, failed = metrics.counts(raw, extra_checks)
    for c in raw["checks"] + extra_checks:
        if not c["ok"]:
            print(f"[perfbench] check {c['name']} FAILED: {c['detail']}", file=sys.stderr)
    # the side file: everything the harness recorded (spans, jobs and
    # writes too, when traced), kept after the run directory is removed
    build_id = os.path.basename(classes)
    side = os.path.join(root, ".bench_build", "traces", f"{workload}-seed{seed}-trace{trace}.json")
    os.makedirs(os.path.dirname(side), exist_ok=True)
    with open(side, "w") as f:
        json.dump(dict(raw, log_error_lines=error_lines, extra_checks=extra_checks,
                       seed=seed, build=build_id), f)
    if trace:
        values = metrics.per_layer(raw, CURATION_QUERIES, error_lines, attempted, failed)
    else:
        values = metrics.end_to_end(raw)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": values}
    history = os.path.join(root, ".bench_build", "results.jsonl")
    with open(history, "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace, "build": build_id,
                            **result}) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--input", help="run on this inputs dir instead of the generated one")
    a = ap.parse_args(argv)
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace, os.getcwd(), a.input)
    except Unrunnable as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
