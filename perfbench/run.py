#!/usr/bin/env python3
"""The repository's benchmark: seeded, closed-loop workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S]

Run from the root of a checkout.  The first run builds the program and the
benchmark from source with sbt (rebuilt when a source file changes), then
every run generates its seeded inputs (cached on disk), starts one JVM,
and prints one JSON line: with `--trace 0` the end-to-end metrics, with
`--trace 1` the per-layer metrics of a traced run.  The full record of the
run (every figure, samples summary, spans of a traced run) is written to
perfbench/out/.  `--all` runs every workload untraced and prints each one's
end-to-end figures, workload-specific ones included.

The command exits non-zero when a result is wrong or the run fails.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(HERE, ".build")
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

CORES = 4
JVM_HEAP = "3g"
# A run of up to 50 s must end within 180 s: warm-up and measured jobs take
# about twice --seconds, start-up and set-up about 15 s.
JVM_TIMEOUT_S = 160
# Input sizes (see BENCHMARK.json's workload notes).
MONTH_RECORDS = 120_000
TABLES_SF = 0.01
DEDUP_DOCS = 4_000
DEDUP_FILES = 6  # arrival files, one micro-batch each in the traced streaming drain
CACHE_KEEP = 4  # input sets (and run directories) kept per kind

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]

# Spark 4 on JDK 17 needs these outside spark-submit (as in the main build).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def fail(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def tree_digest(paths, base):
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(base, p)
        files = [full] if os.path.isfile(full) else sorted(
            f for f in glob.glob(os.path.join(full, "**", "*"), recursive=True) if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, base).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark; returns the JVM classpath."""
    for p in BUILD_INPUTS:
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"cannot build: {p} is missing from {ROOT}")
    stamp = tree_digest(BUILD_INPUTS, ROOT)
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's temporary files stay in the checkout, and no JVM it starts
    # writes a performance-data file
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.forcestart=false").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and ".jar" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def generator_version():
    return tree_digest(["perfbench/gen.py", "perfbench/src/main/scala/graft/perfbench/Month.scala"],
                       ROOT)[:12]


def keep_latest(d, pattern):
    """Marks `d` used and removes all but the CACHE_KEEP latest `pattern` siblings."""
    os.makedirs(d, exist_ok=True)
    os.utime(d)
    siblings = sorted(glob.glob(os.path.join(os.path.dirname(d), pattern)), key=os.path.getmtime)
    for old in siblings[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def cached(kind, seed, size, make):
    """The cache entry for (generator version, kind, seed, size), made if absent."""
    d = os.path.join(CACHE, f"{kind}-{generator_version()}-s{seed}-{size}")
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        shutil.rmtree(d, ignore_errors=True)
        make(d)
        open(os.path.join(d, "_COMPLETE"), "w").close()
    return keep_latest(d, f"{kind}-*")


def gen_month(cp, d, seed):
    """The month needs the program's own imploder, so a JVM of its own
    writes it: the measured JVM never runs the generator."""
    proc = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", cp, "graft.perfbench.Month",
                           d, str(seed), str(MONTH_RECORDS)],
                          stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=120)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
        fail("month generation failed")


def inputs(cp, workload, seed):
    """The JVM's input flags for the workload, with its directory."""
    if workload == "etl_month":
        return {"month": cached("month", seed, MONTH_RECORDS, lambda d: gen_month(cp, d, seed)),
                "month-records": str(MONTH_RECORDS)}
    if workload == "analytics_mix":
        return {"tables": cached("tables", seed, TABLES_SF,
                                 lambda d: gen.gen_tables(d, seed, TABLES_SF))}
    return {"docs": cached("docs", seed, f"{DEDUP_DOCS}x{DEDUP_FILES}",
                           lambda d: gen.gen_docs(d, seed, DEDUP_DOCS, DEDUP_FILES))}


def run_jvm(cp, workload, seed, seconds, trace, dirs, work):
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(CORES), "--work", work, "--out", out]
    for k, v in dirs.items():
        args += [f"--{k}", v]
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", cp, "graft.perfbench.Main"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=lf, stderr=lf)
        try:
            proc.wait(timeout=max(JVM_TIMEOUT_S, 3 * seconds))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"{workload}: the JVM run failed (exit {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def oracle_check(tables, work):
    """Compares each analytics query's saved result with DuckDB's answer on
    the same inputs (cached per seed), as tools/compare.py renders them."""
    spec = importlib.util.spec_from_file_location("compare", os.path.join(ROOT, "tools", "compare.py"))
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    import duckdb
    import pandas as pd

    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    cache_file = os.path.join(tables, "oracle.json")
    oracle = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    con = None
    errors = []
    for q in metrics.ANALYTICS_QUERIES:
        key = hashlib.sha256(sql[q].encode()).hexdigest()
        if oracle.get(q, {}).get("sql") != key:
            if con is None:
                con = duckdb.connect()
                for t in compare.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
            cols, rows = compare.frame_rows(con.execute(sql[q]).fetchdf())
            oracle[q] = {"sql": key, "cols": cols, "rows": [list(r) for r in rows]}
        files = glob.glob(os.path.join(work, "results", q, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        cols, rows = compare.frame_rows(got)
        if cols != oracle[q]["cols"] or [list(r) for r in rows] != oracle[q]["rows"]:
            errors.append(f"{q}: result differs from the DuckDB oracle")
    with open(cache_file, "w") as f:
        json.dump(oracle, f)
    return errors


def run_one(cp, workload, seed, seconds, trace):
    dirs = inputs(cp, workload, seed)
    work = os.path.join(WORK, f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    keep_latest(work, f"{workload}-*")
    raw = run_jvm(cp, workload, seed, seconds, trace, dirs, work)
    if workload == "analytics_mix":
        errs = oracle_check(dirs["tables"], work)
        raw["attempted"] += len(metrics.ANALYTICS_QUERIES)
        raw["failed"] += len(errs)
        raw["errors"] += errs
    if workload == "dedup_corpus" and raw.get("result_digest"):
        # the result for a seed must not change from run to run
        path = os.path.join(dirs["docs"], "result_digest.txt")
        if not os.path.exists(path):
            with open(path, "w") as f:
                f.write(raw["result_digest"])
        raw["attempted"] += 1
        if open(path).read() != raw["result_digest"]:
            raw["failed"] += 1
            raw["errors"].append("dedup result differs from an earlier run on the same seed")
    e2e = metrics.end_to_end(raw)
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "cores": raw["cores"], "attempted": raw["attempted"], "failed": raw["failed"],
              "errors": raw["errors"], "end_to_end": e2e, "jobs": raw["jobs"],
              "setup_s": raw["setup_s"], "phases": raw["phases"],
              "samples": {k: {"n": len(v), "p50": metrics.percentile(v, 0.5),
                              "p90": metrics.percentile(v, 0.9)}
                          for k, v in raw["samples"].items()}}
    if trace:
        layer = raw["layer"]
        record["per_layer"] = {k: {"value": layer[k], "unit": u, "better": b,
                                   "target": t, "target_workloads": w}
                               for k, (u, b, t, w) in metrics.LAYER_TABLE.items() if k in layer}
        record["self_time_table"] = {l: layer.get(f"self_s.{l}", 0.0) for l in metrics.LAYERS}
        record["spans"] = raw["spans"]
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{workload}-s{seed}-t{trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return record


def result_line(record):
    if record["trace"]:
        per = record["per_layer"]
        missing = [k for k in metrics.PER_LAYER if k not in per]
        if missing:
            fail(f"traced run did not report {missing}")
        ms = {k: {"value": per[k]["value"], "unit": u} for k, (u, _, _, _) in metrics.PER_LAYER.items()}
    else:
        ms = {k: {"value": record["end_to_end"][k], "unit": u}
              for k, u in metrics.END_TO_END.items()}
    return {"correct": record["failed"] == 0, "attempted": record["attempted"],
            "failed": record["failed"], "metrics": ms}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=metrics.ALL_WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="measured seconds per run (default 20; 60 with --all, so that "
                         "tail percentiles have enough samples)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")
    if a.seconds is None:
        a.seconds = 60 if a.all else 20
    cp = build()
    if a.all:
        bad = 0
        for w in metrics.ALL_WORKLOADS:
            rec = run_one(cp, w, a.seed, a.seconds, 0)
            bad += rec["failed"]
            print(f"{w}:")
            e2e = rec["end_to_end"]
            rows = [(k, u) for k, u in metrics.END_TO_END.items()] + [
                (k, u) for k, (u, ws) in metrics.EXTRA_END_TO_END.items() if w in ws]
            for k, u in rows:
                v = f"{e2e[k]:14.6g}" if k in e2e else "  n/a (fewer than 10 samples beyond)"
                print(f"  {k:28s} {v} {u}")
            for e in rec["errors"]:
                print(f"  WRONG: {e}")
        sys.exit(1 if bad else 0)
    rec = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
    for e in rec["errors"]:
        print(f"WRONG: {e}", file=sys.stderr)
    print(json.dumps(result_line(rec)))
    sys.exit(1 if rec["failed"] else 0)


if __name__ == "__main__":
    main()
