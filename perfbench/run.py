"""The repository benchmark: one command, one workload per run.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the benchmark's
JVM side (build.py), generates the seeded inputs (gen.py), runs the workload
in one JVM as a single client in a closed loop for `--seconds` seconds
after warm-up, checks the outputs, and prints one JSON object as the last
line of standard output:

  {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}

`--trace 0` reports the end-to-end metrics (METRICS below); `--trace 1`
runs the same rounds with every call into a module in a span and reports
the per-layer metrics (layer_names()), including the tracing overhead. Raw
samples and spans of each run are kept in `.bench_build/results/`, which
diff.py reads.

Everything the run writes stays under `.bench_build/` in the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("study_load", "curate_cycles")
DEADLINE_S = 165          # the JVM's part of a run, build excluded
HEAP = "2g"

# end-to-end metrics, every workload reports every one
METRICS = {
    "setup_s": "s",        # JVM start to the first timed op: session + warm-up
    "live_heap_mb": "MB",  # median live heap after a timed operation (full GC)
    "ingest_s": "s",       # median ingest: study upload / post-bootstrap cycle
    "maint_s": "s",        # median maintenance: move+delete / retract+compact
}
INGEST = {"study_load": ("upload",), "curate_cycles": ("cycle",)}
MAINT = {"study_load": ("move", "delete"), "curate_cycles": ("retract", "compact")}

COUNTERS = ["wall_s", "jobs", "task_s", "gc_s", "shuffle_bytes", "bytes_written",
            "plan_s", "driver_gap_s"]
UNITS = {"wall_s": "s", "jobs": "count", "task_s": "s", "gc_s": "s",
         "shuffle_bytes": "B", "bytes_written": "B", "plan_s": "s",
         "driver_gap_s": "s"}
FULL_SPANS = {
    "study_load": ["GraftCli.uploadClinical", "GraftCli.uploadExpression",
                   "GraftCli.uploadVcf", "operators.StudyOps.move",
                   "operators.StudyOps.delete"],
    "curate_cycles": ["CurateCli.runCycle", "operators.Dedup.incrementalDedupLedgered",
                      "CurateCli.runRetract", "operators.DedupLedger.compact",
                      "CurateCli.compactCorpus"],
}
FLOOR_SPANS = ["sources.TsvReader.read", "sources.VcfReader",
               "pipeline.ClinicalPipeline.run", "pipeline.OmicsPipeline.runFull",
               "pipeline.VcfPipeline.runDir"]
with open(os.path.join(HERE, "queries.json")) as _f:
    FAMILIES = list(json.load(_f))
FAMILY_COUNTERS = ["wall_s", "jobs", "plan_s", "task_s"]
OVERHEAD_ROUND = -2


def layer_names():
    """Every per-layer metric name with its unit, in report order."""
    out = []
    for spans in FULL_SPANS.values():
        out += [(f"{s}.{c}", UNITS[c]) for s in spans for c in COUNTERS]
    out += [(f"{s}.{c}", UNITS[c]) for s in FLOOR_SPANS for c in ("wall_s", "jobs")]
    out += [(f"queries.{f}.{c}", UNITS[c]) for f in FAMILIES for c in FAMILY_COUNTERS]
    out += [("core.Publish.write_amplification", "ratio"),
            ("warehouse_bytes_per_input_byte", "ratio"),
            ("operators.DedupLedger.records_read_growth", "ratio"),
            ("ledger_bytes_per_corpus_byte", "ratio"),
            ("trace_overhead_s", "s")]
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, res):
    plain = [o for o in res["ops"] if o["round"] >= 0 and not o["traced"]]
    maint = {}
    for o in plain:
        if o["kind"] in MAINT[workload]:
            maint.setdefault(o["round"], []).append(o["s"])
    # a round the run ended inside is incomplete: whole rounds only
    full = [sum(v) for v in maint.values() if len(v) == len(MAINT[workload])]
    return {
        "setup_s": res["setup_s"],
        "live_heap_mb": median(res["live_heap_mb"]),
        "ingest_s": median([o["s"] for o in plain if o["kind"] in INGEST[workload]]),
        "maint_s": median(full),
    }


def per_layer(workload, res):
    vals = {name: 0.0 for name, _ in layer_names()}
    by_name = {}
    # the tracing-overhead pass (round OVERHEAD_ROUND) repeats calls after
    # the rounds; it is kept out of the layers' medians
    for s in res["spans"]:
        if s["round"] != OVERHEAD_ROUND:
            by_name.setdefault(s["name"], []).append(s)
    for name, spans in by_name.items():
        if name.startswith("queries."):
            per_round = {}
            for s in spans:
                acc = per_round.setdefault(s["round"], {c: 0.0 for c in FAMILY_COUNTERS})
                for c in FAMILY_COUNTERS:
                    acc[c] += s["counters"][c]
            for c in FAMILY_COUNTERS:
                vals[f"{name}.{c}"] = median([r[c] for r in per_round.values()])
        else:
            for c in COUNTERS:
                if f"{name}.{c}" in vals:
                    vals[f"{name}.{c}"] = median([s["counters"][c] for s in spans])
    ops = res["ops"]
    v = res["values"]
    if workload == "study_load":
        # the first round's upload: bytes its tasks wrote, and the
        # warehouse it left, per byte of the study's generated files
        first = [o for o in ops if o["kind"] == "upload" and o["round"] == 0]
        if first and v.get("input_bytes"):
            vals["core.Publish.write_amplification"] = first[0]["bytes_written"] / v["input_bytes"]
            vals["warehouse_bytes_per_input_byte"] = v["warehouse_bytes"] / v["input_bytes"]
    if workload == "curate_cycles":
        screens = sorted(by_name.get("operators.Dedup.incrementalDedupLedgered", []),
                         key=lambda s: s["start_s"])
        if len(screens) >= 2 and screens[0]["counters"]["records_read"] > 0:
            vals["operators.DedupLedger.records_read_growth"] = (
                screens[-1]["counters"]["records_read"] / screens[0]["counters"]["records_read"])
        if v.get("corpus_bytes"):
            vals["ledger_bytes_per_corpus_byte"] = v["ledger_bytes"] / v["corpus_bytes"]
    # tracing overhead: traced minus untraced wall time of the same
    # read-only call, repeated after the rounds
    kind = {"study_load": "floors", "curate_cycles": "screen"}[workload]
    steps = [o for o in ops if o["kind"] == kind]
    t = median([o["s"] for o in steps if o["traced"]])
    u = median([o["s"] for o in steps if not o["traced"]])
    vals["trace_overhead_s"] = t - u
    return vals


def oracle_checks(expect, input_dir, work):
    """Each catalog query's written result against its DuckDB twin."""
    import duckdb
    import pandas as pd

    def cell(x):
        if x is None:
            return "NULL"
        if isinstance(x, float):
            if x != x:
                return "NULL"
            return str(int(x)) if x == int(x) and abs(x) < 1e15 else repr(x)
        if isinstance(x, (list, tuple)) or type(x).__name__ == "ndarray":
            return "[" + ",".join(cell(y) for y in x) + "]"
        return str(x)

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            df[c] = df[c].map(cell)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    sf = os.path.join(input_dir, expect["sf_dir"])
    for t in sorted(os.listdir(sf)):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf, t)}')")
    checks = []
    for fam in expect["families"]:
        for q in fam["queries"]:
            name = f"result matches DuckDB oracle [{q}]"
            try:
                qdir = os.path.join(work, "results", q)
                s = norm(pd.read_parquet(qdir))
                d = norm(con.execute(oracles[q]).df())
                ok = list(s.columns) == list(d.columns) and s.equals(d)
                detail = "" if ok else f"spark {s.shape} {list(s.columns)} vs duckdb {d.shape} {list(d.columns)}"
            except Exception as e:  # a missing result or a bad twin is a failed check
                ok, detail = False, str(e)[:300]
            checks.append({"name": name, "ok": ok, "detail": detail})
    return checks


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(a, classes, work, input_dir, deadline):
    """Run the workload in one JVM; return its raw result, or None."""
    cpus = max(1, min(4, os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    # Spark's settings as the CLI tests pass them (build.sbt javaOptions);
    # every scratch directory inside the run's work directory
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graft.perfbench.Main", a.workload, input_dir, os.path.join(work, "jvm"),
            str(a.seconds), str(a.trace), str(cpus), result])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.stderr.write("benchmark JVM timed out\n")
            return None
    if p.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(f"benchmark JVM exited with {p.returncode}\n")
        return None
    with open(result) as f:
        res = json.load(f)
    res["cpus"] = cpus
    return res


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classes = build.build(ROOT)
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(ROOT, ".bench_build", "runs",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        input_dir = os.path.join(work, "input")
        gen.generate(a.workload, a.seed, input_dir)
        catalog_dir = os.path.join(input_dir, "catalog")
        if a.workload == "curate_cycles" and a.trace:
            catalog = gen.generate("query_catalog", a.seed, catalog_dir)
        res = run_jvm(a, classes, work, input_dir, deadline)
        if res is None:
            return 3
        checks = list(res["checks"])
        jvm_work = os.path.join(work, "jvm")
        if os.path.exists(os.path.join(jvm_work, "oracle_sql.json")):
            checks += oracle_checks(catalog, catalog_dir, jvm_work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["checks"] = checks
    if res["crash"]:
        sys.stderr.write(f"workload failed: {res['crash']}\n")
    timed_ops = [o for o in res["ops"] if o["round"] >= 0]
    failed_checks = [c for c in checks if not c["ok"]]
    for c in failed_checks:
        sys.stderr.write(f"check failed: {c['name']}: {c['detail']}\n")
    attempted = len(timed_ops) + len(checks) + (1 if res["crash"] else 0)
    failed = len(failed_checks) + (1 if res["crash"] else 0)
    if a.trace:
        vals = per_layer(a.workload, res)
        metrics = {n: {"value": vals[n], "unit": u} for n, u in layer_names()}
    else:
        e2e = end_to_end(a.workload, res)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in METRICS.items()}
    out = {"correct": failed == 0 and bool(timed_ops), "attempted": attempted,
           "failed": failed, "metrics": metrics}

    kept = os.path.join(ROOT, ".bench_build", "results")
    os.makedirs(kept, exist_ok=True)
    res.update({"seed": a.seed, "seconds": a.seconds, "summary": out})
    with open(os.path.join(kept, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
