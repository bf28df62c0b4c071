#!/usr/bin/env python3
"""The repository benchmark: one workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

Run from the root of a checkout. It builds the program and the harness from
source (sbt, once per checkout), generates the tables (once per checkout),
runs the workload in one JVM on local[<cores>], checks the outputs, prints
every metric by name and unit, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, from a separate
traced run. Workloads and metrics are described in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("sweep-relational", "sweep-composed", "stream-history")
SF = 0.01
SETUPS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
STREAM_DURATIONS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                    "planning_ms": "queryPlanning", "get_batch_ms": "getBatch",
                    "wal_commit_ms": "walCommit"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every build input, so a changed source rebuilds."""
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, work):
    """Compile program and harness with sbt; return the runtime classpath."""
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "classpath.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(work, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), env=env, stdout=f,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=850)
    lines = [ln.strip() for ln in open(log) if ln.strip()]
    if r.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_dir(work, a):
    """Where one run keeps its raw samples (`out/raw.json`) and its reduced
    results (`summary.json`)."""
    return os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cores}")


def run_jvm(work, cp, a):
    """Run the workload's JVM; return its output directory and its launch time."""
    out = run_dir(work, a)
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
         f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
         "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--cores", str(a.cores), "--setups", str(SETUPS),
         "--data", os.path.join(work, f"data-sf{SF}"), "--out", os.path.join(out, "out")]
    log = os.path.join(out, "jvm.log")
    launched = time.time()
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=tmp, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=170)
        except subprocess.TimeoutExpired:
            die(f"workload timed out; log in {log}")
    if r.returncode != 0:
        sys.stderr.write("".join(ln for ln in open(log).readlines()
                                 if not ln.startswith("\tat "))[-4000:])
        die(f"workload exited {r.returncode}; log in {log}")
    return os.path.join(out, "out"), launched


def oracle_check(data_dir, out):
    """Each sweep result against its oracle SQL in DuckDB: columns sorted by
    name, rows sorted by every column, exact equality (tools/check_oracle.py)."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    results = {}
    for name, sql in sorted(json.load(open(os.path.join(out, "oracle_sql.json"))).items()):
        try:
            got = con.sql(f"SELECT * FROM '{out}/results/{name}/*.parquet'").df()
            want = con.sql(sql).df()
            got, want = got[sorted(got.columns)], want[sorted(want.columns)]
            if list(got.columns) != list(want.columns) or list(got.dtypes) != list(want.dtypes):
                results[name] = "schema differs"
                continue
            cols = list(got.columns)
            got = got.sort_values(by=cols, na_position="first").reset_index(drop=True)
            want = want.sort_values(by=cols, na_position="first").reset_index(drop=True)
            if len(got) != len(want):
                results[name] = f"rows {len(got)} vs {len(want)}"
            elif (got.fillna("__null__") != want.fillna("__null__")).any().any():
                results[name] = "values differ"
            else:
                results[name] = None
        except Exception as e:  # a missing or unreadable result is a failed check
            results[name] = f"{type(e).__name__}: {e}"
    return results


def ops_of(passes):
    return [o for p in passes for o in p["ops"]]


def end_to_end(raw, passes, launched):
    """The gated metrics: defined the same way on every workload."""
    by_name = {}
    for o in ops_of(passes):
        by_name.setdefault(o["name"], []).append(o["t_s"])
    return {
        "setup_s": (stats.median(raw["setup_s"]), "s"),
        "ready_s": (raw["ready_ms"] / 1e3 - launched, "s"),
        "pass_s": (stats.median([p["wall_s"] for p in passes]), "s"),
        "op_geomean_s": (stats.geomean([stats.median(v) for v in by_name.values()]), "s"),
    }


def workload_figures(raw, passes, e2e):
    """The workload's own end-to-end figures, printed with the gated ones
    (README.md defines them)."""
    if raw["workload"].startswith("sweep"):
        return {"sweep_s": e2e["pass_s"], "query_geomean_s": e2e["op_geomean_s"],
                "peak_cached_mb": (max(o["cached_mb"] for o in ops_of(passes)), "MB")}
    t = [o["t_s"] for o in ops_of(passes)]
    fig = {"ticks_per_s": (raw["ticks_per_pass"] / e2e["pass_s"][0], "1/s"),
           "batch_p50_s": (stats.median(t), "s")}
    tl = stats.tail(t)
    if tl:
        fig[f"batch_p{tl[1]:.0f}_s"] = (tl[0], "s")
    fig["batch_growth"] = (stats.median([stats.growth([o["t_s"] for o in p["ops"]])
                                         for p in passes]), "ratio")
    last = passes[0]["ops"][-1]["state"]
    fig["state_bytes_per_key"] = (last["memory_bytes"] / max(1, last["rows_total"]), "B")
    return fig


def per_layer(raw, passes):
    """Per-layer metrics of a traced run: medians over its traced passes, and
    over the repeated samples of the layers timed outside the passes."""
    m = {}
    layers = {k: stats.median(v) for k, v in raw["layers"].items()}
    traced = [p for p in passes if p["traced"]]

    def med(f):
        return stats.median([f(p) for p in traced])

    def opsum(key):
        return med(lambda p: sum(o.get(key, 0.0) for o in p["ops"]))

    spans = raw["spans"]
    roots = [s for s in spans if s["parent"] == -1]
    jobs = {}
    for s in spans:
        if s["name"] == "exec.job":
            jobs.setdefault(s["root"], []).append((s["start_ms"], s["end_ms"]))
    n_traced = len(traced)
    union = sum(stats.union_length(stats.clip(jobs.get(r["id"], []), r["start_ms"], r["end_ms"]))
                for r in roots) / 1e3 / n_traced
    drv = sum(stats.driver_only(r["start_ms"], r["end_ms"], jobs.get(r["id"], []))
              for r in roots) / 1e3 / n_traced
    selfs = {}
    for s, t in zip(spans, stats.self_times(spans)):
        selfs[s["name"]] = selfs.get(s["name"], 0.0) + t / 1e3 / n_traced
    sweep = raw["workload"].startswith("sweep")

    m["tables.load_cold_s"] = (layers["tables.load_cold_s"], "s")
    m["tables.load_warm_s"] = (layers["tables.load_warm_s"], "s")
    m["tables.schema_jobs"] = (opsum("schema_jobs"), "count")
    # a stream's query function is the query start
    m["analytics.build_s"] = (opsum("build_s") if sweep else med(lambda p: p["start_s"]), "s")
    m["analytics.build_jobs"] = (opsum("build_jobs"), "count")
    m["analytics.eager_jobs"] = (opsum("build_jobs") - opsum("schema_jobs"), "count")
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = (opsum(f"catalyst.{ph}_s"), "s")
    m["codegen.compiles"] = (med(lambda p: p["counters"]["codegen.compiles"]), "count")
    m["codegen.compile_s"] = (med(lambda p: p["counters"]["codegen.compile_s"]), "s")
    units = {"jobs": "count", "stages": "count", "stages_skipped": "count", "tasks": "count",
             "tasks_failed": "count", "task_run_s": "s", "task_cpu_s": "s",
             "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB"}
    for k, u in units.items():
        m[f"exec.{k}"] = (med(lambda p: p["counters"][f"exec.{k}"]), u)
    m["exec.job_union_s"] = (union, "s")
    m["exec.driver_only_s"] = (drv, "s")

    bops = [] if sweep else ops_of(traced)

    def bmed(f):
        return stats.median([f(o) for o in bops]) if bops else 0.0
    for k, d in STREAM_DURATIONS.items():
        m[f"stream.{k}"] = (bmed(lambda o: o["duration_ms"].get(d, 0.0)), "ms")
    last = traced[0]["ops"][-1].get("state", {}) if bops else {}
    m["state.rows_total"] = (last.get("rows_total", 0), "count")
    m["state.rows_updated"] = (bmed(lambda o: o["state"].get("rows_updated", 0)), "count")
    m["state.memory_bytes"] = (last.get("memory_bytes", 0), "B")
    m["state.commit_ms"] = (bmed(lambda o: o["state"].get("commit_ms", 0)), "ms")
    m["state.update_ms"] = (bmed(lambda o: o["state"].get("update_ms", 0)), "ms")
    for k in ("h1k", "h10k", "hmax"):
        m[f"model.fit_ms.{k}"] = (layers[f"model.fit_ms.{k}"], "ms")
    m["sink.files_written"] = (layers.get("sink.files_written", 0), "count")
    m["sink.bytes_written"] = (layers.get("sink.bytes_written", 0), "B")
    m["sink.export_s"] = (layers.get("sink.export_s", 0.0), "s")
    m["sink.batch_p50_s"] = (layers.get("sink.batch_p50_s", 0.0), "s")
    m["self.build_s"] = (selfs.get("analytics.build", 0.0), "s")
    m["self.action_s"] = (selfs.get("exec.action", 0.0), "s")
    m["trace.spans"] = (len(spans), "count")
    # a share below zero is noise, not a saving: it reads as no overhead
    overhead = stats.paired_overhead([p["wall_s"] for p in passes], [p["traced"] for p in passes])
    m["trace.overhead_share"] = (max(0.0, overhead), "ratio")
    return m, overhead


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the root of a checkout: the program's sources are missing")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)
    gen_tables.write(os.path.join(work, f"data-sf{SF}"), SF)
    out, launched = run_jvm(work, cp, a)
    raw = json.load(open(os.path.join(out, "raw.json")))

    if raw["workload"].startswith("sweep"):
        checks = oracle_check(os.path.join(work, f"data-sf{SF}"), out)
    else:
        checks = {c["name"]: (None if c["ok"] else c.get("error", f"{c['bad']} offending rows"))
                  for c in raw["checks"]}
    passes = raw["passes"]
    untraced = [p for p in passes if not p["traced"]]
    attempted = len(ops_of(passes)) + len(checks)
    failed = sum(1 for o in ops_of(passes) if not o["ok"]) + sum(1 for v in checks.values() if v)

    print(f"workload {a.workload} seed {a.seed} cores {a.cores} trace {a.trace}: "
          f"{len(passes)} passes, {len(ops_of(passes))} operations in {raw['timed_s']:.2f} s; "
          f"set-up samples {[round(x, 3) for x in raw['setup_s']]}; "
          f"untimed warm-up and checks {raw.get('warm_s', 0) + raw['check_s']:.1f} s; "
          f"process {time.time() - launched:.1f} s")
    e2e = end_to_end(raw, untraced, launched)
    figures = dict(e2e)
    figures.update(workload_figures(raw, untraced, e2e))
    figures["fail_share"] = (failed / attempted, f"of {attempted}")
    for k, (v, u) in figures.items():
        print(f"  {k:<22} {v:.6g} {u}")
    for k, v in checks.items():
        print(f"  check {k:<32} {'ok' if v is None else 'FAIL: ' + v}")
    for k, v in raw["errors"].items():
        print(f"  error {k}: {v}")

    if a.trace:
        metrics, overhead = per_layer(raw, passes)
        for k, (v, u) in metrics.items():
            print(f"  {k:<26} {v:.6g} {u}")
        print(f"  tracing overhead as measured {overhead:+.4f} (traced passes over their "
              f"untraced neighbours, minus one)")
    else:
        metrics = e2e
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(run_dir(work, a), "summary.json"), "w") as f:
        json.dump(dict(result, seed=a.seed, cores=a.cores, checks=checks,
                       figures={k: {"value": v, "unit": u} for k, (v, u) in figures.items()}), f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
