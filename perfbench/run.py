#!/usr/bin/env python3
"""Benchmark for the engine: event-store ops and registry-row workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --rows q_a,g_b --seed 1 --trace 1     # probe any rows
    python3 perfbench/run.py --rows all --tables DIR --seed 1 --trace 1
    python3 perfbench/run.py --refresh-expected

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath under
``perfbench/target``; later runs reuse it while the sources are unchanged.

Each run generates its inputs from the seed, starts one JVM with a local[4]
Spark session and a single closed-loop client thread, sets up three times,
runs the workload's fixed op list, checks every output and prints a
human-readable report followed by one JSON line. With ``--trace 0`` that
line holds the end-to-end metrics of untraced passes; with ``--trace 1`` the
per-layer metrics of one pass run with the recorder attached, which is
followed by an untraced pass to measure the tracing overhead. Traced runs
also leave their spans and per-op records under ``.perfbench_work/traces/``
for ``perfbench/delta.py``.
"""
import argparse
import hashlib
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

import gen  # noqa: E402
import oracle  # noqa: E402

JOB_LIMIT_S = 170

# eventstore_ops runs its fixed op list once. A row workload runs its rows
# `warmups` times untimed, then in at least `passes` timed passes and for at
# least --seconds; row times keep falling over the first passes of a JVM
# (JIT compilation), so timed passes start once the fall has slowed.
#
# The row tables come from a fixed seed (the run's seed permutes the row
# order) and lie under a directory named sf0.01 whatever their size, because
# the engine picks its oracle-checked arm (exact k-NN, the pinned recall
# sample) by that name.
#  - composed_rows: job-bound rows of the kind ROADMAP Directions 2-4 target
#    (AvailableNow drains, connected-component level folds, pins, Par
#    overlap) on half the documents of the sf0.01 test tables, so per-job
#    overhead and driver time dominate even more.
#  - kernel_rows: rows whose time goes to executor work (the PQ kernels of
#    plans.PqKernels, the commit split), on tables the size of the sf0.1 test
#    tables; on the sf0.01 sizes they are driver-bound too.
WORKLOADS = {
    "eventstore_ops": dict(aggregates=1000, ops=20, append_commits=20),
    "composed_rows": dict(rows=["q_stream_cc", "g_dedup_cc_incr"], warmups=1, passes=2,
                          tables=dict(docs=250, embeddings=250, events=5_000, users=150)),
    "kernel_rows": dict(rows=["g_knn_pq", "q_commit_split"], warmups=2, passes=3,
                        tables=dict(docs=5000, embeddings=2000, events=100_000, users=1500)),
}
# probe mode without --tables: tables the size of the sf0.01 test tables
PROBE_TABLES = dict(docs=500, embeddings=500, events=10_000, users=150)
TABLE_SEED = 42

END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("op_ms.p50", "ms"), ("peak_rss_mb", "MiB")]
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.tasks_per_job", "ratio"), ("driver.only_ms", "ms"), ("driver.only_share", "ratio"),
    ("spark.jobs_concurrent.max", "count"), ("driver.threads.max", "count"),
    ("plan.queries", "count"), ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"), ("scan.files", "count"), ("scan.partitions", "count"),
    ("scan.bytes", "bytes"), ("write.files", "count"),
    ("write.bytes", "bytes"), ("store.files_on_disk", "count"), ("store.bytes_on_disk", "bytes"),
    ("ingest.events_per_s", "1/s"), ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"),
    ("executor.busy_cores", "ratio"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"), ("spill.bytes", "bytes"), ("stream.queries", "count"),
    ("stream.batches", "count"), ("pin.named", "count"), ("storage.rdd_blocks", "count"),
    ("storage.block_bytes", "bytes"),
]
# A fixed-size heap with a fixed young generation under the parallel
# collector: the young space is reused every cycle, so the resident set
# tracks what the old generation retains instead of the collector's
# adaptive heap growth.
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn1g"]
# Spark 4 on JDK 17 outside spark-submit (the root build.sbt's list)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


T0 = time.time()


def progress(what):
    log(f"[run.py {time.time() - T0:7.2f}s] {what}")


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# -- build ----------------------------------------------------------------------

def _sources():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    return paths


def build():
    """The runtime classpath and whether it had to be built: compiles first
    when any source changed since the last build."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the engine (build.sbt and src/main/scala/graft)")
    h = hashlib.sha1()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building the engine and the harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "writeClasspath"], cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read(), True


# -- one run --------------------------------------------------------------------

def java():
    return os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"


def run_jvm(cp, args, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java(), *ADD_OPENS, *JVM_MEMORY, f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        # few malloc arenas: native memory of the ~400 driver threads stays
        # packed, so the resident set does not swing with thread scheduling
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the run exceeded its time limit", 3)
    with open(os.path.join(work, "jvm.log")) as f:  # the JVM's progress lines
        log("".join(l for l in f if l.startswith("[perfbench")).rstrip())
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        fail(f"the JVM exited with {code}", 3)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def pct(xs, q):
    """The q-quantile of xs (q = 0.5 or 0.9, interpolated), or None when empty."""
    if len(xs) < 2:
        return xs[0] if xs else None
    return statistics.quantiles(xs, n=10, method="inclusive")[round(q * 10) - 1]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--rows", help="probe mode: comma-separated registry rows (or 'all'), run as one workload")
    ap.add_argument("--tables", help="probe mode: read the tables from this directory (say, a copy of "
                                     "the sf0.01 test tables) instead of generating them")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-expected", action="store_true",
                    help="recompute expected.json (the DuckDB oracle answers of the registry rows)")
    a = ap.parse_args()
    if a.refresh_expected:
        return refresh_expected()
    if bool(a.workload) == bool(a.rows) or a.seed is None or (a.tables and not a.rows):
        fail("give --seed and exactly one of --workload and --rows (--tables goes with --rows)")
    started = time.time()
    name = a.workload or "probe"
    cp, built = build()
    progress("build checked")
    # a run that builds gets its full time limit after the build; a probe of
    # arbitrary rows has none
    deadline = (time.time() if built else started) + JOB_LIMIT_S if a.workload else float("inf")

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{name}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        cfg = WORKLOADS.get(a.workload, {})
        if a.workload == "eventstore_ops":
            gen.eventstore(a.seed, inputs, cfg["aggregates"], cfg["ops"], cfg["append_commits"])
            res = run_jvm(cp, ["eventstore_ops", inputs, work, str(a.trace)], work, deadline)
        else:
            if a.rows == "all":
                rows = gen.row_order(a.seed, registry_rows(cp, work))
            else:
                rows = a.rows.split(",") if a.rows else gen.row_order(a.seed, cfg["rows"])
            tables = os.path.abspath(a.tables) if a.tables else suite_tables(inputs, cfg.get("tables", PROBE_TABLES))
            res = run_jvm(cp, ["rows", tables, work, str(a.trace), str(cfg.get("warmups", 1)),
                               str(cfg.get("passes", 1)), str(a.seconds), ",".join(rows)], work, deadline)
            digest = gen.digest(tables)
            if a.workload:
                expected = oracle.load_expected()[a.workload]
            else:  # probe: ask DuckDB for every row's answer on these tables
                with open(os.path.join(work, "oracle_sql.json")) as f:
                    sql = json.load(f)
                expected = {"tables": digest, "rows": oracle.oracle_fingerprints(tables, sql)}
            for o in res["ops"]:  # every timed execution's output is checked
                if o["ok"]:
                    out = os.path.join(work, "out", str(o["pass"]))
                    o["error"] = oracle.check_rows(expected, digest, [o["name"]], out)[o["name"]]
                    o["ok"] = o["error"] is None
        report(name, a, res, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def suite_tables(inputs, sizes):
    tables = os.path.join(inputs, "sf0.01")
    gen.suite_tables(TABLE_SEED, tables, **sizes)
    return tables


def registry_rows(cp, work):
    """Every row name in SparkEntry.queries."""
    out = os.path.join(work, "rows.txt")
    subprocess.run([java(), "-cp", cp, "perfbench.Main", "row-names", out], check=True)
    with open(out) as f:
        return f.read().split()


def refresh_expected():
    cp, _ = build()
    work = os.path.join(ROOT, ".perfbench_work", "refresh")
    shutil.rmtree(work, ignore_errors=True)
    expected = {}
    for name, cfg in WORKLOADS.items():
        if "rows" not in cfg:
            continue
        tables = suite_tables(os.path.join(work, name), cfg["tables"])
        sql_file = os.path.join(work, "oracle_sql.json")
        subprocess.run([java(), "-cp", cp, "perfbench.Main", "oracle-sql", sql_file, ",".join(cfg["rows"])],
                       check=True)
        with open(sql_file) as f:
            sql = json.load(f)
        expected[name] = {"tables": gen.digest(tables), "rows": oracle.oracle_fingerprints(tables, sql)}
        log(f"perfbench: {len(sql)} rows of {name}")
    with open(oracle.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    log(f"perfbench: wrote {os.path.relpath(oracle.EXPECTED, ROOT)}")


def report(name, a, res, base, work):
    ops = res["ops"]
    failed = [o for o in ops if not o["ok"]]
    attempted, n_failed = len(ops), len(failed)
    # warm-up and traced ops are checked, but their times are not samples
    good = [o for o in ops if o["ok"] and not o["pass"].startswith(("warmup", "traced"))]
    for o in failed[:5]:
        log(f"perfbench: FAILED {o['kind']} {o['name']} (pass {o['pass']}): {o['error']}")

    def ms(kind=None):
        return [o["ms"] for o in good if kind is None or o["kind"] == kind]

    e2e = {"setup_s": statistics.median(res["setup_s"]), "run_s": statistics.median(res["pass_s"]),
           "op_ms.p50": statistics.median(ms()) if good else 0.0, "peak_rss_mb": res["peak_rss_mb"]}
    lines = [f"workload {name}, seed {a.seed}: {len(good)} timed ops in {len(res['pass_s'])} pass(es), "
             f"{n_failed} of {attempted} attempted ops failed",
             f"  setup_s       {e2e['setup_s']:.3f} s   (median of {len(res['setup_s'])})",
             f"  run_s         {e2e['run_s']:.3f} s   (median of {len(res['pass_s'])} passes)",
             f"  op_ms.p50     {e2e['op_ms.p50']:.1f} ms  (n={len(good)})",
             f"  error_rate    {n_failed / attempted:.4f} ratio",
             f"  peak_rss_mb   {e2e['peak_rss_mb']:.0f} MiB"]
    if "space" in res:
        sp = res["space"]
        for kind, q in (("load", .5), ("load", .9), ("page", .5), ("replay", .5), ("append", .5)):
            xs = ms(kind)
            v = pct(xs, q)
            lines.append(f"  {kind}_ms.p{int(q * 100):<3}   {v if v is None else round(v, 1)} ms  (n={len(xs)})")
        lines.append(f"  space_amp     {sp['bytes'] / sp['user_bytes']:.3f} ratio  "
                     f"({sp['bytes']} bytes in {sp['files']} files for {sp['user_bytes']} user bytes; "
                     f"after bulk load {sp['bulk_bytes'] / sp['bulk_user_bytes']:.3f})")
    else:
        per_row = {}
        for o in good:
            per_row.setdefault(o["name"], []).append(o["ms"])
        for n, xs in per_row.items():
            lines.append(f"  row {n:<22} {statistics.median(xs):9.1f} ms  (n={len(xs)})")
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    if a.trace:
        t = res["trace"]
        overhead = t["traced_run_s"] - t["untraced_run_s"]
        lines.append(f"  traced pass {t['traced_run_s']:.3f} s, untraced {t['untraced_run_s']:.3f} s: "
                     f"tracing overhead {overhead:+.3f} s")
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        stem = os.path.join(base, "traces", f"{name}-seed{a.seed}")
        shutil.copyfile(os.path.join(work, "trace.jsonl"), stem + ".spans.jsonl")
        summary = {"workload": name, "seed": a.seed, "metrics": t, "tracing_overhead_s": overhead,
                   "self_ms": self_times(stem + ".spans.jsonl"), "ops": res["trace_ops"]}
        with open(stem + ".json", "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        for k, v in summary["self_ms"].items():
            lines.append(f"  self time {k:<6} {v:10.1f} ms")
        lines.append(f"  trace written to {os.path.relpath(stem, ROOT)}.json and .spans.jsonl")
        metrics = {k: {"value": t[k], "unit": u} for k, u in PER_LAYER}
    print("\n".join(lines))
    print(json.dumps({"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
                      "metrics": metrics}))


def self_times(spans_path):
    """Self time per span kind: a span's duration minus the part of it its
    children cover, summed over the spans of that kind."""
    spans = [json.loads(l) for l in open(spans_path)]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for lo, hi in iv:
            if hi <= lo:
                continue
            if cur_s is None or lo > cur_e:
                if cur_s is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = lo, hi
            else:
                cur_e = max(cur_e, hi)
        if cur_s is not None:
            covered += cur_e - cur_s
        out[s["kind"]] = out.get(s["kind"], 0.0) + (s["end_ms"] - s["start_ms"]) - covered
    return out


if __name__ == "__main__":
    main()
