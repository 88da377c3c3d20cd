#!/usr/bin/env python3
"""The repository benchmark: one command that builds the library and the
harness from source, runs a workload, checks every output and prints the
metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 0|1

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md for the workloads, the metrics and how to read a
trace.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

WORKLOADS = {
    # name: (catalog tables per side, data scale factor, set-up rounds per
    # run, fewest timed units per run)
    "catalog_parquet": (12, None, 3, 3),
    "catalog_diff_wide": (1500, None, 3, 3),
    "operator_mix": (0, 0.002, 1, 3),
}
STATE = ".perfbench"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
MIX_KEYS = [
    "train_assembly_dsir_pipeline", "knn_ivf", "dedup_minhash_lsh", "graph_neighbor_jaccard",
    "multimodal_phash_clusters", "tpch_q9_product_profit", "tpch_q18_large_orders",
    "events_sessionize", "events_dau_wau_sketch",
]


def per_layer_metrics():
    """Every per-layer metric name with its unit, in BENCHMARK.json order."""
    def unit(field):
        if field.endswith("_s"):
            return "s"
        if field.endswith("_bytes"):
            return "bytes"
        if field == "jobs_per_table":
            return "ratio"
        return "count"
    names = [f"schema.Snapshot.{f}" for f in
             ("self_s", "jobs", "tasks", "jobs_per_table", "driver_gap_s")]
    names += [f"diff.Diff.{f}" for f in ("plan_s", "exchanges", "broadcast_joins", "findings")]
    names += [f"diff.Report.{f}" for f in ("self_s", "jobs", "tasks", "shuffle_bytes",
                                           "spill_bytes", "driver_gap_s", "json_bytes")]
    for stage in ("ext.CorpusClean.clean", "ext.TrainPrep.dsirSelect", "ext.CorpusClean.finish"):
        names += [f"{stage}.{f}" for f in
                  ("self_s", "jobs", "shuffle_bytes", "spill_bytes", "driver_gap_s")]
    for key in MIX_KEYS:
        names += [f"{key}.{f}" for f in
                  ("wall_s", "jobs", "shuffle_bytes", "spill_bytes", "driver_gap_s", "exchanges")]
    names += ["log.error_lines", "log.warn_lines", "trace.wall_p50_s"]
    return [(n, unit(n.rsplit(".", 1)[1])) for n in names]


END_TO_END = [("setup_s", "s"), ("wall_p50_s", "s"), ("wall_tail_s", "s"),
              ("peak_rss_mb", "MB"), ("ok_ratio", "ratio")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp():
    """A hash of every source and build file the harness is compiled from."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             os.path.relpath(os.path.join(HERE, "build.sbt")),
             os.path.relpath(os.path.join(HERE, "src"))]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles library and harness with sbt once per source state; returns the classpath."""
    state = os.path.join(STATE, "build")
    stamp, cp_file = os.path.join(state, "stamp"), os.path.join(state, "classpath")
    want = source_stamp()
    if os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read()
    os.makedirs(state, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no JVM perf files in /tmp
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log_path = os.path.join(state, "sbt.log")
    with open(log_path, "w") as log:
        # keep sbt's scratch files in the checkout and start no sbt server
        tmp = os.path.abspath(os.path.join(state, "tmp"))
        os.makedirs(tmp, exist_ok=True)
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", f"-J-Djava.io.tmpdir={tmp}",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env)
    lines = open(log_path).read().splitlines()
    if rc != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        fail(f"build failed (exit {rc}); see {log_path}")
    cp = os.pathsep.join(os.path.abspath(p) for p in lines[-1].split(os.pathsep))
    open(cp_file, "w").write(cp)
    open(stamp, "w").write(want)
    return cp


def host_fingerprint(spark_version):
    mem = next((l.split()[1] for l in open("/proc/meminfo") if l.startswith("MemTotal:")), "?")
    jdk = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                         capture_output=True, text=True).stderr
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": int(mem),
            "jdk": jdk.splitlines()[0] if jdk else "?", "spark": spark_version,
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS", "")}


def tail_percentile(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n). Below eleven samples it is the maximum."""
    s, n = sorted(xs), len(xs)
    if n > 10:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


def median(xs):
    s, n = sorted(xs), len(xs)
    return (s[n // 2] + s[(n - 1) // 2]) / 2 if n else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=0, help="override the workload's size")
    ap.add_argument("--setups", type=int, default=0, help="override the set-up rounds per run")
    args = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("run from the repository root: build.sbt and src/main/scala are missing")
    classpath = build()

    size, sf, setups, min_units = WORKLOADS[args.workload]
    work = os.path.abspath(os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s = 0.0
        data = None
        if sf is not None:
            import datagen
            data = os.path.join(work, "data")
            t0 = time.perf_counter()
            datagen.generate(data, args.seed, sf)
            gen_s = time.perf_counter() - t0

        # a fixed heap and young generation keep peak RSS from following
        # the collector's sizing decisions
        cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work}/tmp"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "graft.perfbench.Main", "--workload", args.workload,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--work", work,
                "--size", str(args.size or size), "--setups", str(args.setups or setups),
                "--min-units", str(min_units)]
        if data:
            cmd += ["--data", data]
        err_path = os.path.join(work, "stderr.log")
        with open(err_path, "w") as err, open(os.path.join(work, "stdout.log"), "w") as out:
            try:
                # Spark's scratch space stays inside the work directory
                env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
                rc = run_bounded(cmd, JVM_TIMEOUT_S, stdout=out, stderr=err,
                                 stdin=subprocess.DEVNULL, env=env)
            except subprocess.TimeoutExpired:
                fail(f"harness timed out after {JVM_TIMEOUT_S} s", 1)
        errors, warns = checks.count_log_lines(err_path)
        os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
        shutil.copy(err_path, os.path.join(
            STATE, "results", f"{args.workload}-s{args.seed}-t{args.trace}.stderr.log"))
        if rc != 0:
            sys.stderr.write(open(err_path).read()[-4000:])
            fail(f"harness exited {rc}", 1)
        res = json.load(open(os.path.join(work, "result.json")))

        samples = res["samples"]
        bad = checks.check_samples(args.workload, work, data, res)
        attempted = sum(s["ops"] for s in samples)
        failed = min(attempted, sum(s["failed"] for s in samples) + bad["failed_ops"])
        walls = [s["wall_s"] for i, s in enumerate(samples)
                 if s["failed"] == 0 and i not in bad["bad_samples"]]
        tail, tail_pct, n = tail_percentile(walls) if walls else (0.0, 100.0, 0)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host_fingerprint(res["spark_version"]),
            "samples": len(samples), "ok_samples": n, "wall_tail_percentile": tail_pct,
            "setup_rounds_s": res["setup_s"], "datagen_s": gen_s,
            "unit_walls_s": [s["wall_s"] for s in samples],
            "unit_jobs": [s["jobs"] for s in samples], "problems": bad["problems"][:20],
            "log.error_lines": errors, "log.warn_lines": warns,
        }
        if args.trace:
            layers = dict(res["layers"], **{"log.error_lines": errors, "log.warn_lines": warns,
                                            "trace.wall_p50_s": median(walls)})
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in per_layer_metrics()}
        else:
            values = {"setup_s": gen_s + median(res["setup_s"]), "wall_p50_s": median(walls),
                      "wall_tail_s": tail, "peak_rss_mb": res["peak_rss_mb"],
                      "ok_ratio": (attempted - failed) / attempted}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
        record["metrics"] = metrics
        rec_path = os.path.join(STATE, "results",
                                f"{args.workload}-s{args.seed}-t{args.trace}.json")
        with open(rec_path, "w") as f:
            json.dump(record, f, indent=1)
        for p in bad["problems"][:20]:
            print(f"check: {p}")
        print(json.dumps({k: record[k] for k in
                          ("host", "samples", "ok_samples", "wall_tail_percentile",
                           "setup_rounds_s", "datagen_s", "log.error_lines",
                           "log.warn_lines")}))
        print(json.dumps({"correct": failed == 0 and not bad["problems"],
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
