#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <ecg_sweep|catalog_e2e>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source into .bench_build/ (sbt, offline); later runs
reuse that build while the sources are unchanged. The last line of standard
output is one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The exit code is 0 only when every output check passed.
See perfbench/README.md for the workloads and metrics.
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
import benchlib  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ecg_sweep", "catalog_e2e")

# Workload sizes (see README.md for why each is what it is).
ECG_ROWS = 400
ECG_KS = (4, 8, 16)
ECG_MAX_DEPTH = 5
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
CATALOG_EXPECTED = os.path.join(HERE, "expected", "catalog_sf0.01.json")
SETUP_REPS = 3
# Untimed repetitions before the timed phase: a catalog pass is still 30 %
# slower after one (README.md, "Set-up, warm-up and the timed phase").
WARMUP_REPS = {"ecg_sweep": 1, "catalog_e2e": 2}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Every per-layer metric, in output order; a layer the workload does not
# exercise reads 0.
DIST_MEASURES = ("euclidean", "dtw_full", "dtw_window_0.1", "wdtw_0.05",
                 "ddtw_full", "ddtw_window_0.1", "wddtw_0.05", "lcss_0.05_10",
                 "erp_0.0", "twe_0.005_1.0", "msm_0.5")
# catalog_e2e's query groups; each group's summed time is a detail figure
CATALOG_GROUPS = (
    ("exec_bound", ("q_approx_distinct", "q_dedup_substring")),
    ("driver_bound", ("q_dedup_topk_jaccard", "q_dedup_clusters")),
    ("control", ("q3_top_orders",)),
)
CATALOG_QUERIES = tuple(q for _, qs in CATALOG_GROUPS for q in qs)
SCOPES = ("local", "global", "predict", "catalog")
SCOPE_FIELDS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
                ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                ("core_util", "fraction"), ("driver_gap_s", "s"))


def per_layer_units():
    units = {"dist.%s.us_per_call" % m: "us" for m in DIST_MEASURES}
    units.update({"tree.fit_s": "s", "tree.predict_us_per_row": "us"})
    units.update({"local.train_s.k%d" % k: "s" for k in ECG_KS})
    units.update({"local.predict_s": "s", "global.fit_s": "s",
                  "global.depth": "count", "global.leaves": "count",
                  "io.ingest_s": "s", "split.split_minmax_s": "s",
                  "prep.normalize_s": "s", "eval.performance_s": "s",
                  "eval.classwise_s": "s", "catalog.build_s": "s",
                  "catalog.plan_s": "s", "catalog.exec_s": "s"})
    units.update({"catalog.q.%s.e2e_s" % q: "s" for q in CATALOG_QUERIES})
    for scope in SCOPES:
        units.update({"%s.%s" % (scope, f): u for f, u in SCOPE_FIELDS})
    units.update({"jvm.heap_peak_mb": "MB", "jvm.gc_s": "s",
                  "trace.overhead_frac": "fraction"})
    return units


E2E_UNITS = {"setup_s": "s", "wall_s": "s", "build_s": "s", "materialize_s": "s"}

# The figures only one workload has, printed by name and unit above the
# result line.
DETAIL_UNITS = {
    "ecg_sweep": (("train_local_s", "s"), ("train_global_s", "s"),
                  ("predict_rows_per_s", "rows/s"), ("accuracy_local", "fraction"),
                  ("accuracy_global", "fraction")),
    "catalog_e2e": (("catalog_e2e_s", "s"),) + tuple(
        ("catalog_%s_s" % g, "s") for g, _ in CATALOG_GROUPS),
}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it; on timeout kill the
    whole group (sbt and java children included) and wait again."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("%s ran past its deadline" % cmd[0])
    return proc.returncode


# -------------------------------------------------------------------- build

def _source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compile the engine and the benchmark program; return the runtime
    classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("no engine sources under %s/src/main/scala" % ROOT)
    digest = _source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built.get("digest") == digest:
            return built["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building the engine and the benchmark program (sbt compile)")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         timeout=850, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT)
    with open(log_path) as f:
        lines = [l for l in f.read().splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        raise RuntimeError("build failed, see .bench_build/build.log")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


# ---------------------------------------------------------------- workloads

def write_ecg_input(workdir, seed):
    """Write the labelled set; returns (path, sha256 of its bytes, seconds)."""
    t0 = time.perf_counter()
    text = benchlib.ucr_tsv(benchlib.ecg_rows(seed, ECG_ROWS)).encode()
    path = os.path.join(workdir, "ecg.tsv")
    with open(path, "wb") as f:
        f.write(text)
    return path, hashlib.sha256(text).hexdigest(), time.perf_counter() - t0


def run_jvm(classpath, workdir, argv, deadline):
    # The engine's own launch settings (build.sbt: default collector, heap
    # from SPARK_DRIVER_MEM). Spark's scratch space and the JVM's temp files
    # stay in the run directory; -XX:-UsePerfData keeps the JVM from writing
    # its hsperfdata file to the system temp directory.
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in JVM_OPENS] + [
        "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"), "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + tmp, "-Djava.io.tmpdir=" + tmp,
        "-cp", classpath, "perfbench.PerfBench"] + argv
    jvm_log = os.path.join(workdir, "jvm.log")
    with open(jvm_log, "w") as out:
        code = run_group(cmd, timeout=deadline - time.time(), cwd=workdir,
                         stdout=out, stderr=subprocess.STDOUT)
    with open(jvm_log) as f:
        text = f.read()
    # the program's own progress lines (load, warm-up, repetition timings)
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if code != 0:
        raise RuntimeError("benchmark JVM failed (%d):\n%s" % (code, text[-3000:]))


# ------------------------------------------------------------------ metrics

def e2e_metrics(record, setup_s):
    iters = [it for it in record["iterations"] if not it["traced"]]
    per_iter = [dict(it["metrics"], wall_s=it["wall_s"]) for it in iters]
    med = benchlib.median_by_key(per_iter)
    metrics = {"setup_s": setup_s}
    metrics.update({k: med[k] for k in ("wall_s", "build_s", "materialize_s")})
    return metrics, med


def layer_metrics(record, setup_loads):
    cores = record["cores"]
    traced = [it for it in record["iterations"] if it["traced"]]
    plain = [it for it in record["iterations"] if not it["traced"]]
    n = len(traced)
    out = dict.fromkeys(per_layer_units(), 0.0)
    med = benchlib.median_by_key([it["metrics"] for it in traced])
    med.update(benchlib.median_by_key(setup_loads))
    med.update(record["micro"])
    for k in out:
        if k in med:
            out[k] = med[k]
    spans = record["spans"]
    jobs = record["jobs"]
    scopes = benchlib.charge_jobs(jobs, spans)
    for scope in SCOPES:
        walls = benchlib.scope_walls(spans, scope)
        if not walls:
            continue
        mine = [j for j, sc in zip(jobs, scopes) if sc == scope]

        def total(key, mine=mine):
            return sum(j[key] for j in mine) / n
        wall_s = sum(e - s for s, e in walls) / 1e3 / n
        out.update({
            scope + ".jobs": len(mine) / n, scope + ".stages": total("stages"),
            scope + ".tasks": total("tasks"),
            scope + ".task_run_s": total("task_run_ms") / 1e3,
            scope + ".task_cpu_s": total("task_cpu_ns") / 1e9,
            scope + ".gc_s": total("gc_ms") / 1e3,
            scope + ".shuffle_write_mb": total("shuffle_write_bytes") / 1048576,
            scope + ".spill_mb": total("spill_bytes") / 1048576,
            scope + ".core_util": benchlib.core_util(total("task_run_ms") / 1e3, wall_s, cores),
            scope + ".driver_gap_s": benchlib.driver_gap(
                walls, [(j["start_ms"], j["end_ms"]) for j in mine]) / 1e3 / n,
        })
    out["jvm.heap_peak_mb"] = record["jvm"]["heap_peak_mb"]
    out["jvm.gc_s"] = record["jvm"]["gc_s"]
    out["trace.overhead_frac"] = (
        benchlib.median([it["wall_s"] for it in traced])
        / benchlib.median([it["wall_s"] for it in plain]) - 1.0)
    breakdown = {
        "iterations_traced": n, "iterations_untraced": len(plain),
        "self_s_per_iteration": benchlib.self_time_by_name(spans, n),
    }
    return out, breakdown


def main(argv=None):
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record-expected", action="store_true",
                    help="catalog_e2e: write the expected digests instead of checking them")
    ap.add_argument("--breakdown", help="traced run: write the per-layer breakdown here")
    args = ap.parse_args(argv)

    try:
        classpath = ensure_build()
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        log("cannot build: %s" % e)
        return 2

    setup_t0 = time.time()
    workdir = os.path.join(BUILD, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    cores = len(os.sched_getaffinity(0))
    if args.workload == "catalog_e2e":
        # catalog_e2e is driver-bound: on half the cores it runs as fast, and
        # a busy neighbour on a shared host slows it less (see README.md)
        cores = max(1, cores // 2)
    out_path = os.path.join(workdir, "record.json")
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--cores", str(cores), "--out", out_path,
                "--setup-reps", str(SETUP_REPS),
                "--warmup", str(WARMUP_REPS[args.workload]),
                # a traced run needs one traced and one untraced repetition
                "--min-iters", str(1 + args.trace)]
    gen_times = []
    # the traced run of every workload needs the series for the dist/tree
    # microbenchmarks
    if args.workload == "ecg_sweep" or args.trace:
        digests = set()
        for _ in range(SETUP_REPS):
            ecg, digest, s = write_ecg_input(workdir, args.seed)
            gen_times.append(s)
            digests.add(digest)
        if len(digests) != 1:
            log("generator is not deterministic")
            return 1
        jvm_args += ["--ecg", ecg]
    if args.workload == "ecg_sweep":
        models = os.path.join(workdir, "models")
        os.makedirs(models)
        jvm_args += ["--ks", ",".join(map(str, ECG_KS)), "--models", models,
                     "--max-depth", str(ECG_MAX_DEPTH)]
    else:
        jvm_args += ["--data", CATALOG_DATA, "--groups",
                     ";".join("%s=%s" % (g, ",".join(qs)) for g, qs in CATALOG_GROUPS)]
        if args.record_expected:
            os.makedirs(os.path.dirname(CATALOG_EXPECTED), exist_ok=True)
            jvm_args += ["--record", CATALOG_EXPECTED]
        else:
            jvm_args += ["--expected", CATALOG_EXPECTED]

    spawned = time.time()
    # The deadline allows 150 s for set-up, warm-up, checks and shutdown
    # plus twice the timed phase, which keeps a --seconds 5 run within 180 s.
    deadline = max(started, setup_t0 - 10) + 150 + 2 * args.seconds
    try:
        run_jvm(classpath, workdir, jvm_args, deadline)
        with open(out_path) as f:
            record = json.load(f)
    except (RuntimeError, OSError, ValueError) as e:
        log(str(e))
        return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    loads = record["loads"]
    gen_s = benchlib.median(gen_times) if args.workload == "ecg_sweep" else 0.0
    setup_s = ((spawned - setup_t0 - sum(gen_times))
               + (record["session_ready_ms"] / 1e3 - spawned)
               + gen_s + benchlib.median([l["s"] for l in loads])
               + record["warmup_s"])
    e2e, med = e2e_metrics(record, setup_s)
    attempted, failed = record["attempted"], record["failed"]
    for f in record["failures"]:
        log("FAILED " + f)
    for name, unit in DETAIL_UNITS[args.workload]:
        print("%-24s %14.6f %s" % (name, med.get(name, float("nan")), unit))
    print("%-24s %14.6f %s" % ("failed_ops_frac", failed / attempted, "fraction"))

    if args.trace:
        metrics, breakdown = layer_metrics(record, [l["metrics"] for l in loads])
        units = per_layer_units()
        if args.breakdown:
            breakdown.update({"workload": args.workload, "seed": args.seed,
                              "per_layer": metrics, "end_to_end": e2e,
                              "detail": {k: med.get(k) for k, _ in DETAIL_UNITS[args.workload]}})
            with open(args.breakdown, "w") as f:
                json.dump(breakdown, f, indent=1, sort_keys=True)
    else:
        metrics, units = e2e, E2E_UNITS
    for name, value in metrics.items():
        print("%-40s %16.6f %s" % (name, value, units[name]))
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
