#!/usr/bin/env python3
"""Seeded commissions benchmark for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload gl_full --seed 7 --seconds 10 --trace 0

Workloads: gl_full, gl_delta, ops_iterative (see perfbench/README.md).
The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics untraced, per-layer metrics with --trace 1).
A full artifact (environment, probes, every operation and span) is
written under perfbench/.work/artifacts/.

Steps: build the engine and the harness from source (cached by content
hash), write seeded inputs (cached per seed), run the JVM harness, replay
the oracles in DuckDB after the JVM has exited (cached per inputs), check
every operation's output, and report.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("gl_full", "gl_delta", "ops_iterative")
# base scale factor per workload. gl_delta and ops_iterative are bound by
# per-job and planning overhead, so they run the small base; smoke runs use
# sf0.001 throughout
BASE = {"gl_full": "sf0.01", "gl_delta": "sf0.001", "ops_iterative": "sf0.001"}
ITERATIVE = ("g_entity_resolution", "v_nnd_search", "d_components", "d_kcore",
             "d_bfs_levels", "d_lpa_communities", "x_bpe_deep", "d_minhash_lsh")
SPARK_KEYS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_per_stage",
              "spark.task_run_s", "spark.task_cpu_s", "spark.core_busy",
              "spark.task_wait_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
              "spark.spill_mb", "spark.task_failures", "catalyst.executions",
              "catalyst.plan_ms")
END_TO_END = {"batch_s": "s", "cert_rows_per_s": "1/s", "delta_p50_s": "s",
              "delta_tail_s": "s", "setup_s": "s", "peak_heap_mb": "MB"}
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 170
STEAL_DIRTY = 0.05  # a run is flagged when other guests took more CPU time than this
# keep every JVM's files inside the checkout: temp files under .work, and
# no hsperfdata file in the system temp directory
JVM_LOCAL = [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-XX:-UsePerfData"]
DELTAS = 24  # gl_delta batches per cycle: >= 20 gives delta_tail_s a real tail


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# --- build -------------------------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        # the engine's build names the jar directory it compiles against
        with open(os.path.join(ROOT, "build.sbt")) as f:
            for line in f:
                if line.strip().startswith("unmanagedBase"):
                    return line.split('file("', 1)[1].split('"', 1)[0]
        fail("SPARK_HOME is not set and build.sbt names no jar directory")
    return os.path.join(home, "jars")


def java_cmd(cp, *args):
    return ["java"] + JVM_LOCAL + [x for p in ADD_OPENS for x in ("--add-opens", p)] + [
        "-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Harness"] + list(args)


def build():
    """Compile src/main/scala and perfbench/src with scalac into a class
    directory keyed by the sources' content hash.
    Returns (classpath, seconds)."""
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not main or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found: run from the root of the repository")
    jars = spark_jars()
    jar_cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    if not jar_cp:
        fail(f"no jars under {jars}")
    h = hashlib.sha256()
    for p in main + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(jar_cp.encode())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    cp = classes + os.pathsep + jar_cp
    if os.path.exists(os.path.join(out, ".done")):
        return cp, 0.0
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    t0 = time.perf_counter()
    log(f"compiling {len(main)} engine + {len(bench)} harness sources")
    r = subprocess.run(["java"] + JVM_LOCAL + ["-Xmx2g", "-Xss8m", "-cp", jar_cp, "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", classes] + main + bench,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        fail("compilation failed")
    open(os.path.join(out, ".done"), "w").close()
    return cp, time.perf_counter() - t0


# --- inputs ------------------------------------------------------------------

def inputs(seed, base):
    """Seeded copy of a base scale factor, cached per seed. Returns
    (directory, seconds spent generating)."""
    d = os.path.join(WORK, "inputs", f"{base}-seed{seed}")
    if os.path.exists(os.path.join(d, ".done")):
        return d, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(d, ignore_errors=True)
    gen.generate(os.path.join(HERE, "base", base), d, seed)
    open(os.path.join(d, ".done"), "w").close()
    return d, time.perf_counter() - t0


def cert_rows(inputs_dir):
    import pyarrow.parquet as pq
    return pq.ParquetFile(os.path.join(inputs_dir, "lineitem.parquet")).metadata.num_rows


# --- environment -------------------------------------------------------------

def md5_probe():
    """Fixed-work CPU probe: 200k md5 digests."""
    t0 = time.perf_counter()
    b = b"perfbench"
    for _ in range(200000):
        b = hashlib.md5(b).digest()
    return time.perf_counter() - t0


def cpu_ticks():
    """(steal, total) CPU ticks of the whole machine from /proc/stat, or
    None where it does not exist."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings."""
    if not before or not after or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def probes_dirty(probes):
    """A probe reads dirty when it differs by more than 2x before and after
    the run, or exceeds 2x the fastest reading any run in this checkout has
    recorded: throttling windows on shared hosts last minutes and can cover
    a whole run."""
    path = os.path.join(WORK, "probe_min.json")
    try:
        with open(path) as f:
            best = json.load(f)
    except (OSError, ValueError):
        best = {}
    dirty = False
    for name, (before, after) in probes.items():
        lo, hi = min(before, after), max(before, after)
        dirty |= hi > 2 * lo or hi > 2 * best.get(name, hi)
        best[name] = min(lo, best.get(name, lo))
    with open(path, "w") as f:
        json.dump(best, f)
    return dirty


# --- metrics -----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(xs)
    if not s:
        return None
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """The highest percentile with at least 10 samples beyond it (never
    below the median). Returns (value, percentile)."""
    p = max(50.0, 100.0 * (1.0 - 10.0 / len(xs))) if xs else 50.0
    return percentile(xs, p), p


def check(res, want):
    """Mark each op ok/failed. Returns the list of unit ops with `ok` set and
    the per-output check reasons."""
    wl = res["workload"]
    reasons = {}
    for op in res["ops"]:
        op["ok"] = op["error"] is None
        if op["ok"] and op["output"]:
            key = "domain_e2e_gl" if wl != "ops_iterative" else op["name"]
            try:
                why = oracle.compare(oracle.read_output(op["output"]), want[key])
            except Exception as e:  # an unreadable output is a failed op
                why = f"check error: {e}"
            if why:
                op["ok"] = False
                reasons[os.path.basename(op["output"])] = why
    if wl == "gl_delta":
        # a wrong final ledger fails every delta of its cycle
        bad = {op["group"] for op in res["ops"] if not op["ok"]}
        units = [op for op in res["ops"] if op["name"] == "delta"]
        for op in units:
            op["ok"] = op["group"] not in bad
    else:
        units = [op for op in res["ops"] if op["name"] != "ledger"]
    return units, reasons


def batches(wl, units):
    """Complete, all-correct batches (gl_full batch, gl_delta cycle,
    ops_iterative pass) as (index, traced, wall seconds)."""
    groups = {}
    for op in units:
        groups.setdefault(op["group"], []).append(op)
    want = len(ITERATIVE) if wl == "ops_iterative" else None
    return [(g, any(o["traced"] for o in ops), sum(o["seconds"] for o in ops))
            for g, ops in sorted(groups.items())
            if all(o["ok"] for o in ops) and (want is None or len(ops) == want)]


def batch_time(wl, units, done):
    """Wall time of one warm batch: the fastest untraced complete batch
    (gl_full batch, gl_delta cycle); on ops_iterative, a pass composed of
    each query's fastest time over the untraced complete passes. Contention
    on a shared host only ever slows a unit down and comes in windows of
    seconds to minutes, so the fastest of two warm samples drops a window
    that covers one of them, where their median would average it in."""
    untraced = [(g, secs) for g, t, secs in done if not t]
    if not untraced:
        return None
    if wl != "ops_iterative":
        return min(secs for _, secs in untraced)
    passes = {g for g, _ in untraced}
    return sum(min(o["seconds"] for o in units if o["group"] in passes and o["name"] == q)
               for q in ITERATIVE)


def trace_overhead(wl, units, done):
    """Median traced minus median untraced wall time per traced unit (a
    delta for gl_delta, else a batch); every timed unit is warm."""
    if wl == "gl_delta":
        xs = [(o["traced"], o["seconds"]) for o in units if o["ok"]]
    else:
        xs = [(t, secs) for _, t, secs in done]
    on = [v for t, v in xs if t]
    off = [v for t, v in xs if not t]
    return median(on) - median(off) if on and off else None


def counts_of(op, key=None):
    c = op.get("counts") or {}
    return c.get(key or op["name"]) or {}


def per_layer(wl, res, units):
    """Per-layer metrics from the traced operations only."""
    m = {k: 0.0 for k in SPARK_KEYS}
    m.update({k: 0.0 for k in ("mat.build_jobs", "mat.build_s", "action.jobs", "action.s",
                               "domain.inputs_s", "domain.calc_s", "domain.gl_s")})
    if wl == "gl_delta":
        m.update({"domain.delta_s": 0.0, "ledger.tasks": 0.0})
    for q in ITERATIVE:
        m[f"operators.{q}.s"] = 0.0
        m[f"operators.{q}.jobs"] = 0.0
    traced = [o for o in units if o["traced"] and o["ok"]]
    if not traced:
        return m
    # a "batch" is the unit the spark counters are summed over
    groups = {}
    for o in traced:
        groups.setdefault(o["group"] if wl == "ops_iterative" else id(o), []).append(o)
    per = []
    for ops in groups.values():
        agg = {k: sum(counts_of(o).get(k, 0.0) for o in ops) for k in SPARK_KEYS}
        wall = sum(o["seconds"] for o in ops)
        agg["spark.core_busy"] = agg["spark.task_run_s"] / (wall * res["cores"]) if wall else 0.0
        agg["spark.tasks_per_stage"] = (agg["spark.tasks"] / agg["spark.stages"]
                                        if agg["spark.stages"] else 0.0)
        for kind, jobs, secs in (("build", "mat.build_jobs", "mat.build_s"),
                                 ("action", "action.jobs", "action.s")):
            spans = [(o, s) for o in ops for s in o["spans"] if s["kind"] == kind]
            agg[jobs] = sum(counts_of(o, s["name"]).get("spark.jobs", 0.0) for o, s in spans)
            agg[secs] = sum(s["seconds"] for _, s in spans)
        per.append(agg)
    for k in per[0]:
        m[k] = median([p[k] for p in per])

    def span_median(name):
        return median([s["seconds"] for o in traced for s in o["spans"] if s["name"] == name]) or 0.0
    if wl == "gl_full":
        for k in ("inputs", "calc", "gl"):
            m[f"domain.{k}_s"] = span_median(f"domain.{k}")
    elif wl == "gl_delta":
        m["domain.delta_s"] = median([o["seconds"] for o in traced])
        if res["ledger_tasks"]:
            m["ledger.tasks"] = float(res["ledger_tasks"][-1])
    else:
        for q in ITERATIVE:
            qs = [o for o in traced if o["name"] == q]
            if qs:
                m[f"operators.{q}.s"] = median([o["seconds"] for o in qs])
                m[f"operators.{q}.jobs"] = median([counts_of(o).get("spark.jobs", 0.0) for o in qs])
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="small inputs (sf0.001), 4 deltas")
    ap.add_argument("--fault", help="inject a fault: throw:OP or perturb:OP")
    args = ap.parse_args()
    deltas = 4 if args.smoke else DELTAS

    classpath, build_s = build()
    t_start = time.monotonic()  # a build may take longer; the run may not
    full, gen_s = inputs(args.seed, "sf0.001" if args.smoke else BASE[args.workload])
    warm, warm_gen_s = inputs(args.seed, "sf0.001")  # gl_full's first warm-up batch
    gen_s += warm_gen_s
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}{'-smoke' if args.smoke else ''}"
    out = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    n_cores = cores()
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(n_cores))
    cmd = java_cmd(classpath, "--workload", args.workload, "--inputs", full,
                   "--warm-inputs", warm, "--out", out,
                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--deltas", str(deltas))
    if args.fault:
        cmd += ["--fault", args.fault]

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    probe_before = md5_probe()
    ticks_before = cpu_ticks()
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in its own session: take it down with this process
            os.killpg(proc.pid, 9)
            proc.wait()
            fail(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            fail(f"harness exceeded the deadline; log: {log_path}")
    steal = steal_share(ticks_before, cpu_ticks())
    probe_after = md5_probe()
    if rc != 0:
        with open(log_path) as f:
            log(f.read()[-3000:])
        fail(f"harness exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)
    want, oracle_s = oracle.expected(full, sql, os.path.join(WORK, "oracle"), n_cores)
    units, reasons = check(res, want)
    failed = sum(1 for o in units if not o["ok"])
    attempted = len(units)
    done = batches(args.workload, units)
    b = batch_time(args.workload, units, done)
    # the unit of delta_p50_s/delta_tail_s: a delta on gl_delta; elsewhere
    # the warm batch or pass itself, so both restate batch_s
    if args.workload == "gl_delta":
        ok_units = [o["seconds"] for o in units if o["ok"] and not o["traced"]]
    else:
        ok_units = [b] if b is not None else []
    unit_kind = {"gl_full": "batch", "gl_delta": "delta", "ops_iterative": "pass"}[args.workload]
    tail_v, tail_p = tail(ok_units)
    rows = cert_rows(full)
    e2e = {
        "batch_s": b,
        "cert_rows_per_s": rows / b if b else None,
        "delta_p50_s": median(ok_units),
        "delta_tail_s": tail_v,
        "setup_s": res["setup"]["setup_s"],
        "peak_heap_mb": res["peak_heap_mb"],
    }
    layers = per_layer(args.workload, res, units)
    layers["fail_ratio"] = failed / attempted if attempted else 1.0
    overhead = trace_overhead(args.workload, units, done)
    layers["trace.overhead_s"] = overhead or 0.0

    dirty = probes_dirty({"md5_s": (probe_before, probe_after),
                          "calib_ms": (res["calib_ms_before"], res["calib_ms_after"])})
    dirty |= (steal or 0.0) > STEAL_DIRTY
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "fault": args.fault,
        "environment": {
            "cores": n_cores, "jvm_cores": res["cores"],
            "spark_graft_env": {k: v for k, v in sorted(env.items())
                                if k.startswith("SPARK_GRAFT_")},
            "mat_mode": res["mat_mode"], "confs": res["confs"],
            "max_heap_mb": res["max_heap_mb"],
        },
        "probes": {"md5_s_before": probe_before, "md5_s_after": probe_after,
                   "calib_ms_before": res["calib_ms_before"],
                   "calib_ms_after": res["calib_ms_after"],
                   "steal_share": steal, "dirty": dirty},
        "times": {"build_s": build_s, "gen_s": gen_s, "oracle_s": oracle_s,
                  "setup": res["setup"], "timed_s": res["timed_s"]},
        "cert_rows": rows, "unit": unit_kind,
        "samples": {"batches": done, "unit_s_untraced": ok_units},
        "unit_samples": len(ok_units), "delta_tail_percentile": tail_p,
        "trace_overhead_s": overhead,
        "attempted": attempted, "failed": failed, "check_failures": reasons,
        "errors": [o["error"] for o in res["ops"] if o["error"]],
        "end_to_end": e2e, "per_layer": layers,
        "ops": res["ops"],
    }
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    art_path = os.path.join(WORK, "artifacts", run_id + ".json")
    with open(art_path, "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(os.path.join(out, "outputs"), ignore_errors=True)
    log(f"artifact: {os.path.relpath(art_path, ROOT)}"
        f"{' (probe dirty)' if artifact['probes']['dirty'] else ''}")

    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.core_busy", "fail_ratio", "spark.tasks_per_stage"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
