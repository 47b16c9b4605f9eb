#!/usr/bin/env python3
"""Benchmark entry point for graft.

    python3 perfbench/run.py --workload agent_session|corpus_pipeline|stats_report \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness
(perfbench/harness) with sbt when their sources changed, generates the
seed's inputs in a separate process, runs the workload in one JVM, checks
every output, writes a run record under .bench_build/perfbench/records/ and
prints one JSON result as its last line. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import oracle  # noqa: E402

# Inputs per workload (snapshot scale factor, generated corpus size) and the
# median warm-pass time measured on a quiet 4-core box: a run makes
# --seconds / pass_s warm passes, so every run of a workload does the same
# work and stops at the same point of the JIT's warm-up.
WORKLOADS = {
    "agent_session": {"sf": 0.1, "corpus_docs": 0, "pass_s": 3.1},
    "corpus_pipeline": {"sf": 0.001, "corpus_docs": 16000, "pass_s": 6.0},
    "stats_report": {"sf": 0.02, "corpus_docs": 0, "pass_s": 8.0},
}
# Fixed heap flags. The heap is reserved at full size but not pre-touched,
# and the young generation and the old-generation marking threshold are
# fixed, so G1 makes no sizing decision from measured pause times. VmHWM
# (peak_rss_mb) is then native memory, the young generation and the old
# regions the program's surviving data has touched. With a heap that G1
# grew from 256 MB, VmHWM moved in steps of a few hundred MB between runs.
HEAP_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseG1GC", "-XX:-G1UseAdaptiveIHOP"]
RESETUPS = 4          # set-ups after the first, in the same JVM
MIN_PASSES = 4        # warm passes, however small --seconds is
AGENT_BLOCKS = 200    # tool-call blocks in an agent plan (one per pass)
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
E2E_UNITS = {"pass_s": "s", "cold_s": "s", "setup_s": "s", "ok_ratio": "ratio", "peak_rss_mb": "MB"}
LAYERS = [
    "build.ms", "build.jobs", "pin.blocks", "pin.mb", "plan.ms", "exec.ms", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.sched_delay_ms", "exec.task_cpu_ms", "exec.task_run_ms",
    "exec.max_task_ms", "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "exec.input_rows", "exec.input_mb", "exec.parallel_eff", "driver.ms", "harness.ms",
    "codegen.compiles", "codegen.ms", "jit.ms", "gc.ms", "write.mb", "write.files"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns (classpath, stamp)."""
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read(), stamp
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "harness/compile", "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), stdout=out, stderr=subprocess.STDOUT,
            env=env, timeout=850)
    lines = open(os.path.join(WORK, "build.log")).read().splitlines()
    cps = [ln for ln in lines if ln.count(os.pathsep) > 3 and "classes" in ln and " " not in ln]
    if p.returncode != 0 or not cps:
        log("build failed:\n" + "\n".join(lines[-30:]))
        sys.exit(1)
    log(f"built in {time.time() - t0:.0f} s")
    cp = cps[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def oracle_sql(cp, stamp):
    """The stats_report queries' DuckDB SQL, from the program's
    `SparkEntry.oracleSql`; computed once per build."""
    path = os.path.join(WORK, f"oracle_sql-{stamp[:16]}.json")
    if not os.path.exists(path):
        java(cp, os.path.join(WORK, "jvm-oracle"), ["graftbench.OracleSql", path])
    return json.load(open(path))


def prewarm(cp):
    """Reads every classpath jar once, so a cold JVM's class loading does not
    also wait on the disk when the page cache has dropped them."""
    for path in cp.split(os.pathsep):
        if os.path.isfile(path):
            with open(path, "rb") as f:
                while f.read(1 << 20):
                    pass


def java(cp, work, args, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    prewarm(cp)
    cmd = (["java"] + HEAP_FLAGS + ["-Duser.timezone=UTC",
            "-Djava.awt.headless=true", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/harness/log4j2.properties"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp] + args)
    with open(os.path.join(work, "stderr.log"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        log(f"java exited {rc}:\n" + "\n".join(open(os.path.join(work, "stderr.log")).read().splitlines()[-25:]))
        sys.exit(1)
    return " ".join(cmd[1:cmd.index("-cp")])


# ---- host state ------------------------------------------------------------

def host_state():
    try:
        load = open("/proc/loadavg").read().split()[:3]
        cpu = open("/proc/stat").readline().split()[1:]
        return {"loadavg": [float(x) for x in load], "cpu_jiffies_total": sum(int(x) for x in cpu),
                "cpu_jiffies_steal": int(cpu[7]) if len(cpu) > 7 else 0}
    except OSError:
        return {}


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def warmup_count(warm):
    """Leading warm passes still on the JIT / codegen slope: a pass whose JIT
    time stands more than 20% (or whose Janino compile count more than 50%)
    above the median of the later half of the run. The JIT time of both
    workloads falls by half over the first passes. At most half of the warm
    passes are dropped."""
    tail = warm[len(warm) // 2:]
    jit_level = median([p["jit_ms"] for p in tail])
    cg_level = median([p["codegen_compiles"] for p in tail])
    k = 0
    while k < len(warm) // 2 and (warm[k]["jit_ms"] > 1.2 * jit_level + 50
                                  or warm[k]["codegen_compiles"] > 1.5 * cg_level + 5):
        k += 1
    return k


def check_outputs(workload, rec, data_dir, expected):
    """Returns (attempted, failed, first failure reasons)."""
    ops = [o for p in rec["passes"] for o in p["ops"]]
    first = rec["first_results"]
    bad = {}
    if workload == "corpus_pipeline":
        truth = json.load(open(os.path.join(data_dir, "truth.json")))
        for stage, why in oracle.corpus_check(truth, first).items():
            if why:
                bad[stage] = why
    else:
        con = oracle.connect(data_dir) if workload == "agent_session" else None
        for key, got in first.items():
            if workload == "stats_report":
                cols, rows = expected[key]
                ignore = ()
            else:
                (cols, rows), ignore = oracle.agent_expected(con, data_dir, json.loads(key))
            why = oracle.compare(got, cols, rows, ignore)
            if why:
                bad[key] = why
    failed = [o for o in ops if o["error"] or o["key"] in bad]
    reasons = {}
    for o in ops:
        if o["error"]:
            reasons.setdefault(o["key"], o["error"])
    for k, why in bad.items():
        reasons.setdefault(k, why)
    return len(ops), len(failed), reasons


def summarize(workload, rec, trace, corpus_docs):
    passes = rec["passes"]
    warm = passes[1:]
    k = warmup_count(warm)
    measured = warm[k:]
    walls = [p["wall_s"] for p in measured]
    setups = [rec["setup_s"]] + rec["resetup_s"]
    e2e = {"setup_s": median(setups), "cold_s": rec["cold_s"], "pass_s": median(walls),
           "peak_rss_mb": rec["peak_rss_mb"]}
    calls = sorted(o["ms"] for p in measured for o in p["ops"])
    detail = {"warmup_passes": k, "measured_passes": len(measured),
              "pass_walls_s": [round(p["wall_s"], 4) for p in passes],
              "setup_samples_s": [round(s, 4) for s in setups]}
    if workload == "agent_session":
        detail["call_p50_ms"] = statistics.quantiles(calls, n=100)[49] if len(calls) >= 2 else None
        # p90 only with at least 10 warm calls above it
        detail["call_p90_ms"] = statistics.quantiles(calls, n=100)[89] if len(calls) >= 100 else None
    elif workload == "corpus_pipeline":
        detail["docs_per_s"] = corpus_docs / median(walls)
    else:
        detail["report_s"] = median(walls)
    spans = {}
    for p in measured:
        for o in p["ops"]:
            name = {"agent_session": f"tool.{o['kind']}.ms", "corpus_pipeline": f"stage.{o['key']}.ms",
                    "stats_report": f"query.{o['key']}.ms"}[workload]
            spans.setdefault(name, []).append(o["ms"])
    detail["spans"] = {n: median(v) for n, v in sorted(spans.items())}
    layers = {}
    if trace:
        for m in LAYERS:
            layers[m] = median([p["layers"][m] for p in measured])
        jobs = {}
        for p in measured:
            for s in p["layers"]["spans"]:
                if workload == "stats_report":
                    jobs.setdefault(f"query.{s['key']}.jobs", []).append(s["jobs"])
        detail["spans"].update({n: median(v) for n, v in sorted(jobs.items())})
        detail["accounted_share"] = median([
            1 - p["layers"]["harness.ms"] / (p["wall_s"] * 1000) for p in measured])
    return e2e, layers, detail


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="negative check: perturb one expected value; the run must report it")
    ap.add_argument("--corrupt-input", action="store_true",
                    help="negative check (corpus_pipeline): rename the corpus's text column, so "
                         "that every stage raises; the run must report it")
    a = ap.parse_args()
    # a terminated run still stops its JVM (see java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from the root of a graft checkout")
    host_before = host_state()
    cp, stamp = build()
    cfg = WORKLOADS[a.workload]

    data_dir = os.path.join(WORK, "data", f"{a.workload}-{a.seed}-sf{cfg['sf']}-docs{cfg['corpus_docs']}")
    if not os.path.exists(os.path.join(data_dir, "DONE")):
        shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
        cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(a.seed),
               "--sf", str(cfg["sf"]), "--out", data_dir]
        if cfg["corpus_docs"]:
            cmd += ["--corpus-docs", str(cfg["corpus_docs"])]
        subprocess.run(cmd, check=True, timeout=120)
        open(os.path.join(data_dir, "DONE"), "w").close()

    jvm_work = os.path.join(WORK, "jvm")
    shutil.rmtree(jvm_work, ignore_errors=True)
    os.makedirs(jvm_work)
    args = ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed), "--data", data_dir,
            "--work", jvm_work, "--out", os.path.join(jvm_work, "record.json"),
            "--slots", str(slots()), "--passes", str(max(MIN_PASSES, round(a.seconds / cfg["pass_s"]))),
            "--trace", str(a.trace), "--resetups", str(RESETUPS)]
    expected = None
    if a.workload == "agent_session":
        plan = os.path.join(jvm_work, "plan.json")
        with open(plan, "w") as f:
            json.dump(oracle.agent_plan(a.seed, AGENT_BLOCKS), f)
        args += ["--plan", plan]
    elif a.workload == "stats_report":
        # settled before the timed process starts
        expected = oracle.stats_expected(data_dir, oracle_sql(cp, stamp))
    if a.corrupt_expected:
        corrupt(a.workload, data_dir, expected)
    if a.corrupt_input:
        if a.workload != "corpus_pipeline":
            fail("--corrupt-input applies to corpus_pipeline only")
        break_corpus(data_dir)

    jvm_flags = java(cp, jvm_work, args)
    rec = json.load(open(os.path.join(jvm_work, "record.json")))
    host_after = host_state()
    attempted, failed, reasons = check_outputs(a.workload, rec, data_dir, expected)
    e2e, layers, detail = summarize(a.workload, rec, a.trace, cfg["corpus_docs"])
    e2e["ok_ratio"] = (attempted - failed) / attempted

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "commit": commit(),
        "source_stamp": stamp, "nproc": os.cpu_count(), "slots": rec["slots"],
        "inputs": cfg, "jvm": jvm_flags, "jvm_args": rec["jvm_args"], "spark_confs": rec["spark_confs"],
        "host_before": host_before, "host_after": host_after, "cpu_steal_share": steal_share(host_before, host_after),
        "attempted": attempted, "failed": failed, "failures": reasons,
        "end_to_end": e2e, "per_layer": layers, "detail": detail,
        "passes": [{k: p[k] for k in ("wall_s", "codegen_compiles", "codegen_ms", "jit_ms", "gc_ms")}
                   | ({"layers": {m: p["layers"][m] for m in LAYERS}} if a.trace else {})
                   for p in rec["passes"]],
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(WORK, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    for k, why in list(reasons.items())[:5]:
        log(f"FAILED {k[:120]}: {why}")
    log(f"record: {os.path.relpath(path, ROOT)}; detail: " + json.dumps(
        {k: v for k, v in detail.items() if k != "pass_walls_s"}))
    metrics = layers if a.trace else e2e
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}}))


def unit(metric):
    if metric in E2E_UNITS:
        return E2E_UNITS[metric]
    if metric.endswith(("ms", "_ms")):
        return "ms"
    return "MB" if metric.endswith("mb") else "ratio" if metric.endswith("eff") else "count"


def steal_share(before, after):
    total = after.get("cpu_jiffies_total", 0) - before.get("cpu_jiffies_total", 0)
    return (after.get("cpu_jiffies_steal", 0) - before.get("cpu_jiffies_steal", 0)) / total if total else 0.0


def slots():
    """Task threads: half the cores, at least 1 and at most 4. Both workloads
    recompile 40-100 generated classes a pass, and the JIT compiles them
    again on the other half: with 3 of 4 cores given to tasks, corpus passes
    were slower (5.2 s against 4.6 s) and swung more from pass to pass."""
    return max(1, min(4, len(os.sched_getaffinity(0)) // 2))


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def corrupt(workload, data_dir, expected):
    """Negative check: make one expected value wrong."""
    if workload == "stats_report":
        name = sorted(expected)[0]
        cols, rows = expected[name]
        r0 = list(rows[0])
        r0[-1] = r0[-1] + 1 if isinstance(r0[-1], (int, float)) else str(r0[-1]) + "x"
        expected[name] = (cols, [tuple(r0)] + rows[1:])
    elif workload == "corpus_pipeline":
        path = os.path.join(data_dir, "truth.json")
        truth = json.load(open(path))
        truth["exact_copies"] = truth["exact_copies"][1:]
        with open(path, "w") as f:
            json.dump(truth, f)
        os.remove(os.path.join(data_dir, "DONE"))  # regenerate next time
    else:
        oracle.CHART_SIZE["chart_bar"] = (801, 500)


def break_corpus(data_dir):
    """Negative check: the corpus loses its `text` column."""
    path = os.path.join(data_dir, "corpus.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT * EXCLUDE (text), text AS body FROM read_parquet('{path}')) "
        f"TO '{path}.tmp' (FORMAT PARQUET)")
    os.replace(path + ".tmp", path)
    os.remove(os.path.join(data_dir, "DONE"))  # regenerate next time


if __name__ == "__main__":
    main()
