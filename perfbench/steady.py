#!/usr/bin/env python3
"""Steadiness mode: runs each workload repeatedly with different seeds and
reports, per end-to-end metric, the median, quartiles, min/max and the
quartile spread (Q3 - Q1) / median, flagging any spread above the metric's
bound in BENCHMARK.json, or above a third of it.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--trace 0|1]
        [--seconds S] [--out perfbench/results/steady.json]
    python3 perfbench/steady.py --compare FIRST.json SECOND.json [--out F]

Run from the root of a checkout; every run is `perfbench/run.py`. A traced
sweep also summarizes each run's end-to-end figures from its record.
`--compare` sets two sweeps' medians side by side: an untraced and a traced
sweep give the tracing overhead, two untraced sweeps show whether they
agree within the bounds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values, bound):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / q2 if q2 else 0.0
    return {"median": q2, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "spread": spread, "bound": bound, "over_bound": bound is not None and spread > bound,
            "over_third": bound is not None and spread > bound / 3, "values": values}


def compare(first, second):
    """Second ÷ first median of each end-to-end metric, per workload: the
    tracing overhead when the second sweep is traced, or the agreement of
    two untraced sweeps, flagged where the second is worse by more than
    the metric's bound."""
    a, b = (json.load(open(f))["workloads"] for f in (first, second))
    better = {m["name"]: m["better"] for m in
              json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["end_to_end"]}
    out = {}
    for w in sorted(set(a) & set(b)):
        base, other = a[w]["metrics"], b[w].get("end_to_end", b[w]["metrics"])
        out[w] = {}
        for m in base:
            ratio = other[m]["median"] / base[m]["median"]
            worse = ratio - 1 if better[m] == "lower" else 1 - ratio
            out[w][m] = {"first": base[m]["median"], "second": other[m]["median"], "ratio": ratio,
                         "bound": base[m]["bound"], "worse_than_bound": worse > base[m]["bound"]}
        if "accounted_share" in b[w]:
            out[w]["accounted_share"] = b[w]["accounted_share"]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.compare:
        report = compare(*a.compare)
        print(json.dumps(report, indent=1))
        if a.out:
            with open(a.out, "w") as f:
                json.dump(report, f, indent=1)
        return
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    metrics = bench["per_layer" if a.trace else "end_to_end"]
    bounds = {m["name"]: m.get("bound") for m in metrics}
    seconds = a.seconds or bench["run_seconds"]
    report = {"seconds": seconds, "trace": a.trace, "workloads": {}}
    for w in workloads:
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True, timeout=900)
            if p.returncode != 0:
                print(p.stderr[-3000:], file=sys.stderr)
                sys.exit(f"{w} seed {s} exited {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res["seed"], res["run_s"] = s, round(time.time() - t0, 1)
            res["record"] = json.load(open(os.path.join(
                ROOT, ".bench_build", "perfbench", "records", f"{w}-seed{s}-trace{a.trace}.json")))
            runs.append(res)
            print(f"{w} seed {s}: {time.time() - t0:.0f} s, correct={res['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        stats = {m: summary([r["metrics"][m]["value"] for r in runs], bounds[m])
                 for m in bounds if len(runs) > 1}
        report["workloads"][w] = {
            "runs": len(runs), "all_correct": all(r["correct"] for r in runs),
            "run_s": [r["run_s"] for r in runs], "metrics": stats,
            "cpu_steal_share": [round(r["record"]["cpu_steal_share"], 4) for r in runs]}
        if a.trace:
            e2e = [r["record"]["end_to_end"] for r in runs]
            report["workloads"][w]["end_to_end"] = {
                m: summary([e[m] for e in e2e], None) for m in e2e[0]}
            report["workloads"][w]["accounted_share"] = statistics.median(
                r["record"]["detail"]["accounted_share"] for r in runs)
        for m, st in stats.items():
            flag = " OVER BOUND" if st["over_bound"] else " over bound/3" if st["over_third"] else ""
            print(f"  {w} {m}: median {st['median']:.4g} [{st['q1']:.4g}, {st['q3']:.4g}] "
                  f"min {st['min']:.4g} max {st['max']:.4g} spread {st['spread']:.3f}"
                  f" (bound {st['bound']}){flag}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
