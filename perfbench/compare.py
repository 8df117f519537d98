#!/usr/bin/env python3
"""Collect sets of benchmark runs and compare them, workload by metric.

Collect runs of one or two checkouts, one seed at a time; with two
checkouts the order alternates from seed to seed:

    python3 perfbench/compare.py collect --out runs --seeds 1-10 \
        --checkout ../parent --checkout . [--trace 0]

Every workload of BENCHMARK.json runs for its run_seconds. Each run's
full result file lands in runs/<checkout-label>/; a run that ends
without a result leaves a <tag>.noresult.json marker there instead.

Compare two sets (runs, operations attempted and failed, then per metric
the median, quartiles, spread = IQR / median, and whether the second set
is worse than the first by more than the metric's bound). It exits 1
when the second set is worse on a bounded metric, failed more
operations, had more incorrect runs or completed fewer runs:

    python3 perfbench/compare.py diff runs/parent runs/change [--trace 1]

Summarise one set (spread of every metric against its bound):

    python3 perfbench/compare.py spread runs/change

Tracing overhead: traced minus untraced median of the operation latency:

    python3 perfbench/compare.py overhead runs/untraced runs/traced
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")


def load_spec():
    with open(SPEC) as f:
        return json.load(f)


def load_set(d, section, trace):
    """{workload: {metric: [values]}} from a directory's result files."""
    out = {}
    for p in sorted(glob.glob(os.path.join(d, f"*-t{trace}.json"))):
        with open(p) as f:
            r = json.load(f)
        per = out.setdefault(r["workload"], {})
        for name, m in r[section].items():
            per.setdefault(name, []).append(m["value"])
    return out


def load_outcomes(d, trace):
    """{workload: {runs, noresult, incorrect, attempted, failed}}."""
    out = {}

    def get(w):
        return out.setdefault(w, dict(runs=0, noresult=0, incorrect=0,
                                      attempted=0, failed=0))
    for p in sorted(glob.glob(os.path.join(d, f"*-t{trace}.json"))):
        with open(p) as f:
            r = json.load(f)
        o = get(r["workload"])
        o["runs"] += 1
        o["incorrect"] += 0 if r["correct"] else 1
        o["attempted"] += r["attempted"]
        o["failed"] += r["failed"]
    for p in sorted(glob.glob(os.path.join(d, f"*-t{trace}.noresult.json"))):
        with open(p) as f:
            get(json.load(f)["workload"])["noresult"] += 1
    return out


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    spread = (q3 - q1) / med if med else 0.0
    return med, q1, q3, spread


def seeds_arg(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def collect(a):
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    checkouts = [os.path.abspath(c) for c in (a.checkout or [os.path.dirname(BENCH)])]
    labels = [os.path.basename(c.rstrip("/")) or "root" for c in checkouts]
    if len(set(labels)) != len(labels):
        labels = [f"{i}_{l}" for i, l in enumerate(labels)]
    for i, seed in enumerate(seeds_arg(a.seeds)):
        order = list(zip(checkouts, labels))
        if i % 2 == 1:
            order.reverse()
        for w in workloads:
            for co, label in order:
                tag = f"{w}-s{seed}-t{a.trace}"
                cmd = [sys.executable, os.path.join(co, "perfbench", "run.py"),
                       "--workload", w, "--seed", str(seed),
                       "--seconds", str(spec["run_seconds"]),
                       "--trace", str(a.trace)]
                r = subprocess.run(cmd, cwd=co, stdout=subprocess.PIPE,
                                   stderr=subprocess.DEVNULL, text=True)
                dest = os.path.join(a.out, label)
                os.makedirs(dest, exist_ok=True)
                src = os.path.join(co, ".bench_out", tag + ".json")
                if r.returncode == 0 and os.path.exists(src):
                    shutil.copy(src, os.path.join(dest, tag + ".json"))
                    last = json.loads(r.stdout.strip().splitlines()[-1])
                    print(f"{label} {tag}: correct={last['correct']} "
                          f"attempted={last['attempted']} failed={last['failed']}")
                else:
                    with open(os.path.join(dest, tag + ".noresult.json"), "w") as f:
                        json.dump({"workload": w, "seed": seed,
                                   "exit": r.returncode}, f)
                    print(f"{label} {tag}: NO RESULT (exit {r.returncode})")


def metric_specs(spec, trace):
    if trace:
        return {m["name"]: dict(m, bound=None) for m in spec["per_layer"]}
    return {m["name"]: m for m in spec["end_to_end"]}


def diff(a):
    spec = load_spec()
    section = "per_layer" if a.trace else "end_to_end"
    ms = metric_specs(spec, a.trace)
    base, new = load_set(a.base, section, a.trace), load_set(a.new, section, a.trace)
    bad = 0
    bo, no = load_outcomes(a.base, a.trace), load_outcomes(a.new, a.trace)
    print(f"{'workload':<13} {'side':<5} {'runs':>5} {'no result':>10} "
          f"{'incorrect':>10} {'attempted':>10} {'failed':>7}")
    for w in sorted(set(bo) | set(no)):
        for side, o in (("base", bo.get(w)), ("new", no.get(w))):
            o = o or dict(runs=0, noresult=0, incorrect=0, attempted=0, failed=0)
            print(f"{w:<13} {side:<5} {o['runs']:>5} {o['noresult']:>10} "
                  f"{o['incorrect']:>10} {o['attempted']:>10} {o['failed']:>7}")
        b = bo.get(w, {})
        n = no.get(w, {})
        for k, worse in (("failed", n.get("failed", 0) > b.get("failed", 0)),
                         ("incorrect", n.get("incorrect", 0) > b.get("incorrect", 0)),
                         ("runs", n.get("runs", 0) < b.get("runs", 0))):
            if worse:
                print(f"{w:<13} WORSE: {k}")
                bad += 1
    print()
    print(f"{'workload':<13} {'metric':<40} {'base med [q1,q3]':>32} {'spread':>7} "
          f"{'new med [q1,q3]':>32} {'spread':>7} {'change':>8}  verdict")
    for w in sorted(set(base) & set(new)):
        for name, m in ms.items():
            if name not in base[w] or name not in new[w]:
                continue
            bm, bq1, bq3, bs = summary(base[w][name])
            nm, nq1, nq3, ns = summary(new[w][name])
            change = (nm - bm) / bm if bm else 0.0
            worse = change if m["better"] == "lower" else -change
            bound = m.get("bound")
            if bound is None:
                verdict = "-"
            elif max(bs, ns) > bound:
                verdict = "unresolved (spread > bound)"
            elif worse > bound:
                verdict = "WORSE"
                bad += 1
            else:
                verdict = "agree"
            print(f"{w:<13} {name:<40} {bm:>12.5g} [{bq1:.4g},{bq3:.4g}]".ljust(88) +
                  f" {bs:>7.3f} {nm:>12.5g} [{nq1:.4g},{nq3:.4g}]".ljust(42) +
                  f" {ns:>7.3f} {change:>+8.3f}  {verdict}")
    return 1 if bad else 0


def spread(a):
    spec = load_spec()
    section = "per_layer" if a.trace else "end_to_end"
    ms = metric_specs(spec, a.trace)
    runs = load_set(a.set, section, a.trace)
    for w in sorted(runs):
        for name, m in ms.items():
            if name not in runs[w]:
                continue
            med, q1, q3, s = summary(runs[w][name])
            bound = m.get("bound")
            flag = "" if bound is None else ("ok" if s <= bound / 3 else
                                             ("within bound" if s <= bound else "OVER BOUND"))
            print(f"{w:<13} {name:<40} n={len(runs[w][name]):<3} median={med:<12.5g} "
                  f"q1={q1:<12.5g} q3={q3:<12.5g} spread={s:.4f} {flag}")


def overhead(a):
    plain = load_set(a.untraced, "end_to_end", 0)
    traced = load_set(a.traced, "per_layer", 1)
    for w in sorted(set(plain) & set(traced)):
        u = statistics.median(plain[w]["op_p50_s"])
        t = statistics.median(traced[w]["trace.op_p50_s"])
        print(f"{w:<13} untraced op_p50_s={u:.4f}  traced={t:.4f}  "
              f"overhead={t - u:+.4f} s ({(t - u) / u:+.1%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    c.add_argument("--checkout", action="append")
    c.add_argument("--trace", type=int, default=0, choices=(0, 1))
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    d.add_argument("--trace", type=int, default=0, choices=(0, 1))
    s = sub.add_parser("spread")
    s.add_argument("set")
    s.add_argument("--trace", type=int, default=0, choices=(0, 1))
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    a = ap.parse_args()
    if a.cmd == "collect":
        collect(a)
    elif a.cmd == "diff":
        sys.exit(diff(a))
    elif a.cmd == "spread":
        spread(a)
    else:
        overhead(a)


if __name__ == "__main__":
    main()
