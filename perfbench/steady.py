#!/usr/bin/env python3
"""Steadiness and A/B tool for the benchmark.

  # run one workload N times (seeds base..base+N-1) and print each
  # end-to-end metric's median, quartiles and spread against its bound
  python3 perfbench/steady.py run --workload lakehouse --runs 10 [--seed 1] [--out runs.jsonl]

  # the same table for result lines saved earlier (one JSON per line)
  python3 perfbench/steady.py show runs.jsonl [--workload lakehouse]

  # do two saved sets of runs agree within the bounds, on every workload?
  python3 perfbench/steady.py agree first.jsonl second.jsonl

  # A/B: run the benchmark from two checkouts, alternating which side
  # runs first, on the same seeds; report each side's median and
  # quartiles, and whether B is worse than A by more than the bound
  python3 perfbench/steady.py compare --a <checkoutA> --b <checkoutB> --workload corpus_curate --runs 10

  # tracing overhead: traced run_s minus untraced run_s, same seeds
  python3 perfbench/steady.py overhead --workload lakehouse --runs 3

Spread is (q3 - q1) / median with q1, q3 from statistics.quantiles(n=4).
A metric is steady when its spread is within a third of its bound; two
sets agree when neither median is worse than the other's by more than
the bound. Bounds come from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec(root=ROOT):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(root, workload, seed, seconds, trace=0):
    """One benchmark run from `root`; returns its result line as a dict."""
    s = spec(root)
    cmd = s["command"] + ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} in {root}: exit {r.returncode}")
    res = json.loads(lines[-1])
    res["workload"], res["seed"] = workload, seed
    return res


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def table(results, bounds, label=""):
    print(f"{label}{len(results)} runs, "
          f"failed {sum(r['failed'] for r in results)}/{sum(r['attempted'] for r in results)}, "
          f"all correct: {all(r['correct'] for r in results)}")
    print(f"  {'metric':<16} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}  steady")
    out = {}
    for name in sorted({k for r in results for k in r["metrics"]}):
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        med, q1, q3, sp = stats(vals)
        b = bounds.get(name)
        ok = "-" if b is None or name == "setup_s" else ("yes" if sp <= b / 3 else "NO")
        print(f"  {name:<16} {med:>10.4f} {q1:>10.4f} {q3:>10.4f} {sp:>8.3f} "
              f"{b if b is not None else '-':>6}  {ok}")
        out[name] = med
    return out


def bounds_of(s):
    return {m["name"]: m["bound"] for m in s["end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed", type=int, default=1)
    r.add_argument("--seconds", type=int)
    r.add_argument("--out")
    sh = sub.add_parser("show")
    sh.add_argument("file")
    sh.add_argument("--workload")
    c = sub.add_parser("compare")
    c.add_argument("--a", required=True)
    c.add_argument("--b", required=True)
    c.add_argument("--workload", required=True)
    c.add_argument("--runs", type=int, default=10)
    c.add_argument("--seed", type=int, default=1)
    c.add_argument("--seconds", type=int)
    g = sub.add_parser("agree")
    g.add_argument("first")
    g.add_argument("second")
    o = sub.add_parser("overhead")
    o.add_argument("--workload", required=True)
    o.add_argument("--runs", type=int, default=3)
    o.add_argument("--seed", type=int, default=1)
    o.add_argument("--seconds", type=int)
    a = ap.parse_args()

    s = spec()
    bounds = bounds_of(s)
    if a.cmd == "run":
        secs = a.seconds or s["run_seconds"]
        results = []
        for i in range(a.runs):
            res = run_once(ROOT, a.workload, a.seed + i, secs)
            results.append(res)
            print(json.dumps(res), file=sys.stderr, flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(res) + "\n")
        table(results, bounds, f"{a.workload}: ")
    elif a.cmd == "show":
        with open(a.file) as f:
            results = [json.loads(x) for x in f if x.strip()]
        for w in sorted({x.get("workload") for x in results}):
            if a.workload in (None, w):
                table([x for x in results if x.get("workload") == w], bounds, f"{w}: ")
    elif a.cmd == "agree":
        sets = []
        for path in (a.first, a.second):
            with open(path) as f:
                sets.append([json.loads(x) for x in f if x.strip()])
        better = {m["name"]: m["better"] for m in s["end_to_end"]}
        ok = True
        for w in sorted({x["workload"] for x in sets[0]}):
            meds = [table([x for x in rs if x["workload"] == w], bounds, f"{w} ({p}): ")
                    for rs, p in zip(sets, (a.first, a.second))]
            for name, b in bounds.items():
                x, y = meds[0][name], meds[1][name]
                # worse in either direction, as a share of the other median
                worse = max((y - x) / x, (x - y) / y) if better[name] == "lower" else \
                    max((x - y) / x, (y - x) / y)
                agree = worse <= b
                ok &= agree
                print(f"  {w} {name:<16} {x:.4f} vs {y:.4f}: {worse:+.3f} (bound {b}) "
                      f"{'agree' if agree else 'DISAGREE'}")
        sys.exit(0 if ok else 1)
    elif a.cmd == "overhead":
        secs = a.seconds or s["run_seconds"]
        timed, traced = [], []
        for i in range(a.runs):
            timed.append(run_once(ROOT, a.workload, a.seed + i, secs)["metrics"]["run_s"]["value"])
            traced.append(run_once(ROOT, a.workload, a.seed + i, secs, trace=1)
                          ["metrics"]["trace.run_s"]["value"])
        t, r = statistics.median(timed), statistics.median(traced)
        print(f"{a.workload}: run_s median {t:.3f} s untraced, {r:.3f} s traced; "
              f"tracing overhead {r - t:+.3f} s ({(r - t) / t:+.1%})")
    else:
        secs = a.seconds or s["run_seconds"]
        sides = {"A": [], "B": []}
        for i in range(a.runs):
            order = [("A", a.a), ("B", a.b)] if i % 2 == 0 else [("B", a.b), ("A", a.a)]
            for side, root in order:
                sides[side].append(run_once(os.path.abspath(root), a.workload, a.seed + i, secs))
        ma = table(sides["A"], bounds, "A: ")
        mb = table(sides["B"], bounds, "B: ")
        better = {m["name"]: m["better"] for m in s["end_to_end"]}
        worse = []
        for name, b in bounds.items():
            if name in ma and name in mb:
                x, y = ma[name], mb[name]
                rel = (y - x) / x if better[name] == "lower" else (x - y) / x
                print(f"  {name:<16} B vs A {rel:+.3f} (bound {b})")
                if rel > b:
                    worse.append(name)
        print("B worse than A beyond the bound on: " + (", ".join(worse) or "nothing"))
        sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
