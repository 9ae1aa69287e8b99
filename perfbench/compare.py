#!/usr/bin/env python3
"""Compare benchmark results of a parent commit and a change.

    python3 perfbench/compare.py diff PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py overhead UNTRACED_DIR TRACED_DIR

Each directory holds one file per run: the standard output of
`perfbench/run.py` (its report line and its result line). Runs of the two
sides are paired by workload and seed.

`diff` reports, per workload and end-to-end metric, each side's median and
quartiles, the pair win rate and a verdict:
  gain        the change wins at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              quartile spread;
  regression  the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json;
  unresolved  the parent's spread (IQR / median) exceeds the bound, unless
              every change run beats every parent run;
  same        none of the above.
It also flags every operation kind whose median latency got 1.3x slower
or more.

`overhead` compares the traced runs of a workload with its untraced runs
(round time and request latency, scaled by each run's speed probe) and
prints the traced runs' layer self times from perfbench/.work/traces/. The
traced times leave out the waits for listener events and the per-layer
counts taken after the timed phase, so the overhead is the cost of
materializing each layer at its boundary plus the spans and listeners
themselves.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SLOWER = 1.3


def load(d):
    """{workload: {seed: {"metrics": {...}, "report": {...}}}}"""
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*"))):
        rep, res = None, None
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith('{"report"'):
                    rep = json.loads(line)["report"]
                elif line.startswith('{"correct"'):
                    res = json.loads(line)
        if rep and res:
            out.setdefault(rep["workload"], {})[rep["seed"]] = {
                "metrics": {k: v["value"] for k, v in res["metrics"].items()},
                "correct": res["correct"], "report": rep}
    return out


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def op_medians(runs):
    """Median latency per operation kind, pooled over runs."""
    by = {}
    for r in runs:
        for o in r["report"].get("ops", []):
            if o.get("ok"):
                by.setdefault(o["kind"], []).append(o["ms"])
    return {k: statistics.median(v) for k, v in by.items()}


def diff(parent_dir, change_dir):
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"]}
    parent, change = load(parent_dir), load(change_dir)
    for wl in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[wl]) & set(change[wl]))
        if not seeds:
            continue
        p = [parent[wl][s] for s in seeds]
        c = [change[wl][s] for s in seeds]
        bad = [s for s in seeds if not (parent[wl][s]["correct"] and change[wl][s]["correct"])]
        print(f"== {wl}: {len(seeds)} pairs" + (f", INCORRECT runs for seeds {bad}" if bad else ""))
        print(f"  {'metric':<14}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}{'wins':>7}  verdict")
        for name, m in spec.items():
            pv = [r["metrics"][name] for r in p if name in r["metrics"]]
            cv = [r["metrics"][name] for r in c if name in r["metrics"]]
            if not pv or not cv:
                continue
            sign = 1 if m["better"] == "lower" else -1
            pq, cq = quart(pv), quart(cv)
            wins = sum(1 for a, b in zip(pv, cv) if sign * (b - a) < 0)
            rate = wins / len(pv)
            spread = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
            worse = sign * (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            if rate >= 0.9 and abs(cq[1] - pq[1]) > (pq[2] - pq[0]):
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "regression"
            elif spread > m["bound"] and not all(
                    sign * (b - a) < 0 for a in pv for b in cv):
                verdict = "unresolved"
            else:
                verdict = "same"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"  {name:<14}{fmt(pq):>30}{fmt(cq):>30}{rate:>7.0%}  {verdict}"
                  f" (spread {spread:.1%}, change {-sign * worse:+.1%}, bound {m['bound']:.0%})")
        po, co = op_medians(p), op_medians(c)
        for kind in sorted(set(po) & set(co)):
            ratio = co[kind] / po[kind]
            mark = "  SLOWER" if ratio >= SLOWER else ""
            print(f"  op {kind:<20} {po[kind]:10.1f} ms -> {co[kind]:10.1f} ms  x{ratio:.2f}{mark}")


def overhead(untraced_dir, traced_dir):
    u, t = load(untraced_dir), load(traced_dir)
    for wl in sorted(set(u) & set(t)):
        def stats(runs):
            rnd = [r["report"]["raw"]["round_s"] * r["report"]["speed"] for r in runs]
            reqs = [o["ms"] * r["report"]["speed"] for r in runs
                    for o in r["report"]["ops"] if o.get("ok") and o.get("request")]
            return statistics.median(rnd), statistics.median(reqs)
        (ub, ur), (tb, tr) = stats(u[wl].values()), stats(t[wl].values())
        print(f"== {wl}: tracing overhead round {tb / ub - 1:+.1%} "
              f"({ub:.3f} -> {tb:.3f} s), request p50 {tr / ur - 1:+.1%} "
              f"({ur:.1f} -> {tr:.1f} ms)")
        for path in sorted(glob.glob(os.path.join(HERE, ".work", "traces", f"{wl}-*.json"))):
            tr_file = json.load(open(path))
            top = sorted(tr_file["self_s"].items(), key=lambda kv: -kv[1])
            print(f"  {os.path.basename(path)} self time: " +
                  ", ".join(f"{k} {v:.2f}s" for k, v in top[:12]))


def main():
    if len(sys.argv) != 4 or sys.argv[1] not in ("diff", "overhead"):
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    (diff if sys.argv[1] == "diff" else overhead)(sys.argv[2], sys.argv[3])


if __name__ == "__main__":
    main()
