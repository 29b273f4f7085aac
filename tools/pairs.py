#!/usr/bin/env python3
"""Alternating-pairs comparison of two checkouts on one perfbench workload
(dev tool only).

    python3 tools/pairs.py --parent DIR --change DIR --workload W --pairs N --seed S \
        [--seconds 12]

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds ...
--trace 0` once in each checkout; the parent goes first in even pairs and
the change first in odd ones, so a drift in the machine's load falls on
both sides alike. A run that fails or reports `correct: false` voids its
pair.

For each end-to-end metric of the change checkout's BENCHMARK.json it
prints both sides' median and quartiles over the valid pairs, how many
pairs the change did better in, and a verdict:
  - `better`: the change did better in at least 9/10 of the pairs and its
    median beats the parent's by more than the parent's interquartile range;
  - `worse`: the change's median is worse than the parent's by more than
    the metric's bound (a fraction of the parent's median);
  - `no claim` otherwise.
Each checkout builds its own engine on its first run (perfbench caches it
under .perfbench/build). Exits 1 when no pair is valid.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

CLAIM_SHARE = 0.9


def parse_result(stdout):
    """The result object of a run.py stdout (its last line), or None."""
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return result if isinstance(result, dict) and "metrics" in result else None


def valid(result):
    return result is not None and result.get("correct") is True


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    return parse_result(p.stdout) if p.returncode == 0 else None


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs, spec):
    """One row per metric of `spec` ({name, better, bound}) over the pairs
    whose two results are both valid."""
    kept = [(p, c) for p, c in pairs if valid(p) and valid(c)]
    rows = []
    for m in spec:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        both = [(p["metrics"][name]["value"], c["metrics"][name]["value"]) for p, c in kept
                if name in p["metrics"] and name in c["metrics"]]
        if not both:
            continue
        par, chg = [p for p, _ in both], [c for _, c in both]
        pq, cq = quartiles(par), quartiles(chg)
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        gain = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        if wins >= CLAIM_SHARE * len(both) and gain > pq[2] - pq[0]:
            verdict = "better"
        elif "bound" in m and -gain > m["bound"] * abs(pq[1]):
            verdict = "worse"
        else:
            verdict = "no claim"
        rows.append({"name": name, "n": len(both), "parent": pq, "change": cq,
                     "wins": wins, "verdict": verdict})
    return rows


def report(rows, n_valid, n_pairs):
    out = []
    for r in rows:
        p, c = r["parent"], r["change"]
        delta = (c[1] - p[1]) / p[1] * 100 if p[1] else float("nan")
        out.append(f"{r['name']:<16} parent {p[1]:.4g} [{p[0]:.4g}, {p[2]:.4g}]  "
                   f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  {delta:+.1f}%  "
                   f"change better {r['wins']}/{r['n']}  {r['verdict']}")
    out.append(f"valid pairs {n_valid}/{n_pairs}")
    return "\n".join(out)


def end_to_end(checkout):
    return json.loads((Path(checkout) / "BENCHMARK.json").read_text())["end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=12)
    a = ap.parse_args()
    spec = end_to_end(a.change)
    pairs = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {side: run_one(getattr(a, side), a.workload, seed, a.seconds) for side in order}
        pairs.append((got["parent"], got["change"]))
        state = "ok" if valid(got["parent"]) and valid(got["change"]) else "void"
        brief = "  ".join(f"{s} " + " ".join(
            f"{m['name']}={got[s]['metrics'][m['name']]['value']:.4g}"
            for m in spec if m["name"] in got[s]["metrics"]) for s in order if got[s])
        print(f"[pairs] {i + 1}/{a.pairs} seed {seed} {state}  {brief}", file=sys.stderr,
              flush=True)
    rows = summarize(pairs, spec)
    print(report(rows, sum(valid(p) and valid(c) for p, c in pairs), a.pairs))
    sys.exit(0 if rows else 1)


if __name__ == "__main__":
    main()
