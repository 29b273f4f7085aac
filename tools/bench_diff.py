#!/usr/bin/env python3
"""Round-over-round bench triage (dev tool only — the shipped Scala
library does not depend on this).

Compares two full Bench captures (the JSON line Bench.scala writes to
bench_full_latest.json) and prints per-query regressions worse than
REG_RATIO with an absolute delta above NOISE_SEC, plus improvements of
the same magnitude, added/removed queries, and the total. Each flagged
query also shows its generated-class compiles and compile ms in both
captures (the full capture's `query_codegen`). Contaminated
captures (sentinel tripped) are refused — re-measure isolated instead
of triaging noise.

Usage:
    python3 tools/bench_diff.py [--retime] [old.json] [new.json]

Defaults: old = the last git-committed bench_full_latest.json
(`git show HEAD:bench_full_latest.json`), new = the working-tree
bench_full_latest.json — i.e. "what did this round's capture change".

The NOISE_SEC floor is 1.0 s: the r10 close-out showed 0.3–0.8 s deltas
on sub-2 s queries are in-JVM run-order/JIT noise on a ~280-query
capture, not plan regressions. With --retime, each flagged regression is
re-measured ISOLATED (Bench with BENCH_ONLY + median-of-3) and dropped
from the exit-code-bearing list if the isolated median comes back under
old*REG_RATIO — the in-suite number was contention, not the plan.
"""
import json
import os
import re
import subprocess
import sys

REG_RATIO = 1.3
NOISE_SEC = 1.0


def load(arg):
    if arg.startswith("git:"):
        out = subprocess.run(
            ["git", "show", arg[4:]], capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"cannot read {arg}: {out.stderr.strip()}")
        return json.loads(out.stdout)
    with open(arg) as f:
        return json.load(f)


def retime_isolated(queries, sf_dir):
    """Median-of-3 isolated re-times of the flagged queries (Bench with
    BENCH_ONLY; SPARK_GRAFT_BENCH_RUNS=3 overrides dev single-shot)."""
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_BENCH_ONLY=",".join(sorted(queries)),
               SPARK_GRAFT_BENCH_RUNS="3")
    print(f"\nre-timing {len(queries)} flagged queries isolated "
          f"(median-of-3, {sf_dir}) ...", flush=True)
    r = subprocess.run(["sbt", "runMain graft.Bench"],
                       env=env, capture_output=True, text=True)
    # End-anchored, non-greedy: Bench prints its JSON as one whole line,
    # but sbt prefixes it with "[info] " — so the start is NOT anchored
    # (r15: the ^-anchored form matched nothing and every retime silently
    # fell back to in-suite flags). A greedy '.*\}' over full sbt stdout
    # would swallow any later line ending in '}' and corrupt the parse.
    for m in re.finditer(r'\{"metric".*?\}\s*$', r.stdout, re.MULTILINE):
        try:
            return json.loads(m.group(0).strip()).get("queries", {})
        except json.JSONDecodeError:
            continue
    print("  re-time Bench run produced no parseable JSON — "
          "keeping in-suite flags")
    return {}


def codegen(old, new, q):
    """A flagged query's generated-class compiles and compile ms (summed
    over threads) in both captures; captures before the per-query fields
    read "?"."""
    def get(cap, key):
        return cap.get("query_codegen", {}).get(q, {}).get(key, "?")
    return "".join(f" {key}={get(old, key)}->{get(new, key)}"
                   for key in ("codegen_compiles", "codegen_compile_ms"))


def main():
    argv = list(sys.argv[1:])
    retime = "--retime" in argv
    if retime:
        argv.remove("--retime")
    old_arg = argv[0] if len(argv) > 0 else "git:HEAD:bench_full_latest.json"
    new_arg = argv[1] if len(argv) > 1 else "bench_full_latest.json"
    old, new = load(old_arg), load(new_arg)
    for name, cap in (("old", old), ("new", new)):
        fmt = lambda v: f"{v:.2f}" if isinstance(v, (int, float)) else "?"
        sb = cap.get("sentinel_before")
        sa = cap.get("sentinel_after")
        if cap.get("contaminated"):
            sys.exit(f"{name} capture is contaminated "
                     f"(sentinel {fmt(sb)} -> {fmt(sa)} s) — "
                     "re-measure isolated")
        # a window already contended at t0 passes the after/before ratio
        # (r14's 341.5 s capture); such captures are only usable when every
        # surviving flag is isolated-retimed
        if cap.get("noisy_window"):
            if not retime:
                sys.exit(f"{name} capture is from a noisy window "
                         f"(sentinel_before {fmt(sb)} s) — rerun with "
                         "--retime so every flag is isolated-verified, "
                         "or regenerate in a clean window")
            print(f"WARNING: {name} capture is from a noisy window "
                  f"(sentinel_before {fmt(sb)} s) — in-suite numbers "
                  "untrusted, flags verified isolated below")
    oq, nq = old.get("queries", {}), new.get("queries", {})
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    regs, imps = [], []
    for q in sorted(set(oq) & set(nq)):
        a, b = oq[q], nq[q]
        if b > a * REG_RATIO and b - a > NOISE_SEC:
            regs.append((b / a, a, b, q))
        elif a > b * REG_RATIO and a - b > NOISE_SEC:
            imps.append((a / b, a, b, q))
    print(f"old: {old['value']:.1f} s / {len(oq)} queries   "
          f"new: {new['value']:.1f} s / {len(nq)} queries")
    # generated-class compiles in the timed loop (captures since the
    # codegen cache was sized; older ones lack the fields)
    for key in ("codegen_compiles", "codegen_compile_ms"):
        if key in old and key in new:
            print(f"{key}: {old[key]} -> {new[key]}")
    if added:
        t = sum(nq[q] for q in added)
        print(f"added ({len(added)}, {t:.1f} s): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    iso = {}
    if regs and retime:
        iso = retime_isolated([q for _, _, _, q in regs],
                              new.get("sf", "/root/testdata/sf0.1"))
        kept = []
        for r, a, b, q in regs:
            t = iso.get(q)
            if t is None:
                kept.append((r, a, b, q))
            elif t > a * REG_RATIO:
                kept.append((t / a, a, t, q))
                print(f"  {q}: isolated={t:.2f}s confirms regression")
            else:
                print(f"  {q}: isolated={t:.2f}s vs old {a:.2f} s — "
                      "in-suite flag was contention noise, dropped")
        regs = kept
    if regs:
        print(f"\nREGRESSIONS (> {REG_RATIO}x and > {NOISE_SEC} s):")
        for r, a, b, q in sorted(regs, reverse=True):
            # every flag carries its isolated re-time (or says it has
            # none) so close-outs quote tool output, not hand-run numbers
            tail = (f" isolated={iso[q]:.2f}s" if q in iso
                    else " isolated=n/a (run with --retime)")
            print(f"  {q}: {a:.2f} -> {b:.2f} s ({r:.2f}x){tail}"
                  f"{codegen(old, new, q)}")
    else:
        print(f"\nno regressions > {REG_RATIO}x and > {NOISE_SEC} s")
    if imps:
        print(f"improvements (> {REG_RATIO}x):")
        for r, a, b, q in sorted(imps, reverse=True):
            print(f"  {q}: {a:.2f} -> {b:.2f} s ({r:.2f}x faster)"
                  f"{codegen(old, new, q)}")
    sys.exit(1 if regs else 0)


if __name__ == "__main__":
    main()
