#!/usr/bin/env python3
"""Refactor-identity diff of two PlanDump directories (dev tool only).

Normalizes every `<query>.txt` in both directories and prints the queries
whose normalized plans differ, then `identical N/M`. Exits 1 when a plan
differs or is missing on one side.

Usage:
    python3 tools/plan_diff.py <plans_a> <plans_b>
    python3 tools/plan_diff.py --norm <plan.txt>    # print one normalized plan

Normalization drops what changes between JVMs or edits but not the plan:
expression and plan ids, checkpoint RDD ids and call sites, lambda class
names, object identity hashes, random temp-directory names and the numbers
of lambda variables (`lambda x_77`: Spark takes them from a JVM-wide
counter, so they depend on how many queries the dump built before this
one). It also puts the groups of a distinct aggregate's `Expand` in one
order. Spark numbers those groups by iterating a hash map keyed on
expressions that carry expression ids, so the same query can list them in
another order in another run (q_dedup_exact, q_new_item_share). The groups are sorted by
their output columns' names, the `gid` values renumbered to match, and the
columns reordered everywhere the Expand's output list appears.
"""
import re
import sys
from pathlib import Path

RULES = [
    (re.compile(r"#[0-9]+"), ""),
    (re.compile(r"plan_id=[0-9]+"), ""),
    (re.compile(r"RDD\[[0-9]+\] at [A-Za-z]+ at [A-Za-z]+\.scala:[0-9]+"), "RDD"),
    (re.compile(r"\$\$Lambda\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"([A-Za-z]\$?[A-Za-z]+)@[0-9a-f]+"), r"\1@"),
    (re.compile(r"[a-z-]+[0-9]{6,}"), "TMP"),
    (re.compile(r"\blambda ([A-Za-z][A-Za-z0-9]*)_[0-9]+"), r"lambda \1_"),
]
GID = re.compile(r"\(gid = ([0-9]+)\)")


def split_top(s):
    """Split on the commas outside brackets and parentheses; None when
    the brackets do not balance."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
            if depth < 0:
                return None
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    if depth != 0:
        return None
    parts.append(s[start:].strip())
    return parts


def bracketed(s):
    return s[1:-1] if s.startswith("[") and s.endswith("]") else None


def expand_order(text):
    """Put a distinct aggregate's Expand groups in sorted order (see the
    module doc). Plans without one, or of another shape, are unchanged."""
    lines = text.split("\n")
    for i, line in enumerate(lines):
        if not line.startswith("Arguments: [["):
            continue
        args = split_top(line[len("Arguments: "):])
        if args is None or len(args) != 2:
            continue
        outer, out = bracketed(args[0]), bracketed(args[1])
        if outer is None or out is None:
            continue
        rows = [bracketed(r) for r in split_top(outer) or []]
        rows, out = [r and split_top(r) for r in rows], split_top(out)
        if not rows or out is None or "gid" not in out or \
                any(r is None or len(r) != len(out) for r in rows):
            continue
        g = out.index("gid")
        if not all(r[g].isdigit() for r in rows):
            continue

        def slots(k):  # columns only row k fills: its distinct group's children
            return [c for c in range(len(out)) if c != g and rows[k][c] != "null"
                    and all(rows[j][c] == "null" for j in range(len(rows)) if j != k)]
        groups = [k for k in range(len(rows)) if int(rows[k][g]) > 0 and slots(k)]
        block = [c for k in groups for c in slots(k)]
        if len(groups) < 2 or block != list(range(block[0], block[0] + len(block))):
            continue
        lo, hi = block[0], block[-1] + 1
        ordered = sorted(groups, key=lambda k: [out[c] for c in slots(k)])
        gids = sorted((rows[k][g] for k in groups), key=int)
        renum = {rows[k][g]: gids[n] for n, k in enumerate(ordered)}
        cols = list(range(lo)) + [c for k in ordered for c in slots(k)] + list(range(hi, len(out)))
        new_rows = [[r[c] for c in cols] for r in rows]
        for r in new_rows:
            r[g] = renum.get(r[g], r[g])
        new_rows.sort(key=lambda r: int(r[g]))
        new_out = [out[c] for c in cols]
        lines[i] = ("Arguments: [" + ", ".join("[" + ", ".join(r) + "]" for r in new_rows)
                    + "], [" + ", ".join(new_out) + "]")
        old_block, new_block = ", ".join(out[lo:hi]), ", ".join(new_out[lo:hi])
        for j, other in enumerate(lines):
            if j != i:
                other = other.replace(old_block, new_block)
                lines[j] = GID.sub(lambda m: f"(gid = {renum.get(m.group(1), m.group(1))})", other)
    return "\n".join(lines)


def normalize(text):
    lines = []
    for line in text.split("\n"):
        for pattern, repl in RULES:
            line = pattern.sub(repl, line)
        lines.append(line)
    return expand_order("\n".join(lines))


def main():
    args = sys.argv[1:]
    if len(args) == 2 and args[0] == "--norm":
        sys.stdout.write(normalize(Path(args[1]).read_text()))
        return
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = Path(args[0]), Path(args[1])
    names = sorted({p.name for p in a.glob("*.txt")} | {p.name for p in b.glob("*.txt")})
    same = 0
    for name in names:
        pa, pb = a / name, b / name
        if not (pa.exists() and pb.exists()):
            print(f"only in {a if pa.exists() else b}: {name}")
        elif normalize(pa.read_text()) != normalize(pb.read_text()):
            print(f"plan changed: {name}")
        else:
            same += 1
    print(f"identical {same}/{len(names)}")
    sys.exit(0 if same == len(names) else 1)


if __name__ == "__main__":
    main()
