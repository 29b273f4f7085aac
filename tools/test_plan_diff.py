#!/usr/bin/env python3
"""Meta-test: tools/plan_diff.py must call two runs of one distinct
aggregate identical although Spark ordered their Expand groups
differently, and two dumps of one query identical although Spark numbered
their lambda variables differently; it must still report a changed plan.
Dev tool only.

Usage: python3 tools/test_plan_diff.py
"""
import subprocess
import sys
import tempfile
from pathlib import Path

# q_dedup_exact's Expand and the lines that follow it, from two PlanDump
# runs of one commit: the same groups, numbered in another order
RUN_A = """(4) Expand
Arguments: [[null, null, null, 0], [lang#14582, null, null, 1], [null, lower(substring(text#14581, 1, 40)), null, 2], [null, null, text#14581, 3]], [lang#14600, lower(substring(text, 1, 40))#14601, text#14602, gid#14599]

(5) HashAggregate
Keys [4]: [lang#14600, lower(substring(text, 1, 40))#14601, text#14602, gid#14599]
Functions [4]: [partial_first(count(1)#14603L, true) FILTER (WHERE (gid#14599 = 0)), partial_count(text#14602) FILTER (WHERE (gid#14599 = 3)), partial_count(lower(substring(text, 1, 40))#14601) FILTER (WHERE (gid#14599 = 2)), partial_count(lang#14600) FILTER (WHERE (gid#14599 = 1))]
"""
RUN_B = """(4) Expand
Arguments: [[null, null, null, 0], [text#14652, null, null, 1], [null, lang#14653, null, 2], [null, null, lower(substring(text#14652, 1, 40)), 3]], [text#14671, lang#14672, lower(substring(text, 1, 40))#14673, gid#14670]

(5) HashAggregate
Keys [4]: [text#14671, lang#14672, lower(substring(text, 1, 40))#14673, gid#14670]
Functions [4]: [partial_first(count(1)#14674L, true) FILTER (WHERE (gid#14670 = 0)), partial_count(text#14671) FILTER (WHERE (gid#14670 = 1)), partial_count(lower(substring(text, 1, 40))#14673) FILTER (WHERE (gid#14670 = 3)), partial_count(lang#14672) FILTER (WHERE (gid#14670 = 2))]
"""

# q_knn_graph's lambda, from a dump of all queries and from a dump of a few:
# Spark numbers lambda variables from a JVM-wide counter
LAMBDA_FULL = """(7) Project
Output [2]: [id#812L, transform(nbrs#790, lambdafunction(lambda x_77#815.dst, lambda x_77#815, false)) AS nbrs#813]
"""
LAMBDA_SUBSET = LAMBDA_FULL.replace("x_77#815", "x_3#98").replace("#812L", "#95L") \
    .replace("#790", "#91").replace("#813", "#96")


def diff(a, b):
    with tempfile.TemporaryDirectory() as tmp:
        for side, text in (("a", a), ("b", b)):
            Path(tmp, side).mkdir()
            Path(tmp, side, "q.txt").write_text(text)
        r = subprocess.run([sys.executable, "tools/plan_diff.py", f"{tmp}/a", f"{tmp}/b"],
                           capture_output=True, text=True)
    return r.returncode, r.stdout


def main():
    rc, out = diff(RUN_A, RUN_B)
    assert rc == 0 and "identical 1/1" in out, f"reordered groups reported as a change\n{out}"
    # a count moved to another group is a real change
    changed = RUN_B.replace("partial_count(text#14671) FILTER (WHERE (gid#14670 = 1))",
                            "partial_count(text#14671) FILTER (WHERE (gid#14670 = 2))")
    rc, out = diff(RUN_A, changed)
    assert rc == 1 and "plan changed: q.txt" in out, f"changed plan reported identical\n{out}"
    rc, out = diff(LAMBDA_FULL, LAMBDA_SUBSET)
    assert rc == 0 and "identical 1/1" in out, f"renumbered lambda reported as a change\n{out}"
    # another field under the same lambda is a real change
    rc, out = diff(LAMBDA_FULL, LAMBDA_SUBSET.replace("x_3#98.dst", "x_3#98.src"))
    assert rc == 1 and "plan changed: q.txt" in out, f"changed lambda reported identical\n{out}"
    print("test_plan_diff: OK")


if __name__ == "__main__":
    main()
