#!/usr/bin/env python3
"""Meta-test: tools/pairs.py's parsing and verdicts on canned run.py result
lines. Runs no benchmark. Dev tool only.

Usage: python3 tools/test_pairs.py
"""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import pairs  # noqa: E402

SPEC = [{"name": "batch_s", "better": "lower", "bound": 0.25},
        {"name": "heap_peak_mb", "better": "lower", "bound": 0.15}]


def result(batch, heap, correct=True):
    """run.py's stdout: a report line, then the result object."""
    return "[perfbench] report\n" + json.dumps({
        "correct": correct, "attempted": 90, "failed": 0,
        "metrics": {"batch_s": {"value": batch, "unit": "s"},
                    "heap_peak_mb": {"value": heap, "unit": "MB"}}})


def run(rows):
    return pairs.summarize([(pairs.parse_result(p), pairs.parse_result(c)) for p, c in rows],
                           SPEC)


def by_name(rows):
    return {r["name"]: r for r in rows}


def main():
    assert pairs.parse_result("[perfbench] build failed\n") is None
    assert pairs.parse_result("") is None
    assert pairs.parse_result(result(3.0, 500))["metrics"]["batch_s"]["value"] == 3.0

    # batch_s lower in every pair by far more than the parent's spread;
    # heap 30% higher: past its 15% bound
    parent = [3.8, 3.9, 4.0, 3.7, 3.85, 3.95, 3.75, 3.9, 4.05, 3.8]
    clear = run([(result(p, 500), result(p - 0.7, 650)) for p in parent])
    r = by_name(clear)
    assert r["batch_s"]["verdict"] == "better" and r["batch_s"]["wins"] == 10, r
    assert r["heap_peak_mb"]["verdict"] == "worse", r
    q1, med, q3 = r["batch_s"]["parent"]
    assert abs(med - 3.875) < 1e-9 and q1 < med < q3, r

    # lower in 8 of 10 pairs only: no claim, however large the median drop
    mixed = run([(result(p, 500), result(p - 0.7 if i < 8 else p + 0.1, 505))
                 for i, p in enumerate(parent)])
    r = by_name(mixed)
    assert r["batch_s"]["verdict"] == "no claim" and r["batch_s"]["wins"] == 8, r
    assert r["heap_peak_mb"]["verdict"] == "no claim", r

    # lower in every pair, but by less than the parent's IQR: no claim
    small = by_name(run([(result(p, 500), result(p - 0.01, 500)) for p in parent]))
    assert small["batch_s"]["verdict"] == "no claim", small

    # a wrong run or a failed run voids its pair: the 8 valid pairs still claim
    void = [(result(p, 500), result(p - 0.7, 500)) for p in parent[:8]] + [
        (result(3.8, 500), result(1.0, 500, correct=False)),
        ("[perfbench] run exceeded 170 s\n", result(3.0, 500))]
    r = by_name(run(void))
    assert r["batch_s"]["n"] == 8 and r["batch_s"]["verdict"] == "better", r

    print(pairs.report(clear, 10, 10))
    print("test_pairs: OK")


if __name__ == "__main__":
    main()
