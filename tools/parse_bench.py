#!/usr/bin/env python3
"""Pre-commit check for the driver<->bench stdout contract.

The driver runs `sbt "runMain graft.Bench"` and parses ONE JSON line from
stdout. r14/r15 both came back parsed:null because sbt wrapped the line in
"[info] " and appended "[success] Total time" after it. build.sbt now
forwards forked output raw (StdoutOutput) and drops the trailer
(showSuccess := false), so the compact JSON is the literal last stdout
line. This script replicates the strictest plausible extraction — take the
last non-empty stdout line, json.loads it — plus a lenient fallback scan,
and fails loudly if either view disagrees.

Usage: sbt "runMain graft.Bench" > /tmp/bench.out 2>/tmp/bench.err
       python3 tools/parse_bench.py /tmp/bench.out
"""
import json
import sys


def parse_strict(lines):
    """Driver-style: the last non-empty line must be the JSON object."""
    for line in reversed(lines):
        line = line.strip()
        if line:
            return json.loads(line)
    raise ValueError("no non-empty line in stdout")


def parse_lenient(lines):
    """Fallback: last line that parses as a {"metric": ...} object."""
    for line in reversed(lines):
        line = line.strip()
        # tolerate a log prefix before the JSON (e.g. "[info] {...}")
        if "{\"metric\"" in line:
            line = line[line.index("{\"metric\""):]
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    raise ValueError('no line containing a parseable {"metric": ...} object')


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else "/dev/stdin"
    with open(path, errors="replace") as f:
        lines = f.read().splitlines()
    lenient = parse_lenient(lines)
    try:
        strict = parse_strict(lines)
    except (ValueError, json.JSONDecodeError) as e:
        print(f"FAIL: last stdout line is not the bench JSON ({e}); "
              "the driver's parse would see parsed:null", file=sys.stderr)
        print("last 3 lines were:", file=sys.stderr)
        for line in lines[-3:]:
            print(f"  {line!r}", file=sys.stderr)
        sys.exit(1)
    if strict != lenient:
        print("FAIL: strict (last-line) and lenient (scan) parses disagree",
              file=sys.stderr)
        sys.exit(1)
    for key in ("metric", "value", "unit", "queries", "sf", "valid", "failed"):
        if key not in strict:
            print(f"FAIL: contract field {key!r} missing", file=sys.stderr)
            sys.exit(1)
    print(f"OK: total={strict['value']:.1f}s n_total={strict.get('n_total')} "
          f"n_in_line={len(strict['queries'])} valid={strict['valid']} "
          f"failed={strict['failed']}")
    sys.exit(0 if strict["valid"] else 2)


if __name__ == "__main__":
    main()
