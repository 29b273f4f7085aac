#!/usr/bin/env python3
"""Reconcile the query registry and the code against COVERAGE.md (dev tool only).

Extracts every QueryDef name from src/main and every q_* token mentioned
in COVERAGE.md, then reports:
  - registered queries never mentioned in COVERAGE.md (undocumented)
  - COVERAGE.md mentions that no longer exist in the registry (stale)
  - backticked code references `Obj.member` (optionally `dir/Obj.member`,
    `Obj.{a,b}Suffix` or `Obj.a/b`) whose Obj is an object defined in
    src/main but whose member is defined nowhere in that object's file
    (stale code references), and path-qualified `dir/Name` references to
    a class or object src/main no longer defines; Spark's own classes (`Trigger`,
    `DataFrameWriter`) are not objects of src/main and are skipped
  - a table row id (`A2`, `W5`: one capital letter and digits opening the
    row's first cell) listed twice in one `## ` section
Exit 1 on any of them, so the round close-out catches inventory drift.
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def registry_names():
    names = set()
    for root, _, files in os.walk(os.path.join(REPO, "src/main")):
        for f in files:
            if f.endswith(".scala"):
                src = open(os.path.join(root, f)).read()
                names |= set(re.findall(
                    r'QueryDef\.sql\(\s*\n?\s*"(q_\w+)"', src))
    return names


def main_code():
    """(object name -> identifiers defined in the file(s) that define it,
    names of every class, trait and object)."""
    members, types = {}, set()
    for root, _, files in os.walk(os.path.join(REPO, "src/main")):
        for f in files:
            if f.endswith(".scala"):
                src = open(os.path.join(root, f)).read()
                defined = set(re.findall(
                    r"\b(?:def|val|var|class|object|trait|type)\s+(\w+)", src))
                types.update(re.findall(r"\b(?:class|object|trait)\s+(\w+)", src))
                for obj in re.findall(r"^\s*(?:private\S*\s+)?object\s+(\w+)",
                                      src, re.M):
                    members.setdefault(obj, set()).update(defined)
    return members, types


def expand(member):
    """`{read,write}JsonZip` -> readJsonZip, writeJsonZip; `a/b` -> a, b."""
    m = re.match(r"\{([\w,]+)\}(\w*)$", member)
    if m:
        return [alt + m.group(2) for alt in m.group(1).split(",")]
    return member.split("/")


def stale_code_refs(text, members, types):
    stale = []
    for span in re.findall(r"`([^`]+)`", text):
        for path, name in re.findall(r"(?<![\w.])((?:[a-z]\w*/)+)([A-Z]\w*)", span):
            if name not in types:
                stale.append(path + name)
        for obj, member in re.findall(
                r"(?<![\w.])(?:[a-z]\w*/)*([A-Z]\w*)\.(\{[\w,]+\}\w*|\w+(?:/\w+)*)",
                span):
            if obj not in members or member == "scala":  # `Verify.scala`
                continue
            for name in expand(member):
                if name not in members[obj]:
                    stale.append(f"{obj}.{name}")
    return sorted(set(stale))


def duplicate_row_ids(text):
    """`<section>: <id> (lines a, b)` for each row id listed more than once
    within one `## ` section."""
    rows, section = {}, ""
    for n, line in enumerate(text.splitlines(), 1):
        if line.startswith("## "):
            section = line[3:].strip()
        m = re.match(r"\|\s*([A-Z]\d+)\s", line)
        if m:
            rows.setdefault((section, m.group(1)), []).append(n)
    return [f"{sec}: {rid} (lines {', '.join(map(str, lines))})"
            for (sec, rid), lines in rows.items() if len(lines) > 1]


def covered_names():
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    return set(re.findall(r"\b(q_\w+)\b", text))


def main():
    reg, cov = registry_names(), covered_names()
    undocumented = sorted(reg - cov)
    stale = sorted(cov - reg)
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    stale_code = stale_code_refs(text, *main_code())
    dup_rows = duplicate_row_ids(text)
    print(f"registry: {len(reg)} queries; COVERAGE.md mentions: {len(cov)}")
    if undocumented:
        print(f"UNDOCUMENTED ({len(undocumented)}): {', '.join(undocumented)}")
    if stale:
        print(f"STALE MENTIONS ({len(stale)}): {', '.join(stale)}")
    if stale_code:
        print(f"STALE CODE REFERENCES ({len(stale_code)}): {', '.join(stale_code)}")
    if dup_rows:
        print(f"DUPLICATED ROW IDS ({len(dup_rows)}): {'; '.join(dup_rows)}")
    failed = undocumented or stale or stale_code or dup_rows
    if not failed:
        print("COVERAGE.md, the registry and the code are reconciled")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
