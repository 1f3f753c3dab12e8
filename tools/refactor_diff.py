#!/usr/bin/env python3
"""Name the queries whose plan or oracle SQL differs between two runs.

Usage:
  tools/refactor_diff.py plan A B     # two `graft.Dev plan` logs
  tools/refactor_diff.py oracle A B   # two Verify `oracle_sql.json` files

`plan` splits each log at its `===== <query> =====` headers, drops the
sbt and Spark log lines that stderr interleaves, and normalises what
changes from run to run without the plan changing: expression ids (`#12`),
plan ids (`plan_id=34`), RDD ids (`MapPartitionsRDD[56]`), the source line
of an RDD's call site (`at Dedup.scala:78`), lambda variable ids
(`lambda x_42`), JVM lambda and anonymous-class identities, the per-JVM
scratch root (`graft_scratch<digits>`) and the checkout's warehouse path. A `===== Subqueries =====` line is part of the
plan above it, not a query header.

`oracle` compares the SQL of each key with all whitespace removed.

Both modes print one line per query that differs, is missing on one side,
or (plan mode) failed to explain, then a summary line. Exit status: 0 if
everything compared equal, 1 otherwise.
"""
import json
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
LOG_LINE = re.compile(
    r"^(\[(info|warn|error|success)\] |\d\d/\d\d/\d\d \d\d:\d\d:\d\d (INFO|WARN|ERROR|DEBUG) )")
NORMALISE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:"),
    (re.compile(r"\b(lambda \w+?)_\d+"), r"\1_"),
    (re.compile(r"\$\$Lambda\S*@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"(\$anon\$\d+)@[0-9a-f]+"), r"\1@"),
    (re.compile(r"graft_scratch\d+"), "graft_scratch"),
    (re.compile(r"file:\S*/spark-warehouse/"), "file:spark-warehouse/"),
]


def plan_sections(path):
    """query name -> normalised plan text, in log order."""
    sections, name, lines = {}, None, []
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m and m.group(1) != "Subqueries":
                if name is not None:
                    sections[name] = "\n".join(lines).strip()
                name, lines = m.group(1), []
                continue
            if name is None or LOG_LINE.match(line):
                continue
            for pat, rep in NORMALISE:
                line = pat.sub(rep, line)
            lines.append(line)
    if name is not None:
        sections[name] = "\n".join(lines).strip()
    return sections


def oracle_sections(path):
    with open(path) as f:
        return {k: re.sub(r"\s+", "", v) for k, v in json.load(f).items()}


def compare(a, b):
    """Names that differ or exist on one side only, sorted."""
    out = []
    for name in sorted(set(a) | set(b)):
        if name not in a:
            out.append(f"{name}: only in B")
        elif name not in b:
            out.append(f"{name}: only in A")
        elif a[name] != b[name]:
            out.append(f"{name}: differs")
        elif "explain failed" in a[name]:
            out.append(f"{name}: explain failed on both sides")
    return out


def main(argv):
    if len(argv) != 4 or argv[1] not in ("plan", "oracle"):
        sys.stderr.write(__doc__)
        return 2
    load = plan_sections if argv[1] == "plan" else oracle_sections
    a, b = load(argv[2]), load(argv[3])
    diffs = compare(a, b)
    for d in diffs:
        print(d)
    print(f"{len(set(a) | set(b)) - len(diffs)} equal, {len(diffs)} differ "
          f"({len(a)} in A, {len(b)} in B)")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
