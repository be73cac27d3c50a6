#!/usr/bin/env python3
"""PLANS.md notes check.

Asserts the hand notes in PLANS.md cover exactly the queries registered
in src/main/scala/graft/SparkEntry.scala: a new query cannot land
without a note saying what its plan must look like, and a deleted query
cannot leave a stale note. The plan shapes themselves are held by
plans/budgets.tsv, which EngineSpec's "every declared query" test
checks; `runMain graft.Explain <sfDir> <query>` prints any plan.

Usage:
  python3 tools/plans_check.py [PLANS.md]

Exit 0 = no drift; exit 1 = drift, with the offending ids listed.
Short ids are compared (the "q24" prefix of "q24_lsh_pairs") — the same
unique-prefix scheme the bench contract line uses.
"""
import re
import sys


def strip_scala_comments(src: str) -> str:
    """Blank out // line comments and /* */ blocks, preserving string
    literals (oracle SQL holds `//` for DuckDB integer division, so a
    naive regex strip would eat code — and worse, a registration
    commented OUT would still regex-match).  Comment bytes become
    spaces so line/column structure survives for any later regex."""
    out = list(src)
    i, n = 0, len(src)
    in_str = in_line = False
    block_depth = 0  # scala block comments NEST
    while i < n:
        c = src[i]
        nxt = src[i + 1] if i + 1 < n else ""
        if in_line:
            if c == "\n":
                in_line = False
            else:
                out[i] = " "
        elif block_depth > 0:
            if c == "/" and nxt == "*":
                block_depth += 1
                out[i] = out[i + 1] = " "
                i += 1
            elif c == "*" and nxt == "/":
                block_depth -= 1
                out[i] = out[i + 1] = " "
                i += 1
            elif c != "\n":
                out[i] = " "
        elif in_str:
            if c == "\\" and nxt:
                i += 1  # skip escaped char (harmless in triple-quoted)
            elif c == '"':
                in_str = False
        else:
            if c == '"':
                in_str = True
            elif c == "/" and nxt == "/":
                in_line = True
                out[i] = out[i + 1] = " "
                i += 1
            elif c == "/" and nxt == "*":
                block_depth = 1
                out[i] = out[i + 1] = " "
                i += 1
        i += 1
    return "".join(out)


def sparkentry_query_ids(path: str = "src/main/scala/graft/SparkEntry.scala"):
    """Short ids of every query registered in SparkEntry.queries."""
    src = strip_scala_comments(open(path).read())
    # registrations look like:  "q258_moore_lewis" -> (TextOps...)
    names = set(re.findall(r'"(q\w+?)_\w+"\s*->', src))
    # a name appears in both `queries` and `oracleSql`; the set dedups
    return names


def main() -> int:
    plans_path = sys.argv[1] if len(sys.argv) > 1 else "PLANS.md"
    note_ids = set(re.findall(r"\bq\d+[a-z]?\b", open(plans_path).read()))
    queries = sparkentry_query_ids()

    def ids(s):
        return " ".join(sorted(s, key=lambda i: (len(i), i)))

    unnoted, stale = queries - note_ids, note_ids - queries
    if unnoted:
        print(f"plans_check: {len(unnoted)} queries have NO hand-note: "
              + ids(unnoted))
    if stale:
        print(f"plans_check: {len(stale)} notes name NO registered query "
              "(stale): " + ids(stale))
    if unnoted or stale:
        return 1
    print(f"plans_check: OK — {len(queries)} queries tracked, all noted")
    return 0


if __name__ == "__main__":
    sys.exit(main())
