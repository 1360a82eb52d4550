#!/usr/bin/env python3
"""Fail when main Scala holds a top-level definition nothing reaches.

Usage: python3 tools/check_reach.py   (from anywhere in the repo)

Lists every top-level `object`, `class` and `trait` under src/main/scala
and walks references from the roots: the entry points and the exceptions
in ALLOW below, plus every file of perfbench/src. A definition is reached
when its name appears in a reached definition's body (the text from its
declaration to the next top-level one) or in the imports of that
definition's file. Comment lines (`//`, ` * `, `/*`) are not references,
so a scaladoc [[link]] keeps nothing alive. The unreached names print one
per line, with their file, and the exit status is 1.

The registered queries are reached through SparkEntry, which Verify and
Bench read, so code a gated query calls counts as reached; code that only
a spec calls does not.
"""
import os
import re
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
MAIN = os.path.join(ROOT, "src", "main", "scala")
EXTRA = [os.path.join(ROOT, "perfbench", "src")]

# name -> why it counts as reached without a caller in main Scala
ALLOW = {
    "DiffJobMain": "entry point: spark-submit main of the diff job",
    "DiffApiServer": "entry point: main of the results REST server",
    "Verify": "entry point: runMain graft.Verify, the oracle gate's dump",
    "Bench": "entry point: runMain graft.Bench, the query benchmark",
    "Explain": "entry point: runMain graft.Explain, the plan auditor",
    # the Cassandra half of sources/: no cluster is available to a test
    # or a benchmark, so only CassandraSourceSpec (a fake catalog) runs it
    "CassandraSource": "Cassandra reader, reached only by CassandraSourceSpec",
    "CqlCatalog": "Cassandra catalog, reached only by CassandraSourceSpec",
    "CqlSchema": "Cassandra schema mapping, reached only by CassandraSourceSpec",
    "CqlSplits": "Cassandra token splits, reached only by CassandraSourceSpec",
    "CqlStatements": "Cassandra CQL text, reached only by CassandraSourceSpec",
    "FormatSource": "SourceProvider for programmatic DiffRunner callers "
                    "(csv/json/orc); the YAML config has no format key",
}

DEF = re.compile(
    r"^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|"
    r"abstract\s+|case\s+|implicit\s+)*(?:object|class|trait)\s+(\w+)")
WORD = re.compile(r"\w+")


def scala_files(root):
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(d, n)


def is_comment(line):
    s = line.strip()
    return s.startswith("//") or s.startswith("*") or s.startswith("/*")


def chunks(path, top_level):
    """(name, words) per top-level definition of `path`; name None for the
    file's preamble (package and imports). With top_level False the whole
    file is one preamble chunk."""
    out, name, words = [], None, set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            m = DEF.match(line) if top_level else None
            if m:
                out.append((name, words))
                name, words = m.group(1), set()
            if not is_comment(line):
                words.update(WORD.findall(line))
    out.append((name, words))
    return out


def main():
    defs = {}      # name -> [(file, words of its body)]
    preamble = {}  # file -> words of its imports
    for path in scala_files(MAIN):
        for name, words in chunks(path, top_level=True):
            if name is None:
                preamble[path] = words
            else:
                defs.setdefault(name, []).append((path, words))
    missing = sorted(set(ALLOW) - set(defs))
    if missing:
        print("allowlisted but not defined: " + ", ".join(missing))
        return 1
    reached, seen_files = set(), set()
    todo = [set(ALLOW)] + [w for root in EXTRA for p in scala_files(root)
                           for _, w in chunks(p, top_level=False)]
    while todo:
        words = todo.pop()
        for n in (words & defs.keys()) - reached:
            reached.add(n)
            for path, body in defs[n]:
                todo.append(body)
                if path not in seen_files:
                    seen_files.add(path)
                    todo.append(preamble[path])
    dead = sorted((n, os.path.relpath(p, ROOT))
                  for n in defs.keys() - reached for p, _ in defs[n])
    for n, p in dead:
        print(f"unreached: {n} ({p})")
    print(f"{len(defs) - len({n for n, _ in dead})} of {len(defs)} "
          f"top-level names reached")
    return 1 if dead else 0


if __name__ == "__main__":
    sys.exit(main())
