#!/usr/bin/env python3
"""Fail when main Scala holds a definition nothing reaches or calls.

Usage: python3 tools/check_reach.py   (from anywhere in the repo)

Two passes; the exit status is 1 when either reports a name.

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

The member pass sees a dead method inside a reached object. A `def` or
`val` of main Scala that is neither `override` nor `private` is unused
when its name occurs nowhere but at its definitions in the non-comment
text of main Scala and perfbench/src. It prints one line per unused
member, with its file and line. The pass is by name, so a member that
shares its name with a used one is not seen.
"""
import os
import re
import sys
from collections import Counter

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
MAIN = os.path.join(ROOT, "src", "main", "scala")
EXTRA = [os.path.join(ROOT, "perfbench", "src")]

# name -> why it counts as reached (a top-level definition) or used (a
# member) without a caller in main Scala
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
    "calculate": "CqlSplits token splits, reached only by CassandraSourceSpec",
    "forTokens": "CqlSplits split pruning, reached only by CassandraSourceSpec",
    # the reference's public API (DiffJob.java:73-84) for programmatic
    # callers of the job
    "addPreJobHook": "DiffRunner hook before the tables run, as DiffJob's",
    "addPostJobHook": "DiffRunner hook on the final stats, as DiffJob's",
    # a spec's reference for reached code: SketchesSpec checks the SQL
    # hyperplane_sketch, the kernel lshTopK runs, against it
    "withHyperplaneSketch": "SketchesSpec's expected side for the sketch "
                            "kernel of Similarity.lshTopK",
}

DEF = re.compile(
    r"^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|"
    r"abstract\s+|case\s+|implicit\s+)*(?:object|class|trait)\s+(\w+)")
MEMBER = re.compile(
    r"^\s*((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|lazy\s+|"
    r"implicit\s+|override\s+)*)(?:def|val)\s+(\w+)")
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


def unused_members():
    """(name, file, line) per unused member (see the module doc), and the
    set of every member name defined in main Scala."""
    counts, members, defined = Counter(), {}, set()
    for path in [p for root in [MAIN] + EXTRA for p in scala_files(root)]:
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                if is_comment(line):
                    continue
                counts.update(WORD.findall(line))
                m = MEMBER.match(line) if path.startswith(MAIN) else None
                if m:
                    defined.add(m.group(2))
                    if "override" not in m.group(1) and \
                            "private" not in m.group(1):
                        members.setdefault(m.group(2), []).append((path, i))
    unused = sorted((n, os.path.relpath(p, ROOT), i)
                    for n, locs in members.items()
                    if counts[n] <= len(locs) and n not in ALLOW
                    for p, i in locs)
    return unused, defined


def main():
    unused, members = unused_members()
    defs = {}      # name -> [(file, words of its body)]
    preamble = {}  # file -> words of its imports
    for path in scala_files(MAIN):
        for name, words in chunks(path, top_level=True):
            if name is None:
                preamble[path] = words
            else:
                defs.setdefault(name, []).append((path, words))
    missing = sorted(set(ALLOW) - set(defs) - members)
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
    for n, p, i in unused:
        print(f"unused member: {n} ({p}:{i})")
    return 1 if dead or unused else 0


if __name__ == "__main__":
    sys.exit(main())
