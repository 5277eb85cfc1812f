#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query, ids masked.

Usage:

    python3 tools/plan_diff.py BEFORE.txt AFTER.txt [--show]

Each dump is the stdout of `sbt "runMain graft.Explain <sfDir> [query ...]"`
on one checkout. The formatted plans are split at their
`========== <query> ==========` headers, and in each plan what changes
from run to run is masked: expression ids (`x#123L`), exchange plan ids
(`plan_id=12`), RDD ids (`MapPartitionsRDD[34]`, `rdd_5`), lambda class
names and object hash codes (`$Lambda$7192/0x7efe...@1a2b3c`), and the
warehouse root, run directory and sequence suffix of memo spill paths.
The tool prints every query whose masked plan differs, or that only one
dump holds; `--show` adds a unified diff of each. It exits 1 when any
query differs.

Some plans depend on what the session ran before them, not only on the
code: the grouping-set `Expand` of q321_g_test lists its attributes as
(grp, st) inside the full 358-query run and as (st, grp) when explained
alone, on the same commit, and q294_cramers_v's lists (lang, source) or
(source, lang) depending on which queries ran before it. So a query
that differs here is not yet a difference: explain it again alone on
both checkouts,

    sbt "runMain graft.Explain <sfDir> <query>"   # once per checkout

and compare those two dumps with this tool. Only a query that still
differs when explained alone counts as a plan change.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
# sbt and Spark log lines, when stderr went into the dump too
NOISE = re.compile(r"^(\[(info|success|warn|error)\]|\d\d/\d\d/\d\d \d\d:\d\d:\d\d |Using Spark's default log4j)")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\brdd_\d+"), "rdd_N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N/0xH"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@H"),
    (re.compile(r"file:\S*?/spark-warehouse/"), "file:WAREHOUSE/"),
    (re.compile(r"/[0-9a-f]{8}-[0-9a-f]{3}/"), "/H/"),
    (re.compile(r"(/edges_[^/\]]*?)_\d+(_rs)?(?=[/\]])"), r"\1_N\2"),
]


def plans(path):
    """query name -> masked plan text."""
    out = {}
    name = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None:
                if NOISE.match(line):
                    continue
                for pat, rep in MASKS:
                    line = pat.sub(rep, line)
                out[name].append(line)
    return {n: "\n".join(ls).strip() for n, ls in out.items()}


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = plans(args[0]), plans(args[1])
    differ = sorted(n for n in a.keys() | b.keys() if a.get(n) != b.get(n))
    for n in differ:
        if n not in a or n not in b:
            print(f"{n}: only in {'AFTER' if n not in a else 'BEFORE'}")
            continue
        print(f"{n}: plan differs")
        if "--show" in argv:
            for l in difflib.unified_diff(a[n].splitlines(), b[n].splitlines(),
                                          "BEFORE", "AFTER", lineterm="", n=1):
                print("    " + l)
    print(f"{len(a.keys() | b.keys()) - len(differ)} identical, {len(differ)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
