#!/usr/bin/env python3
"""Compare two directories of `Cli explain` plan dumps.

Usage: plan_diff.py <dirA> <dirB>

Both directories hold `<query>_<suffix>.txt` files written by
`graft.tools.Cli explain <sfDir> <qs> <outDir> <suffix>`; files pair up
by query name, so the two runs may use different suffixes. Before the
compare, each plan drops what differs between two runs of the same code:

  - expression ids (`#123`, `#123L`)
  - exchange plan ids (`plan_id=57`), RDD ids (`MapPartitionsRDD[57]`)
    and the `File.scala:LINE` call site that names where an RDD was
    made (a checkpoint's source line)
  - the random suffix of `Files.createTempDirectory` scratch dirs
    (`graft_wire_q_8212...`)
  - JVM identity hashes and lambda class names of objects a plan prints
    (`[F@6064ef87`, `Multimodal$$$Lambda$6916/0x00007f7c75abcd60`)

Prints each query whose plan differs, or that only one side has, with
the first differing line, and exits 1 on any difference, else 0.
"""
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:"),
    (re.compile(r"(graft_[A-Za-z_]*)\d{6,}"), r"\1"),
    (re.compile(r"Lambda\$?\d+/0x[0-9a-f]+"), "Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@"),
]


def plans(d):
    """query name -> path, the name being the file name minus `_<suffix>.txt`."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            out[f[:-4].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def normalized(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text.splitlines()


def main(a, b):
    pa, pb = plans(a), plans(b)
    diffs = 0
    for q in sorted(pa.keys() | pb.keys()):
        if q not in pa or q not in pb:
            print(f"{q}: only in {a if q in pa else b}")
            diffs += 1
            continue
        la, lb = normalized(pa[q]), normalized(pb[q])
        if la != lb:
            i = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y),
                     min(len(la), len(lb)))
            print(f"{q}: differs at line {i + 1}")
            print(f"  < {la[i] if i < len(la) else '<end>'}")
            print(f"  > {lb[i] if i < len(lb) else '<end>'}")
            diffs += 1
    print(f"{len(pa.keys() & pb.keys())} compared, {diffs} differ")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
