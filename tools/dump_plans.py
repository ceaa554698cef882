"""Dump named gates' physical plans into plans/r16/: the formatted
explain output and the operator skeleton, and print each gate's
exchange count.

    python tools/dump_plans.py [--suffix after] [--sf DIR] name [name ...]

For each gate it writes `<name>_<suffix>.txt` (`.explain("formatted")`)
and `<name>_<suffix>.skeleton.txt`: the un-executed adaptive plan's
`treeString()` reduced to the tree shape and operator names, with
expression ids, attributes and arguments stripped. Two trees with the
same skeleton run the same operators in the same shape, so a refactor
that claims to keep a plan diffs these files between its parent and
itself. stdout gets one line per gate: name, skeleton lines, exchanges.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# tree connectors (`+- `, `:  `) and the whole-stage-codegen marker
# (`*(3) ` in a tree string, `* ` in a formatted plan)
_PREFIX = re.compile(r"^([\s:|+-]*)(?:\*\(\d+\) |\* )?")
_NAME = re.compile(r"[A-Za-z][A-Za-z0-9_]*")


def skeleton(tree: str) -> list[str]:
    """One line per plan node: its tree prefix and operator name. Scan
    nodes keep their source kind (`Scan ExistingRDD`, `Scan parquet`)."""
    out = []
    for line in tree.splitlines():
        m = _PREFIX.match(line)
        rest = line[m.end():]
        name = _NAME.match(rest)
        if not name:
            continue
        op = name.group(0)
        if op in ("Scan", "FileScan"):
            nxt = _NAME.match(rest[name.end():].lstrip())
            if nxt:
                op += " " + nxt.group(0)
        out.append(m.group(1) + op)
    return out


def exchanges(skel: list[str]) -> int:
    """Exchange nodes (shuffle, broadcast and reused) in a skeleton."""
    return sum(line.split()[-1].endswith("Exchange") for line in skel)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from platform_spark.gate import GATE
    from platform_spark.session import get_spark

    spark = get_spark("plan-dump")
    out_dir = os.path.join(REPO, "plans", "r16")
    os.makedirs(out_dir, exist_ok=True)
    for name in args.names:
        fn, _oracle = GATE[name]
        df = fn(spark, args.sf)
        qe = df._jdf.queryExecution()
        txt = qe.explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        skel = skeleton(qe.executedPlan().treeString())
        base = os.path.join(out_dir, f"{name}_{args.suffix}")
        with open(base + ".txt", "w") as f:
            f.write(txt)
        with open(base + ".skeleton.txt", "w") as f:
            f.write("\n".join(skel) + "\n")
        print(f"wrote {base}.txt, {base}.skeleton.txt", file=sys.stderr)
        print(f"{name}\t{len(skel)} skeleton lines\t{exchanges(skel)} exchanges")


if __name__ == "__main__":
    main()
