#!/usr/bin/env python
"""Static audit of dumped plans (plans/<tag>/*.txt): flag patterns the
optimization guide calls out — duplicated Python kernels (§4.4),
SortMergeJoin where a broadcast should fit (§3.1), CartesianProduct,
row-at-a-time BatchEvalPython (§4.1), and repeated scans of one file
inside a single plan (§2.4 duplicate subtrees).

A flag is a REVIEW CUE, not a verdict — several flagged shapes are
deliberate and documented (e.g. the two lsh_buckets kernels in
sim_lsh_bucketed score different inputs: 3-row query side vs corpus).

Usage: python scripts/audit_plans.py <tag>
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path


def _bracketed(text: str, marker: str) -> list[str]:
    """Body of the balanced ``[...]`` right after each match of
    ``marker``, on the same line — a bracketed argument inside the list
    (an array literal, an element index) does not end it."""
    out = []
    for m in re.finditer(marker + r"(?=\[)", text):
        depth = 0
        for j in range(m.end(), len(text)):
            ch = text[j]
            if ch == "\n":
                break
            if ch == "[":
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    out.append(text[m.end() + 1 : j])
                    break
    return out


def _kernel_names(args: str) -> list[str]:
    """Leading function name of each top-level item of an eval node's
    argument list (nested calls inside an item are not kernels)."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(args + ","):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            m = re.match(r"\s*([A-Za-z_]\w*)\(", args[start:i])
            if m:
                names.append(m.group(1))
            start = i + 1
    return names


def audit(path: Path) -> list[str]:
    text = path.read_text()
    flags: list[str] = []

    # duplicated Python kernel: same function name in >1 eval node.
    # Simple-mode plans carry the kernel list on the eval node's OWN
    # line ("ArrowEvalPython [pyfn(...)], ..."): the capture stays on
    # that line, so it never reaches the NEXT operator and captures
    # e.g. a Project's 'substring' (r17 ADVICE item 1), and it ends at
    # the list's balanced ']', not at the first one.
    kernels: list[str] = []
    for args in _bracketed(text, r"(?:ArrowEvalPython|BatchEvalPython) "):
        kernels.extend(_kernel_names(args))
    # formatted plans put args on the detail line: "(n) ArrowEvalPython\n
    # ...Arguments: [fn1(col)#1, fn2(col)#2]" — count EVERY top-level
    # function in the list, not just the leading one (r17 ADVICE item 2)
    detail: list[str] = []
    for args in _bracketed(
        text,
        r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython)\nInput[^\n]*\nArguments: ",
    ):
        detail.extend(_kernel_names(args))
    names = Counter(kernels + detail)
    for fn, n in names.items():
        if n > 1:
            flags.append(f"python kernel '{fn}' evaluated in {n} nodes")

    if "BatchEvalPython" in text:
        flags.append("row-at-a-time BatchEvalPython present")
    if "CartesianProduct" in text:
        flags.append("CartesianProduct present")
    n_smj = text.count("SortMergeJoin")
    if n_smj:
        flags.append(f"SortMergeJoin x{n_smj}")

    # same parquet location scanned in >1 scan node (duplicate subtree cue)
    locs = Counter(re.findall(r"Location: InMemoryFileIndex \[([^\]]+)\]", text))
    for loc, n in locs.items():
        if n > 1:
            flags.append(f"scan x{n} of {Path(loc).name}")
    return flags


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r17p4"
    plans_dir = Path(__file__).resolve().parent.parent / "plans" / tag
    any_flag = False
    for p in sorted(plans_dir.glob("*.txt")):
        flags = audit(p)
        if flags:
            any_flag = True
            print(f"{p.stem}:")
            for f in flags:
                print(f"  - {f}")
    if not any_flag:
        print("no flags")


if __name__ == "__main__":
    main()
