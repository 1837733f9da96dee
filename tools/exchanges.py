#!/usr/bin/env python3
"""Compare the pinned (REPARTITION_BY_NUM) exchanges of two plan dumps.

Usage:
    python3 tools/exchanges.py <parent_plans_dir> <change_plans_dir> [allowlist]

Each directory holds the `<qNN>_<suffix>.txt` files that
`runMain graft.Probe <sfDir> <queries> plans=<dir>:<suffix>` writes (one
`.explain("formatted")` dump per query). For every query present on
either side the script prints the number of exchanges whose arguments
carry REPARTITION_BY_NUM (explicit-count repartitions, which AQE never
coalesces) and the operator directly above each of them.

Exit status is 1 when a query's pinned-exchange count differs between
the two sides (or the query is missing on one side) and the query is not
named in the allowlist file: one query short name (`q153`) per line,
`#` starts a comment. A changed operator above an exchange with an
unchanged count is printed as `moved` and does not fail the check.
"""
import os
import re
import sys

NODE = re.compile(r"^(?P<name>[A-Za-z*][^()]*?)\s*\((?P<id>\d+)\)$")
MARKER = re.compile(r"[+:]- ")


def parse(path):
    """Return {exchange id: sorted names of the operators above it}."""
    with open(path, encoding="utf-8") as f:
        lines = f.read().split("\n")
    pinned = set()
    for i, line in enumerate(lines):
        if re.match(r"^\(\d+\) .*Exchange", line):
            j = i + 1
            while j < len(lines) and lines[j].strip():
                if lines[j].startswith("Arguments:") and "REPARTITION_BY_NUM" in lines[j]:
                    pinned.add(line.split(")")[0][1:])
                j += 1
    above = {x: [] for x in pinned}
    stack = []  # (depth, name) of the current root-to-node path
    for line in lines:
        m = MARKER.search(line)
        depth, body = (m.start(), line[m.end():]) if m else (-1, line)
        node = NODE.match(body.strip()) if (m or NODE.match(line)) else None
        if node is None:
            if not line.strip():
                stack = []
            continue
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if node.group("id") in above:
            above[node.group("id")].append(stack[-1][1] if stack else "<root>")
        stack.append((depth, node.group("name").lstrip("* ").strip()))
    return {x: sorted(set(ops)) for x, ops in above.items()}


def load(d):
    out = {}
    for fn in os.listdir(d):
        m = re.match(r"^(q\d+)_.*\.txt$", fn)
        if m:
            out[m.group(1)] = parse(os.path.join(d, fn))
    return out


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    parent, change = load(argv[1]), load(argv[2])
    allow = set()
    if len(argv) == 4:
        with open(argv[3], encoding="utf-8") as f:
            allow = {ln.split("#")[0].strip() for ln in f} - {""}
    failed = []
    for q in sorted(set(parent) | set(change), key=lambda s: int(s[1:])):
        p, c = parent.get(q), change.get(q)
        def show(x):
            if x is None:
                return "missing"
            ops = sorted(op for ops in x.values() for op in ops)
            return f"{len(x)} [{', '.join(ops)}]"
        if p is None or c is None or len(p) != len(c):
            tag = "ALLOWED" if q in allow else "DIFF"
            if q not in allow:
                failed.append(q)
        elif sorted(map(tuple, p.values())) != sorted(map(tuple, c.values())):
            tag = "moved"
        else:
            tag = "same"
        if p or c or tag != "same":
            print(f"{tag:8} {q:6} parent={show(p)}  change={show(c)}")
    print(f"{len(set(parent) | set(change))} queries, "
          f"{len(failed)} count differences outside the allowlist"
          + (f": {', '.join(failed)}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
