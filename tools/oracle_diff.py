#!/usr/bin/env python3
"""Compare two oracle_sql.json files written by graft.Verify.

Usage: python3 tools/oracle_diff.py <before/oracle_sql.json> <after/oracle_sql.json>

Prints the query names added, removed and changed (oracle text not
string-identical) between the two files, then a one-line summary.
Exit 0 iff both files hold the same keys with identical texts — the
proof a consolidation that must not move the oracle leaves every
DuckDB text as it was.
"""
import json
import sys


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        before = json.load(f)
    with open(argv[2]) as f:
        after = json.load(f)
    added = sorted(after.keys() - before.keys())
    removed = sorted(before.keys() - after.keys())
    changed = sorted(k for k in before.keys() & after.keys()
                     if before[k] != after[k])
    for label, keys in (("added", added), ("removed", removed),
                        ("changed", changed)):
        for k in keys:
            print(f"{label}: {k}")
    same = len(before.keys() & after.keys()) - len(changed)
    print(f"{same} identical, {len(added)} added, {len(removed)} removed, "
          f"{len(changed)} changed")
    return 1 if added or removed or changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
