"""Consistency check: every queries()/bench_only_queries() entry must be
referenced in OPERATORS.md, every oracle_sql() key must exist in
queries() (and vice versa), and every entry named in bench.py's
_SETUP_DEPENDENTS must be registered (a renamed entry would otherwise
lose its untimed setup). Run in CI-style before closing a round:

    python tools/check_matrix.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import __spark_entry__ as m
    from bench import _SETUP_DEPENDENTS

    text = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "OPERATORS.md"),
        encoding="utf-8",
    ).read()
    q = m.queries()
    o = m.oracle_sql()
    b = m.bench_only_queries()
    problems = []
    for name in list(q) + list(b):
        if f"`{name}`" not in text:
            problems.append(f"registry entry {name} missing from OPERATORS.md")
    for name in q:
        if name not in o:
            problems.append(f"queries() entry {name} has no oracle_sql()")
    for name in o:
        if name not in q:
            problems.append(f"oracle_sql() key {name} not in queries()")
    for setup, dependents in _SETUP_DEPENDENTS.items():
        if not hasattr(m, setup):
            problems.append(f"bench.py setup {setup} is not in __spark_entry__")
        for name in dependents:
            if name not in q and name not in b:
                problems.append(f"bench.py {setup} dependent {name} is not a registered entry")
    overlap = set(q) & set(b)
    if overlap:
        problems.append(f"entries in BOTH queries() and bench_only_queries(): {sorted(overlap)}")
    if problems:
        print("\n".join(problems))
        return 1
    print(f"ok: {len(q)} queries (all oracled), {len(b)} bench-only, all in OPERATORS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
