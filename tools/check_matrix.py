"""Consistency check: every queries()/bench_only_queries() entry must be
referenced in OPERATORS.md, every oracle_sql() key must exist in
queries() (and vice versa), every entry named in bench.py's
_SETUP_DEPENDENTS must be registered (a renamed entry would otherwise
lose its untimed setup), and no code in the package or in
__spark_entry__.py may materialize outside knowledge_graph_etl_spark/ckpt.py
(the one owner of checkpoints): no ``.localCheckpoint(``, ``.cache(``,
``.persist(`` or ``.unpersist(`` call anywhere else. Run in CI-style
before closing a round:

    python tools/check_matrix.py
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


#: the calls that materialize (or release) a DataFrame; only ckpt.py makes them
_MATERIALIZE = re.compile(r"\.(localCheckpoint|cache|persist|unpersist)\(")


def raw_checkpoints() -> list[str]:
    """``path:line`` of every materializing call outside ckpt.py."""
    pkg = os.path.join(ROOT, "knowledge_graph_etl_spark")
    files = [os.path.join(ROOT, "__spark_entry__.py")] + [
        os.path.join(d, f)
        for d, _, names in os.walk(pkg)
        for f in names
        if f.endswith(".py")
    ]
    hits = []
    for path in sorted(files):
        if path == os.path.join(pkg, "ckpt.py"):
            continue
        with open(path, encoding="utf-8") as fh:
            for i, line in enumerate(fh, 1):
                if _MATERIALIZE.search(line):
                    hits.append(f"{os.path.relpath(path, ROOT)}:{i}")
    return hits


def main() -> int:
    import __spark_entry__ as m
    from bench import _SETUP_DEPENDENTS

    text = open(os.path.join(ROOT, "OPERATORS.md"), encoding="utf-8").read()
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
    for hit in raw_checkpoints():
        problems.append(f"materializing call outside ckpt.py (use ckpt.pin): {hit}")
    if problems:
        print("\n".join(problems))
        return 1
    print(f"ok: {len(q)} queries (all oracled), {len(b)} bench-only, all in OPERATORS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
