"""Per-graph file layout of a GraphStore directory, read from the parquet
footers with pyarrow (no Spark):

    python tools/store_layout.py PATH

prints one line per graph partition (``g=...``): its parquet files, rows,
bytes, and the bytes its footers take (the footer's metadata plus its
8-byte length and magic), then a total line. Uncommitted generations
under ``_compact_tmp/`` are not counted, as no reader sees them.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from knowledge_graph_etl_spark.store import _unescape_partition_value  # noqa: E402

#: a footer's length field and the closing "PAR1" magic
_FOOTER_TAIL = 8


def layout(path: str) -> dict[str, dict[str, int]]:
    """Graph → ``{"files", "rows", "bytes", "footer_bytes"}``."""
    out = {}
    for name in sorted(os.listdir(path)):
        if not name.startswith("g="):
            continue
        d = os.path.join(path, name)
        stats = {"files": 0, "rows": 0, "bytes": 0, "footer_bytes": 0}
        for f in sorted(os.listdir(d)):
            if f.startswith((".", "_")) or not f.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(d, f)).metadata
            stats["files"] += 1
            stats["rows"] += meta.num_rows
            stats["bytes"] += os.path.getsize(os.path.join(d, f))
            stats["footer_bytes"] += meta.serialized_size + _FOOTER_TAIL
        out[_unescape_partition_value(name[2:])] = stats
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    graphs = layout(argv[0])
    cols = ("files", "rows", "bytes", "footer_bytes")
    total = {c: sum(s[c] for s in graphs.values()) for c in cols}
    width = max([len("total"), *map(len, graphs)])
    print(f"{'graph':<{width}} " + " ".join(f"{c:>12}" for c in cols))
    for g, stats in [*graphs.items(), ("total", total)]:
        print(f"{g:<{width}} " + " ".join(f"{stats[c]:>12}" for c in cols))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
