"""Auto-adjudication harness for bench-bar breaches (r10 verdict #9).

The agg_cube protocol, automated: for each named entry (or every entry in
BENCH_local.json's ``over_bar`` list with ``--from-bench``), run the n=5
solo series — ONE fresh session per entry via ``bench.py NAME,NAME,...``
(the bench's own session on local[$SPARK_GRAFT_CPUS], warm-ups and
setups), the entry executed 5 times back-to-back, median taken (the first
cold run is always an outlier; the median absorbs it) — then compare the median
against the entry's bar in tools/bench_bars.json and print the BASELINE.md
markdown table.

Verdicts per entry:
  at_record   median <= 1.10 x bar   -> in-bench number was run-order /
                                         load noise; no action needed
  creep       median  > 1.10 x bar   -> real drift; --pin re-baselines it
                                         (only do this after root-causing,
                                         or for deliberate re-anchors)

``--pin [entry ...]`` writes the measured medians into tools/solo_pins.json
(provenance-stamped with round + n + this tool) for the listed entries
(default: all adjudicated ones) and regenerates tools/bench_bars.json.

Run on a settled machine (no concurrent pytest/bench — check loadavg);
the whole point is removing driver-run load contamination from the series.

Usage:
    python tools/adjudicate.py entry [entry ...] [--n 5] [--round r11]
    python tools/adjudicate.py --from-bench [--pin [entry ...]]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def solo_series(entry: str, n: int, sf_dir: str) -> list[float]:
    """One fresh session, ``entry`` run n times: ``bench.py`` named mode,
    which prints ``{entry: [seconds, ...]}``."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), ",".join([entry] * n)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"bench.py failed for {entry}:\n{proc.stderr[-2000:]}")
    runs = json.loads(proc.stdout.strip().splitlines()[-1])[entry]
    if min(runs) < 0:  # bench.py records a raising run as -1.0
        raise RuntimeError(f"{entry} raised in bench.py:\n{proc.stderr[-2000:]}")
    return runs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("entries", nargs="*", help="queries()/bench-only entry names")
    ap.add_argument("--from-bench", action="store_true",
                    help="adjudicate every entry in BENCH_local.json over_bar")
    ap.add_argument("--n", type=int, default=5, help="solo runs per entry (median)")
    # required, not defaulted: a stale default stamps the wrong round's
    # provenance into pins/tables (the r12 judge hit exactly this)
    ap.add_argument("--round", required=True,
                    help="provenance tag for --pin, e.g. r13")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--pin", nargs="*", default=None,
                    help="write medians to solo_pins.json (no names = all run)")
    args = ap.parse_args()

    entries = list(args.entries)
    if args.from_bench:
        with open(os.path.join(REPO, "BENCH_local.json")) as fh:
            entries += [e["query"] if isinstance(e, dict) else e
                        for e in json.load(fh).get("over_bar", [])]
    if not entries:
        ap.error("no entries: pass names or --from-bench")

    with open(os.path.join(HERE, "bench_bars.json")) as fh:
        bars = json.load(fh)

    try:
        load1 = os.getloadavg()[0]
    except OSError:
        load1 = -1.0
    print(f"# adjudication {args.round}: n={args.n}, sf={args.sf_dir}, "
          f"loadavg {load1:.2f}", flush=True)
    if load1 > 4.0:
        print("WARNING: loadavg > 4 — series will be contaminated; "
              "settle the machine first", file=sys.stderr)

    results: dict[str, dict] = {}
    print("| entry | bar (s) | solo runs (s) | median | ratio | verdict |")
    print("|---|---|---|---|---|---|")
    for entry in entries:
        runs = solo_series(entry, args.n, args.sf_dir)
        med = round(statistics.median(runs), 3)
        bar = bars.get(entry, {}).get("bar")
        ratio = round(med / bar, 2) if bar else None
        verdict = ("no-bar" if bar is None
                   else "at_record" if ratio <= 1.10 else "creep")
        results[entry] = {"runs": runs, "median": med, "bar": bar,
                          "ratio": ratio, "verdict": verdict}
        print(f"| {entry} | {bar} | {', '.join(map(str, runs))} "
              f"| {med} | {ratio} | {verdict} |", flush=True)

    if args.pin is not None:
        to_pin = args.pin or list(results)
        pins_path = os.path.join(HERE, "solo_pins.json")
        with open(pins_path) as fh:
            pins = json.load(fh)
        for entry in to_pin:
            med = results[entry]["median"]
            pins[entry] = [med, f"solo-pin {args.round} n={args.n} "
                                "(tools/adjudicate.py, BASELINE.md)"]
        with open(pins_path, "w") as fh:
            json.dump(pins, fh, indent=1)
            fh.write("\n")
        subprocess.run([sys.executable, os.path.join(HERE, "make_bench_bars.py")],
                       cwd=REPO, check=True)
        print(f"pinned {len(to_pin)} entries -> solo_pins.json + bench_bars.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
