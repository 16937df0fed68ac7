"""bench.py: named mode, the one adjudication rule (retry at 1.5× the
previous comparable record, then a fresh-JVM ``bench.py NAME,NAME``
child), and the record it writes.

The end-to-end cases run bench.py in a temporary checkout: a copy of
bench.py next to a fake ``__spark_entry__`` whose entries sleep for set
times and log who ran them, so the trigger fires (or not) by
construction and the fresh-JVM child can be seen to use the parent's
checkout and CPU count."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import bench
from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FAKE_ENTRY = '''
import json, os, sys, time

_calls = {}


def _entry(name, first_secs, later_secs):
    def q(spark, sf_dir):
        n = _calls[name] = _calls.get(name, 0) + 1
        with open(os.environ["FAKE_BENCH_LOG"], "a") as fh:
            fh.write(json.dumps({
                "name": name, "pid": os.getpid(),
                "master": spark.sparkContext.master,
                "module": os.path.realpath(__file__),
                "argv0": os.path.realpath(sys.argv[0]),
            }) + "\\n")
        time.sleep(first_secs if n == 1 else later_secs)
        return spark.range(3)
    return q


def queries():
    return {
        "fast": _entry("fast", 0.0, 0.0),
        "slow": _entry("slow", 0.3, 0.3),
        "flaky": _entry("flaky", 2.0, 0.0),
    }


def bench_only_queries():
    return {"search_bm25_steady": _entry("search_bm25_steady", 0.0, 0.0)}


def ensure_text_index(spark, sf_dir):
    with open(os.environ["FAKE_BENCH_LOG"], "a") as fh:
        fh.write(json.dumps({"name": "ensure_text_index", "pid": os.getpid()}) + "\\n")
'''

KEYS = {
    "metric", "value", "unit", "queries", "sf", "loadavg",
    "shared_sum_vs_prev", "over_bar", "retries", "fresh", "cpus",
}
CPUS = 2


@pytest.fixture
def checkout(tmp_path):
    root = tmp_path / "checkout"
    root.mkdir()
    shutil.copy(os.path.join(REPO, "bench.py"), root / "bench.py")
    os.symlink(
        os.path.join(REPO, "knowledge_graph_etl_spark"),
        root / "knowledge_graph_etl_spark",
    )
    (root / "__spark_entry__.py").write_text(FAKE_ENTRY)
    return root


def _run(checkout, tmp_path, args=(), prev=None):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_BENCH_PREV=str(tmp_path / "prev.json"),
        SPARK_GRAFT_BENCH_OUT=str(tmp_path / "out.json"),
        FAKE_BENCH_LOG=str(tmp_path / "calls.jsonl"),
    )
    if prev is not None:
        (tmp_path / "prev.json").write_text(json.dumps(prev))
    cp = subprocess.run(
        [sys.executable, str(checkout / "bench.py"), *args],
        cwd=checkout, env=env, capture_output=True, text=True, timeout=600,
    )
    assert cp.returncode == 0, cp.stderr[-3000:]
    calls = [json.loads(line) for line in (tmp_path / "calls.jsonl").read_text().splitlines()]
    return cp.stdout.strip().splitlines(), calls


def _prev(sf=0.001, cpus=CPUS):
    # slow/flaky are over 1.5x of these on their first run; fast never is
    return {
        "sf": sf,
        "cpus": cpus,
        "queries": {"fast": 30.0, "slow": 0.05, "flaky": 1.0, "search_bm25_steady": 30.0},
    }


def test_full_run_retries_then_escalates_to_a_child_of_the_same_checkout(checkout, tmp_path):
    lines, calls = _run(checkout, tmp_path, prev=_prev())
    payload = json.loads(lines[-1])
    assert set(payload) == KEYS
    assert json.loads((tmp_path / "out.json").read_text()) == payload
    assert payload["cpus"] == CPUS and payload["sf"] == 0.001
    assert payload["value"] == round(sum(payload["queries"].values()), 3)
    # slow: over on the first run and the retry -> fresh-JVM child
    # flaky: over on the first run only -> retried, not escalated
    # fast / search_bm25_steady: within 1.5x -> neither
    assert set(payload["retries"]) == {"slow", "flaky"}
    assert set(payload["fresh"]) == {"slow"}
    assert payload["fresh"]["slow"] >= 0.3
    assert payload["shared_sum_vs_prev"]["n_shared"] == 4

    parent = calls[0]["pid"]
    slow = [c for c in calls if c["name"] == "slow"]
    assert [c["pid"] == parent for c in slow] == [True, True, False, False]
    for c in calls:
        if c["name"] != "ensure_text_index":
            assert c["master"] == f"local[{CPUS}]"
            assert c["module"] == str((checkout / "__spark_entry__.py").resolve())
            assert c["argv0"] == str((checkout / "bench.py").resolve())
    # the child runs named mode: only the setups its entries need
    assert [c["pid"] for c in calls if c["name"] == "ensure_text_index"] == [parent]


def test_a_record_from_another_cpu_count_triggers_nothing(checkout, tmp_path):
    # (another sf: test_previous_record_counts_only_at_the_same_sf_and_cpus)
    lines, _ = _run(checkout, tmp_path, prev=_prev(cpus=4))
    payload = json.loads(lines[-1])
    assert payload["retries"] == {} and payload["fresh"] == {}
    assert payload["shared_sum_vs_prev"] is None


def test_named_mode_prints_per_entry_runs_and_writes_no_record(checkout, tmp_path):
    lines, calls = _run(checkout, tmp_path, ["slow,fast,slow"], prev=_prev())
    assert len(lines) == 1
    runs = json.loads(lines[0])
    assert list(runs) == ["slow", "fast"]
    assert len(runs["slow"]) == 2 and len(runs["fast"]) == 1
    assert min(runs["slow"]) >= 0.3
    assert not (tmp_path / "out.json").exists()
    # no adjudication, and no setup for entries not named
    assert [c["name"] for c in calls] == ["slow", "fast", "slow"]


# -- the decision and the comparability rule, without Spark ----------------


def _adjudicate(first, before, retry, escalations=0):
    ran = []

    def rerun():
        ran.append("retry")
        return retry

    def fresh_jvm():
        ran.append("fresh")
        return 1.0

    return bench._adjudicate("q", first, before, rerun, fresh_jvm, escalations), ran


def test_adjudicate_branches():
    assert _adjudicate(1.5, 1.0, 9.0) == ((None, None), [])
    assert _adjudicate(-1.0, 1.0, 9.0) == ((None, None), [])
    assert _adjudicate(9.0, None, 9.0) == ((None, None), [])
    assert _adjudicate(1.6, 1.0, 1.4) == ((1.4, None), ["retry"])
    assert _adjudicate(1.6, 1.0, 1.6) == ((1.6, 1.0), ["retry", "fresh"])
    # a retry that raised counts as still slow
    assert _adjudicate(1.6, 1.0, -1.0) == ((-1.0, 1.0), ["retry", "fresh"])
    cap = bench.MAX_ESCALATIONS
    assert _adjudicate(1.6, 1.0, 1.6, escalations=cap) == ((1.6, None), ["retry"])


@pytest.mark.parametrize(
    "record, comparable",
    [
        ({"sf": 0.1, "cpus": 8}, True),
        ({"sf": 0.1, "cpus": 32}, False),
        ({"sf": 0.01, "cpus": 8}, False),
        ({"sf": 0.1}, False),
    ],
)
def test_previous_record_counts_only_at_the_same_sf_and_cpus(tmp_path, record, comparable):
    path = tmp_path / "prev.json"
    path.write_text(json.dumps({**record, "queries": {"q": 2.0}}))
    assert bench._previous(str(path), 0.1, 8) == ({"q": 2.0} if comparable else {})
    assert bench._previous(str(tmp_path / "missing.json"), 0.1, 8) == {}
