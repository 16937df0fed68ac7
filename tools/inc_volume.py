"""Volume harness for incremental pipeline maintenance (r09 verdict #2).

Builds the kg_pipeline_volume store (10k companies by default), applies a
~1% document delta (edited + removed companies and ldap orgs), and times

  1. the full refresh over the NEW snapshot (run_pipeline — the
     reference's CLEAR+remap, what kg_pipeline_volume benches), and
  2. run_pipeline_incremental old -> new against the prebuilt store,

then verifies the two organizations graphs are identical (the
full-refresh equivalence oracle at volume). Prints one JSON line with
both wall-clocks and the incremental's counters/phase timings.

Usage: python tools/inc_volume.py [n_companies] [--no-full] [--jobs N] [--tiny]

``--tiny``: a 3-group delta (two companies + one ldap org edited,
nothing removed) instead of the ~1% class — measures the small-delta
FLOOR, which is per-update compile cost rather than data.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 10000
RUN_FULL = "--no-full" not in sys.argv
JOBS = 1
if "--jobs" in sys.argv:
    _ji = sys.argv.index("--jobs") + 1
    if _ji >= len(sys.argv) or not sys.argv[_ji].isdigit():
        sys.exit("usage: inc_volume.py [N] [--no-full] [--tiny] --jobs <int>")
    JOBS = int(sys.argv[_ji])
TINY = "--tiny" in sys.argv

from pyspark.sql import functions as F

import bench

spark = bench.session()

import tempfile

from knowledge_graph_etl_spark.engine import GRAPH_NS, Engine
from knowledge_graph_etl_spark.mappings import run_pipeline
from knowledge_graph_etl_spark.mappings.fixtures import volume_documents
from knowledge_graph_etl_spark.mappings.pipeline import run_pipeline_incremental

REF = "/root/reference/airflow_files/dags/sparql"


def delta_snapshot(old: dict) -> dict:
    """~1% delta: companies i%100==7 get their website edited, i%1000==9
    removed; ldap orgs i%500==3 get their description edited, i%1000==777
    removed. JSON edits are distributed string rewrites (no driver loop)."""
    new = dict(old)
    comp = old["tl_companies"]
    idx = F.split(F.col("doc_id"), "-").getItem(1).cast("long")
    if TINY:
        # 3-group floor probe: two companies + one ldap org edited
        new["tl_companies"] = comp.withColumn(
            "json",
            F.when(
                idx.isin(101, 202),
                F.regexp_replace("json", '"website": "', '"website": "edited-'),
            ).otherwise(F.col("json")),
        )
        new["ldap_organizations"] = old["ldap_organizations"].withColumn(
            "json",
            F.when(
                idx == 303,
                F.regexp_replace(
                    "json", '"description": "', '"description": "edited-'
                ),
            ).otherwise(F.col("json")),
        )
        return new
    new["tl_companies"] = (
        comp.where(idx % 1000 != 9)
        .withColumn(
            "json",
            F.when(
                idx % 100 == 7,
                F.regexp_replace(
                    "json", '"website": "', '"website": "edited-'
                ),
            ).otherwise(F.col("json")),
        )
    )
    ldap = old["ldap_organizations"]
    new["ldap_organizations"] = (
        ldap.where(idx % 1000 != 777)
        .withColumn(
            "json",
            F.when(
                idx % 500 == 3,
                F.regexp_replace(
                    "json", '"description": "', '"description": "edited-'
                ),
            ).otherwise(F.col("json")),
        )
    )
    return new


old = {
    k: (v.localCheckpoint(eager=True) if hasattr(v, "localCheckpoint") else v)
    for k, v in volume_documents(spark, n_companies=N).items()
}
new = delta_snapshot(old)
new = {
    k: (v.localCheckpoint(eager=True) if hasattr(v, "localCheckpoint") else v)
    for k, v in new.items()
}

out = {"n_companies": N, "jobs": JOBS}

# prebuilt store at OLD (untimed — the steady state an incremental run starts from)
inc_store = tempfile.mkdtemp(prefix="incvol_old_")
eng = Engine(spark, store_path=inc_store)
t0 = time.time()
run_pipeline(eng, old, REF, run_id="run-old", optimize=False, ledger=True, jobs=JOBS)
out["seed_full_ledger_sec"] = round(time.time() - t0, 1)

t0 = time.time()
counters = run_pipeline_incremental(eng, old, new, REF, run_id="run-inc", jobs=JOBS)
out["incremental_sec"] = round(time.time() - t0, 1)
out["counters"] = counters

if RUN_FULL:
    full_store = tempfile.mkdtemp(prefix="incvol_new_")
    eng2 = Engine(spark, store_path=full_store)
    t0 = time.time()
    run_pipeline(eng2, new, REF, run_id="run-new", optimize=False, jobs=JOBS)
    out["full_refresh_sec"] = round(time.time() - t0, 1)

    g = GRAPH_NS + "organizations"
    cols = ["s", "p", "o_value", "o_type", "o_datatype", "o_lang"]
    a = eng.store.graph(g).select(*cols)
    b = eng2.store.graph(g).select(*cols)
    only_a = a.exceptAll(b).count()
    only_b = b.exceptAll(a).count()
    out["equal"] = only_a == 0 and only_b == 0
    out["only_incremental"] = only_a
    out["only_full"] = only_b

print(json.dumps(out))
spark.stop()
