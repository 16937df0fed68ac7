"""Capture .explain("formatted") for named queries() entries into
plans/<tag>/<query>_<suffix>.txt — the optimization round's plan-evidence
artifacts (judge checks plan claims against these files).

Usage: python tools/capture_plans.py <tag> <suffix> q1,q2,...
   e.g. python tools/capture_plans.py r13 before doc_minhash_cluster_dedup

Plans are captured at the bench scale factor ($SPARK_GRAFT_SF_DIR,
default sf0.1) in the bench's own session (``bench.session()``:
local[$SPARK_GRAFT_CPUS], the same shuffle partitions, driver memory and
confs), so Exchange counts / join strategies match what the bench
actually executes."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

tag, suffix = sys.argv[1], sys.argv[2]
names = sys.argv[3].split(",")
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

import bench

spark = bench.session()

import __spark_entry__ as entrymod

qs = entrymod.queries()
qs.update(getattr(entrymod, "bench_only_queries", dict)())

out_dir = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
)
os.makedirs(out_dir, exist_ok=True)
for name in names:
    df = qs[name](spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    path = os.path.join(out_dir, f"{name}_{suffix}.txt")
    with open(path, "w") as fh:
        fh.write(plan)
    print(f"wrote {path} ({plan.count(chr(10))} lines)")
spark.stop()
