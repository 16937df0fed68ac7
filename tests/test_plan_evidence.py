"""Physical-plan evidence tests (SURVEY.md §4.2): the scale posture is a
property of the PLAN, not of small-data timings, so assert it directly on
`.explain("formatted")` output.

* partition pruning — a `graph()` / pattern read over the parquet-backed
  store must carry the `g = const` filter as a PartitionFilter (one graph
  scanned, not the store);
* predicate pushdown — constant-predicate / constant-object pattern scans
  must reach the parquet reader as PushedFilters (row groups skipped at
  100 TB, not filtered post-scan);
* column pruning — a pattern projecting (s, o_value) must not read the
  term-metadata columns in ReadSchema;
* whole-stage codegen — the scalar-function pipeline stays inside codegen
  (no interpreted Python/eval nodes in the hot path).
"""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_etl_spark import BGP, GraphStore, Var
from knowledge_graph_etl_spark.ingest import quadify


@pytest.fixture(scope="module")
def pstore(spark, tmp_path_factory):
    store = GraphStore(spark, path=str(tmp_path_factory.mktemp("planstore")))
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name-"), F.col("id")).alias("c_name"),
        F.when(F.col("id") % 2 == 0, "BUILDING").otherwise("AUTO").alias("c_seg"),
    )
    store.insert(
        quadify(df, "k", "urn:c:", "urn:g:one", namespace="urn:p:"),
        dedup_against_store=False,
        batch_distinct=True,
    )
    store.insert(
        quadify(df, "k", "urn:x:", "urn:g:two", namespace="urn:p:"),
        dedup_against_store=False,
        batch_distinct=True,
    )
    return store


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_graph_read_prunes_partitions(pstore):
    plan = _plan(pstore.graph("urn:g:one"))
    assert "PartitionFilters" in plan
    # the partition filter must carry the constant graph binding
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "g" in pf_line and "urn:g:one" in pf_line


def test_insert_dedup_scan_prunes_to_target_graphs(pstore, spark):
    """The write path's scale promise, by plan: with ``target_graphs``
    the set-dedup anti-join's existing-side scan covers ONLY the target
    graph partitions (static isin → PartitionFilters), so an insert
    into one graph never rescans the whole store. The control batch is
    CHECKPOINTED — when the batch's g is a literal constant Catalyst
    already infers the pruning filter through the join's g-equality,
    but a checkpoint (or a union of per-graph branches, the pipeline's
    batched-insert shape) makes g opaque, and then the explicit hint is
    the ONLY thing standing between one-partition and whole-store
    scans; the no-hint control documents exactly that."""
    from knowledge_graph_etl_spark.ckpt import Checkpoints

    ck = Checkpoints()
    batch = quadify(
        spark.range(5).select(
            F.col("id").alias("k"), F.lit("v").alias("c_name")
        ),
        "k",
        "urn:c:",
        "urn:g:one",
        namespace="urn:p:",
    )
    batch = ck.pin(batch)
    try:
        plan = _plan(
            pstore._prepare_batch(batch, target_graphs=["urn:g:one"])
        )
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert pf, plan
        assert any("urn:g:one" in l for l in pf), pf
        assert not any("urn:g:two" in l for l in pf), pf

        # control: opaque g + no hint = the existing-side scan has no
        # graph partition filter (whole-store read) — the regression
        # this test exists to catch if target_graphs threading is ever
        # dropped
        unpruned = _plan(pstore._prepare_batch(batch))
        assert not any(
            "urn:g:" in l
            for l in unpruned.splitlines()
            if "PartitionFilters" in l
        ), unpruned
    finally:
        # deterministic release: leaving the checkpoint to the async
        # ContextCleaner lets it unpersist mid-way through a LATER
        # test's pinned-RDD accounting window
        ck.release()


def test_pattern_scan_pushes_predicate_and_object(pstore):
    b = BGP(pstore.graph("urn:g:one"))
    b.pattern(Var("s"), "urn:p:c_seg", "BUILDING")
    plan = _plan(b.df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    joined = " ".join(pushed)
    assert "urn:p:c_seg" in joined, joined
    assert "BUILDING" in joined, joined


def test_pattern_scan_prunes_columns(pstore):
    b = BGP(pstore.graph("urn:g:one"))
    b.pattern(Var("s"), "urn:p:c_name", Var("name"))
    plan = _plan(b.df.select("s", "name"))
    schema_lines = " ".join(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_value" in schema_lines
    # term-metadata columns the query never touches must not be read
    assert "o_lang" not in schema_lines
    assert "o_datatype" not in schema_lines


def test_scalar_pipeline_stays_in_codegen(spark):
    from knowledge_graph_etl_spark.functions import (
        concat,
        encode_for_uri,
        md5,
        strafter,
    )

    df = spark.range(100).select(F.concat(F.lit("v#"), F.col("id")).alias("x"))
    out = df.select(
        md5(F.col("x")).alias("h"),
        strafter(F.col("x"), "#").alias("a"),
        encode_for_uri(concat(F.col("x"), F.lit(" y"))).alias("e"),
    )
    plan = _plan(out)
    # formatted mode marks codegen stages as "[codegen id : N]"
    assert "codegen id" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# -- round-3 operators: plan-shape assertions --------------------------------


def test_repetition_signals_has_no_shuffle(spark):
    """The rewrite's whole point: within-doc statistics need no exchange."""
    from knowledge_graph_etl_spark.extensions.curation import repetition_signals

    docs = spark.createDataFrame(
        [("1", "a b c a b")], "doc_id string, text string"
    )
    plan = _plan(repetition_signals(docs))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must broadcast — the corpus side of the
    overlap join never shuffles."""
    from knowledge_graph_etl_spark.extensions.curation import decontaminate

    docs = spark.createDataFrame(
        [(str(i), "w x y z q r") for i in range(50)], "doc_id string, text string"
    )
    bench = docs.limit(2)
    plan = _plan(decontaminate(docs, bench, n=3))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_asof_join_single_exchange_per_input(spark):
    """Merge-based as-of: one hash exchange on the key per input (union →
    window), never a nested-loop/range join."""
    from knowledge_graph_etl_spark.extensions.temporal import asof_join

    left = spark.createDataFrame([("a", 1, "x")], "k string, ts long, p string")
    right = spark.createDataFrame([("a", 1, 2.0)], "k string, ts long, v double")
    plan = _plan(asof_join(left, right, by="k", ts_col="ts"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the window's partitioning exchange is the only shuffle kind present
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) <= 1, plan


def test_pii_redact_and_split_stay_row_local(spark):
    from knowledge_graph_etl_spark.extensions.curation import (
        assign_shards,
        assign_split,
        pii_redact,
    )

    docs = spark.createDataFrame([("1", "t")], "doc_id string, text string")
    for df in (pii_redact(docs), assign_shards(assign_split(docs))):
        plan = _plan(df)
        assert "Exchange" not in plan, plan
        assert "codegen id" in plan, plan


def test_ivf_query_prunes_index_partitions(spark, tmp_path):
    """A probe over a file-backed IVF index must scan only the probed
    list_id partition directories (static isin filter → PartitionFilters)."""
    from knowledge_graph_etl_spark.extensions.similarity import ivf_build, ivf_query

    import pyspark.sql.functions as SF

    corpus = spark.range(80).select(
        SF.col("id").alias("vec_id"),
        SF.array(*[(SF.col("id") * (i + 1) % 7).cast("float") for i in range(4)]).alias(
            "embedding"
        ),
    )
    idx = ivf_build(corpus, nlist=8, path=str(tmp_path / "ivf"))
    queries = corpus.where(SF.col("vec_id") < 2).select(
        SF.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_query(idx, queries, k=3, nprobe=2)
    plan = _plan(out)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "list_id" in " ".join(pf), plan


def test_gopher_quality_has_no_shuffle(spark):
    """Every Gopher rule is a within-document statistic — one corpus scan,
    no exchange, no Python."""
    from knowledge_graph_etl_spark.extensions.curation import gopher_quality_flags

    docs = spark.createDataFrame(
        [("1", "the quick brown fox")], "doc_id string, text string"
    )
    plan = _plan(gopher_quality_flags(docs))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_sample_has_no_shuffle(spark):
    """Deterministic mixture sampling is a per-row map + bounded explode —
    no exchange, no Python."""
    from knowledge_graph_etl_spark.extensions.curation import mixture_sample

    docs = spark.createDataFrame(
        [("1", "a"), ("2", "b")], "doc_id string, source string"
    )
    plan = _plan(mixture_sample(docs, {"a": 2.5}))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_deferred_filter_still_pushes_down(pstore, spark):
    """FILTER constraints now apply at group end (SPARQL §5.2.2) — verify
    Catalyst still pushes the resulting predicate INTO THE PARQUET SCAN
    (PushedFilters on o_value), so the conformance fix costs no plan
    quality; the filter is written BEFORE the pattern that binds ?x."""
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store = pstore
    df = eng.select(
        'SELECT ?s FROM <urn:g:one> WHERE { FILTER(?x = "BUILDING") '
        "?s <urn:p:c_seg> ?x }"
    )
    plan = _plan(df)
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "o_value" in pushed and "BUILDING" in pushed, plan
    assert df.count() == 100  # even ids


def test_bloom_decontaminate_broadcasts_bitmap(spark):
    """The corpus side never shuffles before the bitmap check: the only
    join against the gram stream is a broadcast of the <=num_bits/32-row
    bitmap relation; the per-doc agg is the sole corpus-keyed exchange."""
    from knowledge_graph_etl_spark.extensions.curation import bloom_decontaminate

    docs = spark.createDataFrame(
        [(str(i), "w x y z q r") for i in range(50)], "doc_id string, text string"
    )
    plan = _plan(bloom_decontaminate(docs, docs.limit(2), n=3))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_cms_sketch_aggregates_map_side(spark):
    """The sketch build must partial-aggregate before its exchange — the
    bounded-counter-grid claim relies on map-side collapse (HashAggregate
    below the Exchange on the (r, col) key)."""
    from knowledge_graph_etl_spark.extensions.curation import cms_ngram_topk

    docs = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(20)], "doc_id long, text string"
    )
    plan = _plan(cms_ngram_topk(docs, n=3, k=5))
    # formatted plans list partial aggregates as HashAggregate nodes with
    # keys=[r, col] appearing both below and above an exchange
    assert plan.count("HashAggregate") >= 2, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_substring_span_dedup_no_python_and_uniform_joins(spark):
    """All-JVM: no Python eval nodes anywhere; no nested-loop or cartesian
    join (every join is a hash equi-join on a uniform key)."""
    from knowledge_graph_etl_spark.extensions.curation import substring_span_dedup

    docs = spark.createDataFrame(
        [(str(i), "p q r s t u v w x y") for i in range(10)],
        "doc_id string, text string",
    )
    plan = _plan(substring_span_dedup(docs, k=3))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bigram_score_broadcasts_total_only(spark):
    """The single-row corpus total joins by broadcast; no nested-loop on
    the occurrence stream."""
    from knowledge_graph_etl_spark.extensions.curation import bigram_logprob_score

    docs = spark.createDataFrame(
        [(str(i), "m n o p q") for i in range(10)], "doc_id string, text string"
    )
    plan = _plan(bigram_logprob_score(docs))
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_union_values_plan_shape(spark):
    """Pin kg_union_values' physical shape (BENCH r03→r04 drifted 1.26 →
    2.46 s from run-position variance; solo warm runs hold ~1.2 s): the
    UNION branches must scan the cached quad relation with the
    (p, o_value, o_type) constants pushed into the InMemoryTableScan, the
    VALUES inline table must join by broadcast, and there must be no
    cartesian product and at most 6 exchanges total."""
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    df = spark.range(60).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n-"), F.col("id")).alias("c_name"),
        F.when(F.col("id") % 2 == 0, "BUILDING").otherwise("MACHINERY").alias(
            "c_mktsegment"
        ),
    )
    eng.store.insert(
        quadify(df, "k", "urn:c:", "urn:g:c", namespace="urn:p:"),
        dedup_against_store=False,
        batch_distinct=True,
    )
    out = eng.select(
        """
        PREFIX p: <urn:p:>
        SELECT ?c ?name ?tag WHERE {
            { ?c p:c_mktsegment "BUILDING" . BIND("B" AS ?tag) }
            UNION
            { ?c p:c_mktsegment "MACHINERY" . BIND("M" AS ?tag) }
            ?c p:c_name ?name .
            VALUES ?tag { "B" "M" }
        }
        """
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange") <= 6, plan
    assert "BroadcastExchange" in plan, plan
    # the segment constants reach the cached-quads scan, not a post-scan
    # filter over the full relation
    assert "urn:p:c_mktsegment" in plan and "BUILDING" in plan, plan
    assert out.count() == 60


def test_optional_star_uses_property_table_rewrite(spark):
    """VERDICT r04 item 7: OPTIONAL groups that are themselves stars must
    compile through star_scan (compile_group recurses into the OPTIONAL
    subgroup, so the property-table rewrite applies) — the
    ldap_mapping_org shape (required star + multi-pattern OPTIONAL star +
    single-pattern OPTIONAL) must plan 1 scan + 1 aggregate shuffle per
    star, NOT a self-join per pattern."""
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    df = spark.range(100).select(
        F.col("id").alias("k"),
        *[
            F.concat(F.lit(f"{c}-"), F.col("id")).alias(f"p{i}")
            for i, c in enumerate("abcde", start=1)
        ],
    )
    eng.store.insert(
        quadify(df, "k", "urn:c:", "urn:g:x", namespace="urn:p:"),
        dedup_against_store=False,
        batch_distinct=True,
    )
    out = eng.select(
        """
        PREFIX p: <urn:p:>
        SELECT ?s ?a ?b ?c ?d ?e WHERE {
            ?s p:p1 ?a .
            OPTIONAL { ?s p:p2 ?b . ?s p:p3 ?c . ?s p:p4 ?d }
            OPTIONAL { ?s p:p5 ?e }
        }
        """
    )
    plan = _plan(out)
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    # one aggregate shuffle for the 3-pattern OPTIONAL star + one for the
    # (single-pattern, non-star) sides at most; per-pattern self-joins
    # would add a shuffle per extra pattern
    assert shuffles <= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert out.count() == 100
    row = out.where(F.col("s") == "urn:c:7").collect()[0]
    assert (row["a"], row["b"], row["c"], row["d"], row["e"]) == (
        "a-7", "b-7", "c-7", "d-7", "e-7",
    )


def test_blocklist_word_mode_no_python_no_cartesian(spark):
    """Word-mode blocklist: tokenized corpus equi-joins the term set —
    no Python eval in the plan, no cartesian, term side broadcastable."""
    from knowledge_graph_etl_spark.extensions.curation import blocklist_filter

    docs = spark.createDataFrame(
        [(i, f"text number {i} maybe bad") for i in range(50)],
        "doc_id bigint, text string",
    )
    plan = _plan(blocklist_filter(docs, ["bad", "worse"]))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_funnel_never_self_joins_event_log(spark):
    """The funnel is k filtered min-aggregates chained on the user key —
    the event log must appear as a scan per step, never in a cartesian or
    a log-x-log join condition."""
    import datetime

    from knowledge_graph_etl_spark.extensions.events import funnel_conversion

    t0 = datetime.datetime(2026, 1, 1)
    rows = [
        (i % 7, t, t0 + datetime.timedelta(minutes=i))
        for i, t in enumerate(["view", "click", "buy"] * 20)
    ]
    df = spark.createDataFrame(rows, "user_id bigint, event_type string, ts timestamp")
    plan = _plan(funnel_conversion(df, ["view", "click", "buy"]))
    assert "CartesianProduct" not in plan, plan
    # the conversion denominator joins a 1-row broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_bpe_encode_is_pure_map(spark):
    """BPE encoding must be a shuffle-free Arrow map: no Exchange in the
    plan (broadcast ranks ride the closure, not a join)."""
    from knowledge_graph_etl_spark.extensions.tokenize import bpe_encode

    docs = spark.createDataFrame(
        [(1, "aa ab aa"), (2, "ab ab")], "doc_id bigint, text string"
    )
    plan = _plan(bpe_encode(docs, [("a", "a"), ("a", "b")]))
    assert plan.count("Exchange") == 0, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_dsir_weight_table_broadcasts(spark):
    """dsir_importance's bucket-weight table (bounded at `buckets` rows)
    must broadcast onto the corpus gram stream — the corpus side never
    re-shuffles for the weight join."""
    from knowledge_graph_etl_spark.extensions.curation import dsir_importance

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i}") for i in range(30)], ["doc_id", "text"]
    )
    plan = _plan(dsir_importance(docs, docs.where("doc_id % 5 = 0")))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_source_reputation_single_aggregate_no_extra_shuffle(spark):
    """source_reputation = zero-shuffle scorer + ONE hash aggregate on
    source: exactly one hashpartitioning Exchange in the plan."""
    from knowledge_graph_etl_spark.extensions.curation import source_reputation

    docs = spark.createDataFrame(
        [(i, f"text body {i}", f"host{i % 3}") for i in range(30)],
        ["doc_id", "text", "source"],
    )
    plan = _plan(source_reputation(docs))
    import re

    exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(exchanges) == 1, plan
    assert "partial" in plan.lower(), plan  # map-side combine present


def test_range_search_is_scan_filter_no_window(spark):
    """range_search must stay a broadcast nested-loop scan+filter: no
    Exchange, no Window/Sort (top-k's machinery) in the plan."""
    from knowledge_graph_etl_spark.extensions.similarity import range_search

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(20)], ["vec_id", "embedding"]
    )
    q = emb.where("vec_id < 2").selectExpr("vec_id AS query_id", "embedding")
    plan = _plan(range_search(emb, q, threshold=0.5))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_skew_report_uses_distributed_topk(spark):
    """skew_report's heavy-hitter selection must plan as a distributed
    TakeOrdered (per-partition top-k then merge), never a global sort;
    the per-key count must partial-aggregate (combiners) so a hot key
    ships one row per upstream partition."""
    from knowledge_graph_etl_spark.extensions.skew import skew_report

    df = spark.range(0, 1000).selectExpr("id % 37 AS k")
    plan = _plan(skew_report(df, ["k"], top_k=5))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial" in plan.lower(), plan
    # no global Sort node outside the bounded top-k machinery
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0], plan


def test_histogram_quantiles_is_one_combining_aggregate(spark):
    """The histogram itself must be ONE map-side-combining aggregate on
    (group, bin) — the property that makes it the 100 TB quantile path;
    downstream cumulation/selection operate on <= bins rows per group."""
    import re

    from knowledge_graph_etl_spark.extensions.stats import histogram_quantiles

    df = spark.range(0, 1000).selectExpr(
        "CAST(id % 7 AS STRING) AS g", "CAST(id % 100 AS DOUBLE) AS v"
    )
    plan = _plan(
        histogram_quantiles(df, "v", lo=0.0, hi=100.0, bins=50, group_col="g")
    )
    assert "partial" in plan.lower(), plan
    # shuffles: the (g, bin) histogram aggregate + the per-group window/
    # final agg reusing the g partitioning — never more than 3, and none
    # proportional to row count (all post-histogram data is bins-bounded)
    exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert 1 <= len(exchanges) <= 3, plan


def test_smallqty_revenue_broadcasts_dim_and_decorrelates(spark):
    """Q17 shape: the part dimension joins as a broadcast (no shuffle of
    the fact side for the dim lookup) and the correlated scalar is one
    per-part aggregate — no per-row subquery re-execution."""
    import __spark_entry__ as entry

    df = entry.smallqty_revenue(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # decorrelation: exactly one aggregate over the lineitem side before
    # the final rollup -> the word HashAggregate appears, and no
    # nested-loop / cartesian fallback does
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_late_supplier_blame_decorrelated_no_cartesian(spark):
    """Q21 shape: the EXISTS/NOT-EXISTS pair is decorrelated into ONE
    per-order aggregate joined back — the plan must contain no cartesian
    or nested-loop fallback and no more joins than the rewrite needs."""
    import __spark_entry__ as entry

    df = entry.late_supplier_blame(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # supplier-name lookup broadcasts; the global top-20 is a TakeOrdered
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_order_priority_wait_is_semi_join(spark):
    """Q4 shape: the EXISTS collapses to a LEFT SEMI join — each order
    counted once regardless of how many late lines it has — and the
    orderdate filter reaches the scan."""
    import __spark_entry__ as entry

    df = entry.order_priority_wait(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "PushedFilters" in plan or "o_orderdate" in plan, plan


def test_nation_market_share_broadcasts_all_dims(spark):
    """Q8 shape: every dimension side broadcasts — the fact table
    shuffles only for the orderkey join; no cartesian anywhere."""
    import __spark_entry__ as entry

    df = entry.nation_market_share(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_large_order_customers_having_drives_the_join(spark):
    """Q18 shape: the quantity aggregate+filter runs BEFORE the dimension
    joins (survivor set joins dims, not the reverse) and the customer
    lookup broadcasts."""
    import __spark_entry__ as entry

    df = entry.large_order_customers(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ks_2sample_materialize_single_source_scan(spark, tmp_path):
    """r09 verdict item 7: the histogram subtree has three consumers
    (totals + both pair sides), so ks_2sample checkpoints the histogram
    and its plan contains ZERO source scans (all three consumers read
    the checkpointed RDD). The consumer takes the checkpoint over and
    releases it — the accepted pinned-RDD budget."""
    from knowledge_graph_etl_spark.ckpt import Checkpoints, persistent_rdd_ids
    from knowledge_graph_etl_spark.extensions.stats import ks_2sample

    src = str(tmp_path / "ks_src.parquet")
    spark.createDataFrame(
        [("a", float(v)) for v in range(20)]
        + [("b", float(v) + 5.0) for v in range(20)],
        "g string, v double",
    ).write.parquet(src)
    df = spark.read.parquet(src)

    before = persistent_rdd_ids(spark)
    ck = Checkpoints()
    out = ck.own(ks_2sample(df, "g", "v"))
    mat_plan = _plan(out)
    assert mat_plan.count("Scan parquet") == 0, mat_plan
    assert "Scan ExistingRDD" in mat_plan, mat_plan
    # b is a shifted by 5 of 20 values: D = 5/20, d_num = 5·20
    assert [
        (r.group_a, r.group_b, r.n_a, r.n_b, r.d_num, r.d_ppm)
        for r in out.collect()
    ] == [("a", "b", 20, 20, 100, 250000)]
    # caller-side release restores the session's pinned-RDD budget: no
    # NEW ids survive. Subset (not equality): Spark's async
    # ContextCleaner may concurrently unpersist UNRELATED checkpoints
    # whose DataFrames other tests dropped — ids can legitimately leave
    # `before` mid-test, but nothing this test pinned may remain
    ck.release()
    assert persistent_rdd_ids(spark) <= before


def test_stats_family_plan_shapes(spark, tmp_path):
    """r09 verdict stretch 9: pin the r09 stats family's scale shapes by
    plan, not only by docstring. Invariants for all four ops: every
    join is broadcast (zero SortMergeJoin — nothing corpus-sized ever
    shuffles for a join), zero CartesianProduct (the cross joins are
    broadcast-scalar or bounded-grid), and the corpus reduction is a
    map-side-combinable partial aggregate. ks_2sample checkpoints its
    reduction, so its shapes are read from the plans of the queries run
    while building the result plus the returned plan. Scan-count bounds
    pin the documented pass structure (selectivity_estimate's 'three
    passes'; cramers_v's contingency-cell consumers)."""
    from knowledge_graph_etl_spark.extensions.stats import (
        cramers_v,
        ks_2sample,
        psi_report,
        selectivity_estimate,
    )

    src = str(tmp_path / "stats_src.parquet")
    spark.createDataFrame(
        [(i, float(i % 97), str(i % 3), str(i % 2)) for i in range(200)],
        "k long, v double, a string, b string",
    ).write.parquet(src)
    d = spark.read.parquet(src)

    store = spark._jsparkSession.sharedState().statusStore()

    def last_execution_id() -> int:
        # the store keeps only the newest spark.sql.ui.retainedExecutions,
        # so count-based offsets drift in a long session; ids do not
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def with_executed(build) -> str:
        """The returned plan plus the physical plans of every query run
        while building it (the checkpoint jobs)."""
        first = last_execution_id() + 1
        out = _plan(build())
        ran = [store.execution(i) for i in range(first, last_execution_id() + 1)]
        return "\n".join(
            [out] + [e.get().physicalPlanDescription() for e in ran if e.isDefined()]
        )

    plans = {
        "selectivity": _plan(selectivity_estimate(d, "v", [(1, 50), (0, 96)])),
        "psi": _plan(
            psi_report(d.where("k % 2 = 0"), d.where("k % 2 = 1"), "v")
        ),
        "cramers": _plan(cramers_v(d, "a", "b")),
        "ks": with_executed(lambda: ks_2sample(d, "a", "v")),
    }
    for name, p in plans.items():
        assert "SortMergeJoin" not in p, (name, p)
        assert "CartesianProduct" not in p, (name, p)
        assert "partial_count" in p, (name, p)
    # formatted mode lists each physical node once in the tree and once
    # as a "(N) Scan parquet" detail header — count the headers
    import re

    def scans(p):
        return len(re.findall(r"\(\d+\) Scan parquet", p))

    # documented pass structure: selectivity_estimate is exactly three
    # passes (min/max stats, bin counts, shared actuals)
    assert scans(plans["selectivity"]) == 3, plans["selectivity"]
    # cramers_v: the contingency-cell subtree has exactly four consumers
    # (ra, cb, n, grid) — more means a structural regression
    assert scans(plans["cramers"]) <= 4, plans["cramers"]


def test_tpch_r10_shapes_broadcast_and_pushdown(spark):
    """The five r10 TPC-H decorrelation shapes: dimension joins broadcast
    (zero SortMergeJoin — nothing corpus-sized shuffles for a join),
    zero CartesianProduct except the deliberate 1-row scalar broadcast,
    and Q19's OR-of-ANDs bracket survives as one predicate on one scan
    instead of a union of three plans."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    for name in (
        "mincost_region_supplier",
        "value_share_parts",
        "part_supplier_variety",
        "excess_stock_suppliers",
        "bracket_revenue",
    ):
        plan = _plan(entry.queries()[name](spark, sf))
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
    q19 = _plan(entry.queries()["bracket_revenue"](spark, sf))
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", q19)) == 2, q19  # part + lineitem, once each
    assert "Brand#1" in q19 and "Brand#3" in q19, q19

    # Q2 (r10 verdict, What's wrong #2): the per-part min must NOT be a
    # fact-derived broadcast (|part| rows on the driver at scale). r11
    # form: a partition-min Window over ONE hash exchange on l_partkey,
    # with the argmin groupBy reusing that partitioning — so the whole
    # plan has exactly one shuffle, and every BroadcastExchange feeds the
    # dimension chain (1-col build sides), never a min aggregate.
    q2 = _plan(entry.queries()["mincost_region_supplier"](spark, sf))
    assert len(re.findall(r"\(\d+\) Exchange\b", q2)) == 1, q2
    assert re.search(r"\(\d+\) Window\b", q2), q2
    assert "min_milli" not in "".join(
        re.findall(r"\(\d+\) BroadcastExchange[\s\S]{0,200}", q2)
    ), q2

    # Q10 (r11): aggregate-then-top20-then-join — the TakeOrdered result
    # must be the BROADCAST side probing customer (the |customer|-sized
    # dim never shuffles), and the only shuffle Exchange is the custkey
    # aggregate's. The tree prints the BroadcastExchange directly above
    # its TakeOrderedAndProject child.
    q10 = _plan(entry.queries()["returned_top_customers"](spark, sf))
    assert "SortMergeJoin" not in q10 and "CartesianProduct" not in q10, q10
    assert len(re.findall(r"\(\d+\) Exchange\b", q10)) == 1, q10
    assert re.search(
        r"BroadcastExchange \(\d+\)[\s\S]{0,120}TakeOrderedAndProject", q10
    ), q10


def _broadcast_scan_tables(plan: str) -> set[str]:
    """Parquet table names scanned anywhere inside a BroadcastExchange
    subtree of a formatted plan (tree section + per-node details)."""
    import re

    tree = plan.split("\n\n")[0].splitlines()
    nodes = []  # (line_idx, indent, name, node_id)
    for i, ln in enumerate(tree):
        m = re.search(r"([A-Za-z][\w ]*?)\s*\((\d+)\)\s*$", ln)
        if m:
            nodes.append((i, ln.index(m.group(1)), m.group(1).strip(), m.group(2)))
    scan_ids: set[str] = set()
    for idx, (i, indent, name, _nid) in enumerate(nodes):
        if "BroadcastExchange" not in name:
            continue
        for j, jindent, jname, jid in nodes[idx + 1:]:
            if jindent <= indent:
                break
            if jname.startswith("Scan parquet"):
                scan_ids.add(jid)
    tables: set[str] = set()
    for sid in scan_ids:
        m = re.search(
            r"\(%s\) Scan parquet[\s\S]{0,600}?Location:?[^\n]*?/(\w+)\.parquet"
            % sid,
            plan,
        )
        if m:
            tables.add(m.group(1))
        else:
            tables.add("unknown:" + sid)
    return tables


def test_sf_proportional_sides_never_broadcast_at_volume(spark):
    """r11 verdict, What's wrong #1 — the broadcast-hint sweep. Simulate
    volume by setting autoBroadcastJoinThreshold=1KB: size-estimated
    broadcasts vanish (at 100 TB no sf-proportional table fits the
    threshold either), so any BroadcastExchange left in the static plan
    is a HINT — i.e. a build side pinned to the driver at ANY scale.
    For every swept entry, the only hinted broadcasts allowed are the
    constant-size dims (nation ≤25 rows, region ≤5 — fixed at any sf);
    part / customer / supplier / fact-derived sides must shuffle."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    swept = [
        "join_topn_revenue",
        "multi_join_revenue_by_nation",
        "smallqty_revenue",
        "promo_revenue_share",
        "graph_wcc",
        "large_order_customers",
        "nation_market_share",
        "mincost_region_supplier",
        "excess_stock_suppliers",
        "part_supplier_variety",
        "bracket_revenue",
        "late_supplier_blame",
    ]
    q = entry.queries()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    try:
        for name in swept:
            plan = _plan(q[name](spark, sf))
            tables = _broadcast_scan_tables(plan)
            assert tables <= {"nation", "region"}, (name, tables, plan)
            assert "CartesianProduct" not in plan, (name, plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_r12_new_operators_plan_shapes(spark):
    """Scale posture of the five r12 operators, pinned on the plan:
    url_features is a pure map (zero Exchange); domain_frequency_cap and
    sample_quantile_sketch shuffle ONCE on the domain/group key (the
    window partitioning — the groupBy reuses it); hard-negative mining
    broadcasts the probe set and never sort-merge-joins; cross-snapshot
    dedup has no cartesian anywhere."""
    import re

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    q = entry.queries()

    url = _plan(q["text_url_features"](spark, sf))
    assert not re.search(r"\(\d+\) Exchange\b", url), url
    # '*' prefix = inside whole-stage codegen in formatted explain
    assert "* Project" in url, url

    cap = _plan(q["data_domain_cap"](spark, sf))
    assert len(re.findall(r"\(\d+\) Exchange\b", cap)) == 1, cap

    sk = _plan(q["sketch_sample_quantiles"](spark, sf))
    assert len(re.findall(r"\(\d+\) Exchange\b", sk)) == 1, sk

    hn = _plan(q["ann_hard_negatives"](spark, sf))
    assert "SortMergeJoin" not in hn, hn
    assert "BroadcastNestedLoopJoin" in hn or "BroadcastExchange" in hn, hn

    cs = _plan(q["dedup_cross_snapshot"](spark, sf))
    assert "CartesianProduct" not in cs, cs


def test_r13_new_operators_plan_shapes(spark):
    """Scale posture of the five r13 operators, pinned on the plan:
    html_extract_main is a pure map (zero Exchange, inside codegen);
    html_outlinks shuffles ONCE on the host pair (map-side partial
    combine before it); url_canonical_dedup never broadcasts its
    corpus-sized sides (one agg + one co-partitioned join back); the
    minhash tuner broadcasts ONLY the ≤6-row candidate table and has
    no cartesian on the pair side; shard_divergence broadcasts only
    bin-sized edge/spine rows, no sort-merge join."""
    import re

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    q = entry.queries()

    hm = _plan(q["html_extract_main"](spark, sf))
    assert not re.search(r"\(\d+\) Exchange\b", hm), hm
    assert "* Project" in hm, hm

    ol = _plan(q["html_outlinks"](spark, sf))
    # one shuffle for the (src_host, dst_host) aggregate; the distinct
    # counts rewrite as expand + the same keyed exchange family
    assert "CartesianProduct" not in ol, ol
    assert "partial_count" in ol, ol  # map-side combine present

    cu = _plan(q["url_canonical_dedup"](spark, sf))
    # corpus-sized join back: no broadcast of either side at volume is
    # asserted by the sf-proportional sweep; here pin no cartesian and
    # a hash aggregate on the canonical key
    assert "CartesianProduct" not in cu, cu
    assert "HashAggregate" in cu, cu

    tn = _plan(q["dedup_minhash_tuner"](spark, sf))
    # the only nested-loop allowed is the broadcast of the 6-row
    # candidate table; the token self-join must be an equi-join
    assert "CartesianProduct" not in tn, tn
    assert "BroadcastNestedLoopJoin" in tn or "BroadcastExchange" in tn, tn

    sd = _plan(q["shard_divergence"](spark, sf))
    assert "SortMergeJoin" not in sd, sd
    assert "CartesianProduct" not in sd, sd


def test_r13_eval_operators_plan_shapes(spark):
    """Scale posture of the r13 eval batch: text_chunks is a pure
    map-side explode (zero Exchange); eval_calibration reduces in one
    keyed aggregate family (no sort-merge join anywhere); eval_kappa
    joins only cell-sized aggregates; the bootstrap's draws->sample
    join is an equi-join, never a cartesian."""
    import re

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    q = entry.queries()

    ch = _plan(q["text_chunks"](spark, sf))
    assert not re.search(r"\(\d+\) Exchange\b", ch), ch
    assert "Generate" in ch, ch  # the posexplode

    cal = _plan(q["eval_calibration"](spark, sf))
    assert "SortMergeJoin" not in cal, cal
    assert "partial_count" in cal or "partial_sum" in cal, cal

    kp = _plan(q["eval_kappa"](spark, sf))
    assert "CartesianProduct" not in kp, kp

    pb = _plan(q["eval_paired_bootstrap"](spark, sf))
    assert "CartesianProduct" not in pb, pb


def test_r13_batch3_plan_shapes(spark):
    """json_shape_profile: map+explode then one keyed aggregate family,
    no sort-merge join (the share join is agg-sized); eval_ranking:
    no cartesian outside the deliberate broadcast query cross join."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    q = entry.queries()

    sp = _plan(q["json_shape_profile"](spark, sf))
    assert "Generate" in sp, sp
    assert "CartesianProduct" not in sp, sp

    lc = _plan(q["data_learning_curve"](spark, sf))
    assert "CartesianProduct" not in lc, lc

    rk = _plan(q["eval_ranking"](spark, sf))
    assert "CartesianProduct" not in rk, rk


def test_r13_batch4_plan_shapes(spark):
    """Scale posture of the r13 batch-4/5/6 operators. Pure-map entries
    (embed_rp_project) must show ZERO Exchange; aggregate-only entries
    must not degenerate into sort-merge joins of raw rows; nothing may
    plan a CartesianProduct (the broadcast one-row totals plan as
    BroadcastNestedLoopJoin, which is the intended shape)."""
    import re

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    q = entry.queries()

    # map + single hash-aggregate families: no raw-row SMJ anywhere
    for name in ("text_template_dedup", "domain_quality_shrunk"):
        p = _plan(q[name](spark, sf))
        assert "SortMergeJoin" not in p, (name, p)
        assert "CartesianProduct" not in p, (name, p)

    # explode + bounded-key aggregate: the rank window rides on a
    # few-hundred-row aggregate, never on raw rows
    bp = _plan(q["bpe_pair_stats"](spark, sf))
    assert "Generate" in bp, bp
    assert "CartesianProduct" not in bp, bp

    auc = _plan(q["eval_auc"](spark, sf))
    assert "Window" in auc, auc
    assert "CartesianProduct" not in auc, auc

    # BLEU: the one deliberate shuffle is the (id, n, gram) equi-join
    bl = _plan(q["eval_bleu"](spark, sf))
    assert "CartesianProduct" not in bl, bl

    fl = _plan(q["eval_fleiss"](spark, sf))
    assert "CartesianProduct" not in fl, fl

    # compaction plan: window + aggregate only — no join of any kind
    cp = _plan(q["files_compaction_plan"](spark, sf))
    assert "Window" in cp, cp
    assert "Join" not in cp and "CartesianProduct" not in cp, cp
    assert len(re.findall(r"\(\d+\) Exchange\b", cp)) <= 2, cp

    # random projection: pure map — zero Exchange, Arrow-batched UDF
    rp = _plan(q["embed_rp_project"](spark, sf))
    assert not re.search(r"\(\d+\) Exchange\b", rp), rp
    assert "ArrowEvalPython" in rp, rp
    assert "Generate" in rp, rp

    for name in ("text_vocab_growth", "text_collocations"):
        p = _plan(q[name](spark, sf))
        assert "CartesianProduct" not in p, (name, p)

    # script profile: codegen map + explode + one aggregate family
    spf = _plan(q["text_script_profile"](spark, sf))
    assert "Generate" in spf, spf
    assert "SortMergeJoin" not in spf, spf
    assert "BatchEvalPython" not in spf and "ArrowEvalPython" not in spf, spf

    # centroid drift: raw vectors reduce map-side; the only join is the
    # (label, dim) sum-table full-outer — never a Python eval, never a
    # cartesian
    cd = _plan(q["embed_centroid_drift"](spark, sf))
    assert "CartesianProduct" not in cd, cd
    assert "BatchEvalPython" not in cd and "ArrowEvalPython" not in cd, cd

    # count-min: the probe side joins the BROADCAST 4096-cell sketch
    cmn = _plan(q["sketch_countmin"](spark, sf))
    assert "BroadcastHashJoin" in cmn, cmn
    assert "CartesianProduct" not in cmn, cmn

    # gram uniqueness: pairs ⋈ df on the same gram key — co-partitioned,
    # no cartesian, no Python
    gu = _plan(q["text_gram_uniqueness"](spark, sf))
    assert "CartesianProduct" not in gu, gu
    assert "BatchEvalPython" not in gu and "ArrowEvalPython" not in gu, gu

    # sequence packing: window + two bounded aggregates, no join at all
    sp2 = _plan(q["data_sequence_pack"](spark, sf))
    assert "Window" in sp2, sp2
    assert "Join" not in sp2 and "CartesianProduct" not in sp2, sp2

    # RFM: one fact aggregate, customer-table windows, no SMJ of facts
    rf = _plan(q["orders_rfm"](spark, sf))
    assert "Window" in rf, rf
    assert "CartesianProduct" not in rf, rf

    # robots: host-keyed equi-join with the prefix test as a join
    # filter — never a cartesian, never a URL-table window
    rb = _plan(q["crawl_robots"](spark, sf))
    assert "CartesianProduct" not in rb, rb
    assert "Window" not in rb, rb

    rk2 = _plan(q["text_rake"](spark, sf))
    assert "CartesianProduct" not in rk2, rk2
    assert "BatchEvalPython" not in rk2 and "ArrowEvalPython" not in rk2, rk2


def test_linkage_weight_table_joins_stay_broadcast(spark, tmp_path):
    """idf_weighted_linkage's scale posture (r13 reversal): the
    vocabulary-sized w_t weight table must stay LAZY so Catalyst keeps
    its size estimate — an eager localCheckpoint there turned the four
    dirty/reference-side scoring joins into SortMergeJoins of
    corpus-proportional rows (plan-verified at sf0.1; solo 3.3 -> 4.6 s).
    Pinned on parquet-backed inputs because only file-sourced statistics
    make the planner's broadcast choice observable (LocalRelation inputs
    plan identically either way).

    The broadcast threshold is pinned to Spark's default for the scope
    of the test (r13 ADVICE): the no-SMJ assertion also covers the
    corpus-proportional candidate/scoring joins, which only broadcast at
    this fixture scale under the DEFAULT autoBroadcastJoinThreshold — a
    session-level threshold experiment must not fail this test for
    reasons unrelated to the w_t posture it documents."""
    from knowledge_graph_etl_spark.extensions.linkage import idf_weighted_linkage

    thr_key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(thr_key, None)
    spark.conf.set(thr_key, str(10 * 1024 * 1024))

    refp, dyp = str(tmp_path / "ref"), str(tmp_path / "dirty")
    spark.range(20000).select(
        F.col("id"),
        F.concat(
            F.lit("acme "),
            (F.col("id") % 997).cast("string"),
            F.lit(" widget division "),
            F.col("id").cast("string"),
        ).alias("name"),
    ).write.parquet(refp)
    spark.range(2000).select(
        F.col("id"),
        F.concat(
            F.lit("acme "),
            (F.col("id") % 997).cast("string"),
            F.lit(" widget "),
            F.col("id").cast("string"),
        ).alias("name"),
    ).write.parquet(dyp)
    try:
        plan = _plan(
            idf_weighted_linkage(
                spark.read.parquet(dyp),
                spark.read.parquet(refp),
                block_tokens=2,
                min_score_ppm=1,
            )
        )
    finally:
        if saved is None:
            spark.conf.unset(thr_key)
        else:
            spark.conf.set(thr_key, saved)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
