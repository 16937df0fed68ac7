"""GraphStore: set semantics, CLEAR/DROP, partition layout (SURVEY.md §1.3, §2 ops 11-13)."""

import os

import pytest

from knowledge_graph_etl_spark.store import GraphStore
from knowledge_graph_etl_spark.terms import QUAD_COLUMNS, QUAD_SCHEMA

ROWS = [
    ("urn:g:a", "urn:s:1", "iri", "urn:p:x", "v1", "literal", None, None),
    ("urn:g:a", "urn:s:1", "iri", "urn:p:x", "v2", "literal", None, None),
    ("urn:g:b", "urn:s:2", "iri", "urn:p:y", "v1", "literal", None, None),
]


@pytest.fixture(params=["mem", "parquet"])
def store(request, spark, tmp_path):
    if request.param == "mem":
        return GraphStore(spark)
    return GraphStore(spark, str(tmp_path / "quads"))


def test_insert_and_graph_filter(store, spark):
    store.insert_data(ROWS)
    assert store.quads().count() == 3
    assert store.graph("urn:g:a").count() == 2
    assert set(store.dataset(["urn:g:a", "urn:g:b"]).select("g").distinct().toPandas()["g"]) == {
        "urn:g:a",
        "urn:g:b",
    }


def test_set_semantics_idempotent_insert(store):
    # triple-store dedup: re-inserting the same triples is a no-op
    store.insert_data(ROWS)
    store.insert_data(ROWS)
    assert store.quads().count() == 3
    store.insert_data(ROWS[:1] + [("urn:g:a", "urn:s:9", "iri", "urn:p:x", "v9", "literal", None, None)])
    assert store.quads().count() == 4


def test_clear_and_drop(store):
    store.insert_data(ROWS)
    store.clear("urn:g:a")
    assert store.graph("urn:g:a").count() == 0
    assert store.graph("urn:g:b").count() == 1
    # CLEAR SILENT on a missing graph: no error
    store.clear("urn:g:never")
    store.drop("urn:g:b")
    assert store.quads().count() == 0


def test_delete_discards_rows_outside_target_graphs(store, spark):
    store.insert_data(ROWS)
    # ROWS[2] lives in urn:g:b, outside the targets: kept, in both modes
    store.delete(
        spark.createDataFrame([ROWS[0], ROWS[2]], QUAD_SCHEMA),
        target_graphs=["urn:g:a"],
    )
    got = store.quads().select(*QUAD_COLUMNS).collect()
    assert sorted(map(tuple, got)) == sorted(ROWS[1:])


def test_optimize_preserves_data(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "q"))
    store.insert_data(ROWS)
    before = {tuple(r) for r in store.quads().collect()}
    store.optimize()
    assert {tuple(r) for r in store.quads().collect()} == before


def test_optimize_of_an_absent_graph_is_a_no_op(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "q"))
    store.insert_data(ROWS[:2])
    store.optimize("urn:g:absent")
    assert store.list_graphs() == ["urn:g:a"]
    assert not [n for n in os.listdir(tmp_path / "q") if "absent" in n]
    store.optimize("urn:g:a")
    assert store.graph("urn:g:a").count() == 2
    store.clear("urn:g:a")
    assert store.list_graphs() == []


def test_list_graphs(store):
    store.insert_data(ROWS)
    assert store.list_graphs() == ["urn:g:a", "urn:g:b"]


def _subject_store(spark, path, sizes):
    """A parquet store with ``sizes[g]`` distinct subjects in graph ``g``,
    inserted as several appended files per graph."""
    store = GraphStore(spark, path)
    rows = [
        (g, f"urn:s:{i:05d}", "iri", "urn:p:x", f"v{i}", "literal", None, None)
        for g, n in sizes.items()
        for i in range(n)
    ]
    store.insert(spark.createDataFrame(rows, QUAD_SCHEMA).repartition(4))
    return store


def test_optimize_clusters_by_subject(spark, tmp_path):
    """Subject-clustered compaction (SURVEY.md §4.3): data preserved,
    every rewritten file sorted by ``s``, the files of one graph over
    disjoint ``s`` ranges, and a graph much smaller than one partition's
    share of the compaction written as one file. Inside a file the rows
    are in whole-quad order, nulls first as Spark sorts them."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "q")
    store = _subject_store(spark, path, {"urn:g:a": 100, "urn:g:small": 3})
    # subjects with several predicates and objects, some typed or tagged
    store.insert_data(
        [
            ("urn:g:a", f"urn:s:{i:05d}", "iri", p, o, "literal", dt, lang)
            for i in range(0, 100, 7)
            for p in ("urn:p:y", "urn:p:a")
            for o, dt, lang in [
                ("w", None, None),
                ("w", "xsd:string", None),
                ("w", None, "en"),
                ("a", None, None),
            ]
        ]
    )
    before = {tuple(r) for r in store.quads().collect()}
    store.optimize(target_files=4)
    assert {tuple(r) for r in store.quads().collect()} == before
    rows = {}  # partition directory → the rows of each file, g left out
    for name in os.listdir(path):
        if name.startswith("g="):
            d = os.path.join(path, name)
            tables = [
                pq.read_table(os.path.join(d, f), columns=QUAD_COLUMNS[1:])
                for f in os.listdir(d)
                if f.endswith(".parquet")
            ]
            rows[name] = [list(zip(*t.to_pydict().values())) for t in tables]
    assert len(rows.pop("g=urn%3Ag%3Asmall")) == 1
    (files,) = rows.values()
    for file_rows in files:
        assert file_rows == sorted(
            file_rows, key=lambda r: [(v is not None, v or "") for v in r]
        )
    subjects = [[r[0] for r in file_rows] for file_rows in files]
    for s in subjects:
        assert s == sorted(s)
    spans = sorted((s[0], s[-1]) for s in subjects)
    assert len(spans) > 1
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next


@pytest.mark.parametrize(
    "mutation",
    [
        lambda spark, st: None,  # the insert that built the store
        lambda spark, st: st.apply_delta(
            spark.createDataFrame(ROWS[:1], QUAD_SCHEMA),
            spark.createDataFrame(
                [("urn:g:a", "urn:s:3", "iri", "urn:p:x", "v3", "literal", None, None)],
                QUAD_SCHEMA,
            ),
            target_graphs=["urn:g:a"],
        ),
        lambda spark, st: st.copy_graph("urn:g:a", "urn:g:c"),
        lambda spark, st: st.move_graph("urn:g:a", "urn:g:b"),
        lambda spark, st: st.optimize(),
    ],
    ids=["insert", "apply_delta", "copy_graph", "move_graph", "optimize"],
)
def test_every_store_file_is_zstd_parquet(spark, tmp_path, mutation):
    """Whatever wrote it, every parquet file in the store has only ZSTD
    column chunks (read from the footer)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "q")
    store = GraphStore(spark, path)
    store.insert_data(ROWS)
    mutation(spark, store)
    codecs = set()
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                meta = pq.ParquetFile(os.path.join(root, name)).metadata
                assert meta.num_row_groups >= 1
                codecs |= {
                    meta.row_group(i).column(j).compression
                    for i in range(meta.num_row_groups)
                    for j in range(meta.num_columns)
                }
    assert codecs == {"ZSTD"}


def test_optimize_runs_one_compaction_whatever_the_graph_count(
    spark, tmp_path, count_jobs
):
    """All graphs are compacted by one rewrite: a 3-graph store costs no
    more Spark jobs than a 1-graph store."""
    one = _subject_store(spark, str(tmp_path / "one"), {"urn:g:a": 300})
    three = _subject_store(
        spark,
        str(tmp_path / "three"),
        {"urn:g:a": 300, "urn:g:b": 300, "urn:g:c": 300},
    )
    assert len(count_jobs(three.optimize)) <= len(count_jobs(one.optimize))
    assert three.quads().count() == 900


def test_parquet_insert_data_runs_one_job_with_set_semantics(
    spark, tmp_path, count_jobs
):
    """INSERT DATA drops the repeats of its constant rows without a
    shuffle, and into a graph that is not stored runs no anti-join: one
    write job. Into a stored graph, quads already there are not added
    again."""
    store = GraphStore(spark, str(tmp_path / "q"))
    store.insert_data(ROWS[:1])
    assert len(count_jobs(lambda: store.insert_data([ROWS[2], ROWS[2]]))) == 1
    store.insert_data([ROWS[0], ROWS[1], ROWS[1]])
    got = store.quads().select(*QUAD_COLUMNS).collect()
    assert sorted(map(tuple, got)) == sorted(ROWS)


def test_bucketed_table_star_join_has_no_shuffle(spark, tmp_path):
    """as_bucketed_table co-locates by subject: a star self-join compiles
    to SortMergeJoin with NO shuffle exchange (the SURVEY §4.3 claim)."""
    import pyspark.sql.functions as F

    store = GraphStore(spark, str(tmp_path / "q"))
    rows = []
    for i in range(50):
        rows.append(("urn:g:a", f"urn:s:{i}", "iri", "urn:p:name", f"n{i}", "literal", None, None))
        rows.append(("urn:g:a", f"urn:s:{i}", "iri", "urn:p:kind", "thing", "literal", None, None))
    store.insert_data(rows)
    tbl = store.as_bucketed_table("quads_b_test", buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = tbl.where(F.col("p") == "urn:p:kind").select(F.col("s").alias("e"))
        b = tbl.where(F.col("p") == "urn:p:name").select(
            F.col("s").alias("e"), F.col("o_value").alias("name")
        )
        j = a.join(b, "e")
        assert j.count() == 50
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS quads_b_test")


def test_inmemory_clear_consolidates_cache(spark):
    from knowledge_graph_etl_spark.store import GraphStore

    s = GraphStore(spark)  # in-memory
    rows1 = [("urn:g:a", "s1", "iri", "p", "v1", "literal", None, None)]
    rows2 = [("urn:g:b", "s2", "iri", "p", "v2", "literal", None, None)]
    s.insert_data(rows1)
    s.insert_data(rows2)
    assert len(s._mem_pieces) == 2
    s.clear("urn:g:a")
    # consolidated to one cached piece; cleared graph gone, other intact
    assert len(s._mem_pieces) == 1
    got = {(r["g"], r["s"]) for r in s.quads().collect()}
    assert got == {("urn:g:b", "s2")}
    s.close()
    assert s._mem_pieces == [] and s.quads().count() == 0


def _df(spark, rows):
    return spark.createDataFrame(rows, QUAD_SCHEMA)


MEM_ROWS = [
    ("urn:g:a", "s1", "iri", "p", "v1", "literal", None, None),
    ("urn:g:b", "s2", "iri", "p", "v2", "literal", None, None),
]
# every in-memory rewrite → (call, quads afterwards as (g, s))
MEM_REWRITES = {
    "delete": (
        lambda spark, s: s.delete(_df(spark, [MEM_ROWS[0]])),
        {("urn:g:b", "s2")},
    ),
    "copy_graph": (
        lambda spark, s: s.copy_graph("urn:g:a", "urn:g:b"),
        {("urn:g:a", "s1"), ("urn:g:b", "s1")},
    ),
    "move_graph": (
        lambda spark, s: s.move_graph("urn:g:a", "urn:g:b"),
        {("urn:g:b", "s1")},
    ),
    "apply_delta": (
        lambda spark, s: s.apply_delta(
            _df(spark, [MEM_ROWS[1]]),
            _df(spark, [("urn:g:b", "s3", "iri", "p", "v3", "literal", None, None)]),
            target_graphs=["urn:g:b"],
        ),
        {("urn:g:a", "s1"), ("urn:g:b", "s3")},
    ),
}


@pytest.mark.parametrize("op", MEM_REWRITES)
def test_inmemory_rewrites_leave_one_cached_piece(spark, op):
    """Like CLEAR (test above), every other graph rewrite of an
    in-memory store replaces the cached pieces with one cached piece and
    releases the old ones."""
    call, after = MEM_REWRITES[op]
    s = GraphStore(spark)
    s.insert_data(MEM_ROWS[:1])
    s.insert_data(MEM_ROWS[1:])
    old = list(s._mem_pieces)
    assert len(old) == 2
    call(spark, s)
    (piece,) = s._mem_pieces
    assert piece.is_cached and not any(p.is_cached for p in old)
    assert {(r["g"], r["s"]) for r in s.quads().collect()} == after
    s.close()


def test_mem_and_parquet_stores_end_equal(spark, tmp_path):
    """One mutation sequence leaves both backends with the same quads."""
    a4 = ("urn:g:a", "urn:s:4", "iri", "urn:p:x", "v4", "literal", None, None)
    c3 = ("urn:g:c", "urn:s:3", "iri", "urn:p:y", "v3", "literal", None, None)
    d5 = ("urn:g:d", "urn:s:5", "iri", "urn:p:x", "v5", "literal", None, None)

    def run(store):
        store.insert_data(ROWS + [c3])
        store.delete(_df(spark, ROWS[:1]))
        # c3's delete is outside the targets: discarded
        store.apply_delta(
            _df(spark, [ROWS[1], c3]), _df(spark, [a4, d5]), ["urn:g:a", "urn:g:d"]
        )
        store.clear("urn:g:b")
        store.copy_graph("urn:g:a", "urn:g:b")
        store.move_graph("urn:g:d", "urn:g:a")
        return sorted(map(tuple, store.quads().select(*QUAD_COLUMNS).collect()))

    mem = run(GraphStore(spark))
    assert mem == run(GraphStore(spark, str(tmp_path / "q")))
    assert mem == sorted([("urn:g:a", *d5[1:]), ("urn:g:b", *a4[1:]), c3])


# --------------------------------------------------------------------------
# crash-safe optimize: every crash window recovers to a complete graph
# --------------------------------------------------------------------------


def _crashy_store(spark, tmp_path, crash_in, crash):
    """GraphStore whose compaction dies at a chosen protocol step."""
    path = str(tmp_path / "q")
    store = GraphStore(spark, path)
    store.insert_data(ROWS)
    before = {tuple(r) for r in store.quads().collect()}

    if crash_in == "before_commit":
        # die while writing the compacted generation (no marker yet):
        # simulate by leaving an uncommitted tmp dir behind
        import os

        junk = os.path.join(path, "_compact_tmp", "urn%3Ag%3Aa")
        os.makedirs(junk)
        with open(os.path.join(junk, "part-junk.parquet"), "w") as f:
            f.write("half-written garbage")
    elif crash_in == "after_commit":
        # die between the COMMIT marker and the swap
        with crash("_complete_swap"):
            store.optimize()
    elif crash_in == "after_swap":
        # die between the rename and marker removal: marker with no tmp dir
        import os

        tmp_root = os.path.join(path, "_compact_tmp")
        os.makedirs(tmp_root, exist_ok=True)
        with open(os.path.join(tmp_root, "urn%3Ag%3Ab.COMMIT"), "w"):
            pass
    return path, before


@pytest.mark.parametrize("crash_in", ["before_commit", "after_commit", "after_swap"])
def test_optimize_crash_recovery(spark, tmp_path, crash_in, crash):
    """Kill the compaction at each protocol step; a fresh GraphStore over
    the same path must read the COMPLETE original graph (the r02 code left
    the graph empty if the process died between drop and re-append)."""
    path, before = _crashy_store(spark, tmp_path, crash_in, crash)
    reopened = GraphStore(spark, path)
    assert {tuple(r) for r in reopened.quads().collect()} == before
    # and a subsequent optimize on the recovered store succeeds cleanly
    reopened.optimize()
    assert {tuple(r) for r in reopened.quads().collect()} == before


def test_optimize_recovery_is_idempotent(spark, tmp_path, crash):
    """Recovery replayed twice (crash during recovery itself) is safe."""
    path, before = _crashy_store(spark, tmp_path, "after_commit", crash)
    GraphStore(spark, path)
    reopened = GraphStore(spark, path)
    assert {tuple(r) for r in reopened.quads().collect()} == before


def test_register_view_sql_bridge(spark):
    store = GraphStore(spark)
    store.insert_data(
        [("urn:g:v", "urn:s:1", "iri", "urn:p:x", "hello", "literal", None, None)]
    )
    store.register_view("quads_v")
    got = spark.sql(
        "SELECT o_value FROM quads_v WHERE g = 'urn:g:v' AND p = 'urn:p:x'"
    ).collect()
    assert [r["o_value"] for r in got] == ["hello"]
