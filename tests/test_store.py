"""GraphStore: set semantics, CLEAR/DROP, partition layout (SURVEY.md §1.3, §2 ops 11-13)."""

import gc
import os
import subprocess
import sys
import textwrap

import pytest

from knowledge_graph_etl_spark import store as store_mod
from knowledge_graph_etl_spark.store import GraphStore
from knowledge_graph_etl_spark.terms import QUAD_COLUMNS, QUAD_SCHEMA

ROWS = [
    ("urn:g:a", "urn:s:1", "iri", "urn:p:x", "v1", "literal", None, None),
    ("urn:g:a", "urn:s:1", "iri", "urn:p:x", "v2", "literal", None, None),
    ("urn:g:b", "urn:s:2", "iri", "urn:p:y", "v1", "literal", None, None),
]


# one param: the tests keep the ids they had when the store had two backends
@pytest.fixture(params=["parquet"])
def store(spark, tmp_path):
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
    store.insert(
        spark.createDataFrame(rows, QUAD_SCHEMA).repartition(4), batch_distinct=True
    )
    return store


def _parquet_files(store):
    """Each stored graph → the number of parquet files in its partition."""
    out = {}
    for g in store.list_graphs():
        d = os.path.join(store.path, "g=" + store_mod._escape_partition_value(g))
        out[g] = len([f for f in os.listdir(d) if f.endswith(".parquet")])
    return out


def test_optimize_writes_a_graph_below_the_floor_as_one_file(spark, tmp_path):
    """A graph of fewer stored bytes than ``MIN_FILE_BYTES``, inserted as
    several files, is compacted into exactly one file."""
    store = _subject_store(spark, str(tmp_path / "q"), {"urn:g:a": 300, "urn:g:b": 40})
    assert max(store._stored_bytes().values()) < store_mod.MIN_FILE_BYTES
    assert min(_parquet_files(store).values()) > 1
    before = {tuple(r) for r in store.quads().collect()}
    store.optimize()
    assert _parquet_files(store) == {"urn:g:a": 1, "urn:g:b": 1}
    assert {tuple(r) for r in store.quads().collect()} == before


@pytest.mark.parametrize("max_file_kib", [None, 4], ids=["floor", "max_file_bytes"])
def test_optimize_gives_a_larger_graph_more_files(
    spark, tmp_path, monkeypatch, max_file_kib
):
    """File counts follow stored bytes: one file below the floor
    (``MIN_FILE_BYTES``); above it one per ``MIN_FILE_BYTES``, at most
    the scan parallelism ``P``; and one per ``MAX_FILE_BYTES``, more
    than ``P``, once a graph outgrows ``P * MAX_FILE_BYTES``. The byte
    constants are patched down so that small graphs reach each case."""
    kib = 1024
    monkeypatch.setattr(store_mod, "MIN_FILE_BYTES", 4 * kib)
    store = _subject_store(spark, str(tmp_path / "q"), {"urn:g:large": 2000})
    store.insert_data(
        [("urn:g:small", "urn:s:1", "iri", "urn:p:x", "v", "literal", None, None)]
    )
    stored = store._stored_bytes()
    large, p = stored["urn:g:large"], spark.sparkContext.defaultParallelism
    assert stored["urn:g:small"] < 4 * kib
    if max_file_kib:
        monkeypatch.setattr(store_mod, "MAX_FILE_BYTES", max_file_kib * kib)
        want = -(-large // (max_file_kib * kib))
        assert want > p
    else:
        want = p
        assert large > 4 * kib * p
    store.optimize()
    assert _parquet_files(store) == {"urn:g:large": want, "urn:g:small": 1}
    assert store.quads().count() == 2001


def test_optimize_clusters_by_subject(spark, tmp_path, monkeypatch):
    """Subject-clustered compaction (SURVEY.md §4.3): data preserved,
    every rewritten file sorted by ``s``, the files of a multi-file graph
    over disjoint ``s`` ranges, and a graph below the floor
    (``MIN_FILE_BYTES``, patched down to the small graph's stored bytes)
    written as one file. Inside a file the rows are in whole-quad order,
    nulls first as Spark sorts them."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "q")
    store = _subject_store(spark, path, {"urn:g:a": 100})
    store.insert_data(
        [
            ("urn:g:small", f"urn:s:{i:05d}", "iri", "urn:p:x", f"v{i}", "literal", None, None)
            for i in range(3)
        ]
    )
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
    monkeypatch.setattr(
        store_mod, "MIN_FILE_BYTES", store._stored_bytes()["urn:g:small"]
    )
    before = {tuple(r) for r in store.quads().collect()}
    store.optimize()
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
    spark, tmp_path, count_jobs, monkeypatch
):
    """All graphs are compacted by one rewrite: a 3-graph store costs no
    more Spark jobs than a 1-graph store, whether its graphs are one file
    each (hash-partitioned by ``g``: no sampling job) or several (one
    range partitioning: one sampling job for all of them), and a store
    mixing both kinds costs no more than one graph of each kind."""

    def optimize(name, sizes):
        store = _subject_store(spark, str(tmp_path / name), sizes)
        jobs = len(count_jobs(store.optimize))
        assert store.quads().count() == sum(sizes.values())
        return jobs, _parquet_files(store)

    three = {"urn:g:a": 300, "urn:g:b": 300, "urn:g:c": 300}
    one_jobs, files = optimize("one", {"urn:g:a": 300})
    assert files == {"urn:g:a": 1}
    jobs, files = optimize("three", three)
    assert set(files.values()) == {1}
    assert jobs <= one_jobs

    # from here on a 300-subject graph is several files, a 3-subject one
    # is still one
    monkeypatch.setattr(store_mod, "MIN_FILE_BYTES", 2 * 1024)
    one_jobs, files = optimize("one_many", {"urn:g:a": 300})
    assert files["urn:g:a"] > 1
    jobs, files = optimize("three_many", three)
    assert min(files.values()) > 1
    assert jobs <= one_jobs
    one_jobs, files = optimize("mixed_two", {"urn:g:a": 300, "urn:g:x": 3})
    assert files["urn:g:x"] == 1 < files["urn:g:a"]
    jobs, files = optimize(
        "mixed_six", {**three, "urn:g:x": 3, "urn:g:y": 3, "urn:g:z": 3}
    )
    assert min(files[g] for g in three) > 1
    assert [files[g] for g in ("urn:g:x", "urn:g:y", "urn:g:z")] == [1, 1, 1]
    assert jobs <= one_jobs


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


# --------------------------------------------------------------------------
# a path-less store owns a temp directory until close() or interpreter exit
# --------------------------------------------------------------------------


def test_pathless_store_writes_partitions_into_its_own_directory(spark):
    store = GraphStore(spark)
    store.insert_data(ROWS)
    assert sorted(n for n in os.listdir(store.path) if n.startswith("g=")) == [
        "g=urn%3Ag%3Aa",
        "g=urn%3Ag%3Ab",
    ]
    store.close()


def _graph_of_a_dropped_store(spark):
    store = GraphStore(spark)
    store.insert_data(ROWS)
    out = store.graph("urn:g:a")
    del store
    gc.collect()
    return out


def test_frame_outlives_its_pathless_store_object(spark):
    """Nothing removes the directory when the store object is collected:
    a lazy DataFrame it returned still reads the files."""
    out = _graph_of_a_dropped_store(spark)
    gc.collect()
    assert out.count() == 2


def test_close_removes_only_an_owned_directory(spark, tmp_path):
    owned = GraphStore(spark)
    owned.insert_data(ROWS)
    owned.close()
    assert not os.path.exists(owned.path)
    given = GraphStore(spark, str(tmp_path / "q"))
    given.insert_data(ROWS)
    given.close()
    assert GraphStore(spark, given.path).quads().count() == len(ROWS)


def test_pathless_store_directory_is_gone_after_normal_exit():
    """A process that inserts into a path-less store and exits normally
    (without close()) leaves no directory behind."""
    script = textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        from knowledge_graph_etl_spark.store import GraphStore

        spark = (
            SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "512m")
            .getOrCreate()
        )
        store = GraphStore(spark)
        store.insert_data(
            [("urn:g:a", "urn:s:1", "iri", "urn:p:x", "v", "literal", None, None)]
        )
        print(store.path, store.list_graphs())
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    path, graphs = done.stdout.strip().splitlines()[-1].split(" ", 1)
    assert graphs == "['urn:g:a']"
    assert os.path.isabs(path) and not os.path.exists(path)


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
