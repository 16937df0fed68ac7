"""Quad store: one columnar table of RDF quads partitioned by named graph.

Replaces the reference's external Stardog endpoint (sparql_update.py:108-133)
with a Parquet-backed table partitioned by ``g`` — graph DDL becomes
partition-level operations and SPARQL dataset selection (``USING``/``WITH``)
becomes static partition pruning (SURVEY.md §4.2).

Set semantics are a hard correctness requirement (SURVEY.md §1.3): a triple
store deduplicates, so ``insert`` drops duplicates within the batch AND
against the already-stored target graphs via a left-anti join that only scans
the affected partitions (a parquet store skips the join when none of them is
stored).

Scale posture: partition by ``g`` (few, large graphs → each graph is a
directory of many files); only ``insert`` appends files. Every mutation that
replaces graphs — delete, apply_delta, CLEAR/DROP, COPY/MOVE and
``optimize``'s compaction — goes through one copy-on-write commit
(:meth:`GraphStore._commit_generation`), so a crash leaves each graph at its
old or its new generation. Every public mutation and read first finishes
or rolls back a commit left pending (by a crash, or by an error earlier in
this process), before it lists a file or plans a read. No driver-side collects,
except one: ``delete`` without ``target_graphs`` collects the batch's
distinct graphs.

One backend: a store always has a directory. ``GraphStore(spark)``
without a path makes its own under the system temp directory and runs
the same writes, commit protocol and recovery as a caller's path;
:meth:`GraphStore.close` or normal interpreter exit removes it.

On-disk format: every file the store writes is zstd-compressed parquet
(:data:`PARQUET_CODEC`, set per write, so a session's codec conf changes
nothing here), and every file ``optimize`` writes holds its rows in
whole-quad (``QUAD_COLUMNS``) order. ``optimize`` sizes each graph's
files from the parquet bytes the graph has stored (read from the
directory listing): one file per :data:`MAX_FILE_BYTES`, and, up to
the session's scan parallelism, one per :data:`MIN_FILE_BYTES`, so a
graph below ``MIN_FILE_BYTES`` is one file whatever the store's size.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .terms import QUAD_COLUMNS, QUAD_SCHEMA

# Spark writes Hive-style escaped partition directories (see Spark's
# ExternalCatalogUtils.escapePathName / Hive FileUtils): ONLY this char set
# is %XX-escaped (uppercase hex) — notably space, '+', ',', '(', ')' and '~'
# are NOT escaped, so urllib quote/unquote would mismatch the on-disk names.
_PART_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^\x7f') | frozenset(
    chr(c) for c in range(1, 32)
)


#: the codec of every parquet file the store writes, at its default level
#: (levels 1, 3 and 9 stored the compacted benchmark store within 4% of
#: each other; Spark's default snappy took over 1.5x the bytes)
PARQUET_CODEC = "zstd"

#: ``optimize`` gives a graph one file per this many stored bytes
MAX_FILE_BYTES = 128 * 1024 * 1024
#: ... and, up to the session's scan parallelism, one per this many: a
#: graph's scans keep several tasks, and a small graph is not cut into
#: files whose parquet footers (about 1.6 KB each) outweigh their rows
MIN_FILE_BYTES = 64 * 1024

# a rewrite's batch directory under _compact_tmp/: '=' is always
# escaped in a graph's tmp name, so the two can never collide
_BATCH_PREFIX = "delta="


def _escape_partition_value(value: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _PART_ESCAPE_CHARS else ch for ch in value
    )


def _quad_eq_cond(left: str, right: str):
    """Null-safe term equality across all 8 quad columns between two
    aliased sides (o_datatype/o_lang are often NULL)."""
    cond = None
    for c in QUAD_COLUMNS:
        eq = F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}"))
        cond = eq if cond is None else (cond & eq)
    return cond


def _recovered(method):
    """A public mutation or read of the store first finishes or rolls
    back the commits left pending in it
    (:meth:`GraphStore._recover_compactions`), so it neither lists files
    that the recovery is about to replace, nor appends into or reads a
    generation that a COMMIT marker has superseded."""

    @functools.wraps(method)
    def run(self, *args, **kwargs):
        self._recover_compactions()
        return method(self, *args, **kwargs)

    return run


def _unescape_partition_value(name: str) -> str:
    out, i = [], 0
    while i < len(name):
        if name[i] == "%" and i + 3 <= len(name):
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(name[i])
        i += 1
    return "".join(out)


#: directories that path-less stores made and have not yet removed
_OWNED_DIRS: set[str] = set()


@atexit.register
def _remove_owned_dirs() -> None:
    """Remove every path-less store's directory at interpreter exit. Not
    on garbage collection: a lazy DataFrame a store returned still reads
    the files after the store object is gone."""
    while _OWNED_DIRS:
        shutil.rmtree(_OWNED_DIRS.pop(), ignore_errors=True)


class GraphStore:
    """Parquet-backed quad store in the directory ``path``. With
    ``path=None`` the store makes its own temp directory, which
    :meth:`close` and normal interpreter exit remove."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self._owned = path is None
        if self._owned:
            path = tempfile.mkdtemp(prefix="graphstore_")
            _OWNED_DIRS.add(path)
        self.path = path
        os.makedirs(path, exist_ok=True)
        # held by recovery, and by a rewrite from its batch write to its
        # last commit: no thread recovers in between
        self._lock = threading.RLock()
        # finish (or roll back) any compaction a previous process died in
        self._recover_compactions()

    # -- read ------------------------------------------------------------

    @_recovered
    def quads(self) -> DataFrame:
        """All quads. Filters on ``g`` prune partitions before the scan."""
        if not self._has_data():
            return self.spark.createDataFrame([], QUAD_SCHEMA)
        return (
            self.spark.read.schema(QUAD_SCHEMA)
            .option("basePath", self.path)
            .parquet(self.path)
        )

    def graph(self, g: str) -> DataFrame:
        return self.quads().where(F.col("g") == g)

    def dataset(self, graphs: list[str]) -> DataFrame:
        """SPARQL ``USING <g>...`` — restrict matching to listed graphs
        (reference sparql/tl_companies_mapping_org.sparql:34-35)."""
        return self.quads().where(F.col("g").isin(graphs))

    # -- write -----------------------------------------------------------

    @_recovered
    def insert(
        self,
        new_quads: DataFrame,
        dedup_against_store: bool = True,
        target_graphs: list[str] | None = None,
        batch_distinct: bool = False,
    ) -> None:
        """INSERT with triple-store set semantics (SURVEY.md §1.3; the
        reference's per-record ``INSERT DATA`` round-trips at
        load_knowledge_graph.py:152-154 collapse into one bulk append).

        ``target_graphs``: the graphs the batch writes into, when the caller
        knows them statically (WITH/GRAPH targets are constants in every
        reference query). The set-dedup anti-join then scans ONLY those
        partitions — without it the join key ``g`` is only bound at runtime,
        so the existing-side scan covers the whole store (at 100 TB that is
        the difference between reading one graph and reading all of them).
        A parquet store whose listing holds none of ``target_graphs``
        skips the anti-join: it could remove nothing.

        ``batch_distinct``: caller guarantees the batch already has no
        duplicate quads (true for ``quadify``-style staging loads — one
        quad per (row, non-null column) of a keyed table), skipping the
        in-batch ``dropDuplicates`` shuffle. Set semantics are unchanged:
        the guarantee is the caller's, exactly like the reference trusting
        its per-record INSERT DATA batches to be duplicate-free."""
        batch = self._prepare_batch(
            new_quads, dedup_against_store, target_graphs, batch_distinct
        )
        batch.write.mode("append").partitionBy("g").parquet(
            self.path, compression=PARQUET_CODEC
        )

    def _prepare_batch(
        self,
        new_quads: DataFrame,
        dedup_against_store: bool = True,
        target_graphs: list[str] | None = None,
        batch_distinct: bool = False,
    ) -> DataFrame:
        """The insert batch BEFORE the write: in-batch dedup + the
        set-semantics anti-join against the existing store. Split from
        :meth:`insert` so the write path's scale promise — with
        ``target_graphs`` the existing-side scan covers ONLY those
        graph partitions — is pinned by physical-plan evidence
        (tests/test_plan_evidence.py) rather than docstring alone. Into a
        store that holds none of ``target_graphs`` the batch plans no
        join (read from the directory listing, no Spark job)."""
        batch = new_quads.select(*QUAD_COLUMNS)
        if not batch_distinct:
            batch = batch.dropDuplicates(QUAD_COLUMNS)
        if target_graphs is not None:
            # an anti-join against graphs that are not stored removes
            # nothing; the directory listing says which are, with no job
            stored = self.list_graphs()
            dedup_against_store &= any(g in stored for g in target_graphs)
        if dedup_against_store:
            existing = self.quads()
            if target_graphs is not None:
                existing = existing.where(F.col("g").isin(list(target_graphs)))
            existing = existing.alias("ex")
            batch = batch.alias("nw")
            # null-safe equality on every column (o_datatype/o_lang are
            # often NULL); join key g is constant per partition → the
            # anti-join prunes the existing-side scan to the target graphs
            batch = batch.join(
                existing, on=_quad_eq_cond("nw", "ex"), how="left_anti"
            )
        return batch

    @_recovered
    def insert_data(self, rows: list[tuple], graph: str | None = None) -> None:
        """SPARQL ``INSERT DATA { GRAPH <g> { ...constant triples... } }``
        (reference load_knowledge_graph.py:520-532, sparql_update.py:108-122).
        ``rows`` are (s, s_type, p, o_value, o_type, o_datatype, o_lang)
        tuples, or full 8-tuples with leading g when graph is None."""
        if graph is not None:
            rows = [(graph, *r) for r in rows]
        # the rows are constants: drop their duplicates here, not in a shuffle
        rows = list(dict.fromkeys(map(tuple, rows)))
        self.insert(
            self.spark.createDataFrame(rows, QUAD_SCHEMA),
            target_graphs=sorted({r[0] for r in rows}),
            batch_distinct=True,
        )

    @_recovered
    def delete(
        self,
        del_quads: DataFrame,
        target_graphs: list[str] | None = None,
    ) -> None:
        """DELETE with set semantics: remove every stored quad term-equal
        (null-safe, all 8 columns) to a quad in the batch — the write half
        of SPARQL ``DELETE``/``DELETE WHERE`` (SURVEY.md §2 op family 11-13
        gains its missing verb; the reference workload is insert-only but
        any update user hits DELETE right after INSERT).

        :meth:`apply_delta` with no inserts. ``target_graphs`` bounds the
        rewrite exactly like ``insert``'s anti-join pruning, and rows of
        any other graph are discarded; ``None`` targets the graphs the
        batch names. A graph left with no quads loses its partition."""
        batch = del_quads.select(*QUAD_COLUMNS)
        if target_graphs is None:
            target_graphs = [r["g"] for r in batch.select("g").distinct().collect()]
        self.apply_delta(
            batch, self.spark.createDataFrame([], QUAD_SCHEMA), target_graphs
        )

    @_recovered
    def apply_delta(
        self,
        del_quads: DataFrame,
        ins_quads: DataFrame,
        target_graphs: list[str],
    ) -> None:
        """Fused DELETE + INSERT against the same graphs: the final
        generation of every target graph is written directly,

            final = (stored ∖ deletes) ∪ (inserts ∖ stored)

        which equals delete-then-insert whenever ``deletes`` and
        ``inserts`` are disjoint (the caller's contract here — the
        reference-counted incremental delete guarantees it: deletes =
        stale quads with NO support in the new ledger, inserts ⊆ the new
        ledger). ``ins_quads`` must also be duplicate-free (the caller
        dedups), like ``batch_distinct``.

        Only rows whose ``g`` is in ``target_graphs`` count: delete and
        insert rows of any other graph are discarded, and every other
        graph is left untouched. The final generations are written and
        committed by :meth:`_rewrite`."""
        targets = list(dict.fromkeys(target_graphs))
        if not targets:
            return
        in_targets = F.col("g").isin(targets)
        dels = del_quads.select(*QUAD_COLUMNS).where(in_targets)
        ins = ins_quads.select(*QUAD_COLUMNS).where(in_targets)
        current = self.dataset(targets)
        remaining = current.alias("ex").join(
            dels.alias("dl"), on=_quad_eq_cond("ex", "dl"), how="left_anti"
        )
        # inserts dedup against the PRE-delete store: disjointness of
        # deletes and inserts makes that identical to post-delete. The
        # stored graphs are scanned twice (here as the broadcast side) so
        # that `remaining` streams them in file order: one anti-join
        # against dels ∪ ins planned a sort-merge join instead, whose
        # shuffle undid optimize's subject clustering (+16% bytes/quad)
        new_rows = ins.alias("nw").join(
            current.alias("ex"), on=_quad_eq_cond("nw", "ex"), how="left_anti"
        )
        self._rewrite(targets, remaining.unionByName(new_rows))

    def _rewrite(self, targets: list[str], rows: DataFrame | None) -> None:
        """Each graph in ``targets`` becomes exactly its rows in ``rows``
        (``None``: no rows; ``rows`` holds no other graph). Every mutation
        that replaces graphs is a caller of this one method: ``delete``
        and ``apply_delta``, CLEAR/DROP, COPY/MOVE and ``optimize``.

        ``rows`` is written in ONE ``partitionBy("g")`` job into
        a batch directory ``_compact_tmp/delta=<uuid>``. Every read of
        the store that ``rows`` makes finishes inside that write (with
        the sampling and shuffle jobs it starts), before any graph is
        swapped, so nothing needs pinning. Each target then
        gets its new generation through :meth:`_commit_generation`, in
        ``targets`` order; a stored target with no rows loses its
        partition and an absent one is left alone. ``rows=None`` runs no
        Spark job. Its public callers have already recovered pending
        commits (:func:`_recovered`); a batch directory left by a crash
        is deleted then like any uncommitted tmp.

        Recovery never runs from the batch write to the last commit: the
        rewrite holds the store's lock, so another thread's read waits
        for it, and the rewrite itself reads nothing in between."""
        stored = set(self.list_graphs())
        batch_dir = os.path.join(
            self.path, "_compact_tmp", _BATCH_PREFIX + uuid.uuid4().hex
        )
        written = {}
        with self._lock:
            if rows is not None:
                rows.write.partitionBy("g").parquet(
                    batch_dir, compression=PARQUET_CODEC
                )
                written = {
                    _unescape_partition_value(name[2:]): os.path.join(batch_dir, name)
                    for name in os.listdir(batch_dir)
                    if name.startswith("g=")
                }
            for gname in targets:
                if gname in written or gname in stored:
                    self._commit_generation(gname, written.get(gname))
            shutil.rmtree(batch_dir, ignore_errors=True)

    def _commit_generation(self, gname: str, src: str | None) -> None:
        """Make the directory ``src`` graph ``gname``'s generation;
        ``src=None`` commits an empty generation, which removes the
        partition. The one commit protocol of the store:

        1. move ``src`` to ``_compact_tmp/<escaped g>`` (``_``-prefixed,
           so invisible to parquet readers);
        2. create the marker ``<escaped g>.COMMIT`` — from this instant
           the new generation is authoritative;
        3. swap (:meth:`_complete_swap`): remove the live partition,
           rename tmp into place (readers never see both generations),
           remove the marker.

        :meth:`_recover_compactions` closes every crash window on the
        next open: before step 2 the live partition is untouched and the
        tmp (or batch directory) is deleted; after it the swap is
        replayed. Each graph therefore ends at its old or its new
        generation, never a mix; graphs committed before a crash keep
        their new one."""
        tmp_g = os.path.join(
            self.path, "_compact_tmp", _escape_partition_value(gname)
        )
        if src is None:
            os.makedirs(tmp_g)
        else:
            os.rename(src, tmp_g)
        with open(tmp_g + ".COMMIT", "x"):
            pass
        self._complete_swap(gname)

    @_recovered
    def clear(self, g: str) -> None:
        """``CLEAR SILENT GRAPH <g>`` (reference load_knowledge_graph.py:341):
        empty the graph, no error if absent."""
        self._rewrite([g], None)

    @_recovered
    def drop(self, g: str) -> None:
        """``DROP SILENT GRAPH <g>`` (reference load_knowledge_graph.py:623-665).
        Same storage action as CLEAR in a partitioned-table model; both verbs
        kept for API fidelity (SURVEY.md §2 ops 11-12)."""
        self._rewrite([g], None)

    def _relabeled(self, src: str, dst: str) -> DataFrame:
        """src graph's quads relabeled to dst (the ADD/MOVE/COPY payload)."""
        cols = [c for c in QUAD_COLUMNS if c != "g"]
        return self.graph(src).select(F.lit(dst).alias("g"), *cols)

    @_recovered
    def add_graph(self, src: str, dst: str) -> None:
        """``ADD GRAPH <src> TO GRAPH <dst>`` (SPARQL 1.1 Update §3.2.7):
        set-union src's quads into dst; src unchanged. One partition scan +
        the target-pruned set-dedup anti-join — the same write path as any
        insert."""
        if src == dst:
            return
        self.insert(self._relabeled(src, dst), target_graphs=[dst], batch_distinct=True)

    @_recovered
    def copy_graph(self, src: str, dst: str) -> None:
        """``COPY GRAPH <src> TO GRAPH <dst>`` (§3.2.5): dst becomes an
        exact copy of src (existing dst data removed); src unchanged."""
        if src == dst:
            return
        self._rewrite([dst], self._relabeled(src, dst))

    @_recovered
    def move_graph(self, src: str, dst: str) -> None:
        """``MOVE GRAPH <src> TO GRAPH <dst>`` (§3.2.6): dst becomes src's
        quads and src is dropped, in one rewrite. dst commits before src,
        so a crash never loses a quad. src==dst is a no-op per the spec."""
        if src == dst:
            return
        self._rewrite([dst, src], self._relabeled(src, dst))

    @_recovered
    def optimize(self, g: str | None = None) -> None:
        """Compact the store's files (the reference's post-load
        store-optimize call, load_knowledge_graph.py:669-675): every
        stored graph (only ``g``, when given; an absent ``g`` is a no-op)
        in one rewrite through :meth:`_rewrite`.

        Each graph's file count comes from the parquet bytes it has
        stored (the directory listing, no Spark job) and the session's
        scan parallelism ``P``::

            n = max(ceil(bytes / MAX_FILE_BYTES),
                    min(P, ceil(bytes / MIN_FILE_BYTES)), 1)

        so a graph below :data:`MIN_FILE_BYTES` is one file, and a
        store a thousand times larger gets more files, not larger ones.
        The one-file graphs are hash-partitioned by ``g``, which needs no
        sampling; the others are range-partitioned by ``(g, s)`` into
        their summed ``n`` (one sampling job for all of them, which
        spreads the partitions by rows, so each graph gets about its
        ``n``), and the files of one graph cover disjoint subject ranges
        (SURVEY.md §4.3). Within each file the rows are in whole-quad order
        (``QUAD_COLUMNS``, nulls first; SPO, since ``s_type`` follows
        from ``s``), written as zstd parquet like every store file. Every
        parquet row group then carries tight min/max stats on ``s``, so
        constant-subject patterns and the build side of subject joins
        prune row groups instead of scanning the graph; and the runs of
        equal predicates and objects inside a subject compress better
        than a subject-only sort leaves them."""
        stored = self._stored_bytes()
        graphs = [gname for gname in stored if not g or gname == g]
        if not graphs:
            return
        p = self.spark.sparkContext.defaultParallelism
        files = {
            gname: max(
                -(-stored[gname] // MAX_FILE_BYTES),
                min(p, -(-stored[gname] // MIN_FILE_BYTES)),
                1,
            )
            for gname in graphs
        }
        one = [gname for gname in graphs if files[gname] == 1]
        many = [gname for gname in graphs if files[gname] > 1]
        parts = []
        if one:
            parts.append(self.dataset(one).repartition(len(one), "g"))
        if many:
            n = sum(files[gname] for gname in many)
            parts.append(self.dataset(many).repartitionByRange(n, "g", "s"))
        rows = functools.reduce(DataFrame.union, parts)
        self._rewrite(graphs, rows.sortWithinPartitions(*QUAD_COLUMNS))

    def _stored_bytes(self) -> dict[str, int]:
        """Each stored graph → the bytes of its parquet files, from the
        directory listing, in graph order."""
        out = {}
        for name in os.listdir(self.path):
            if name.startswith("g="):
                d = os.path.join(self.path, name)
                out[_unescape_partition_value(name[2:])] = sum(
                    os.path.getsize(os.path.join(d, f))
                    for f in os.listdir(d)
                    if not f.startswith((".", "_"))
                )
        return dict(sorted(out.items()))

    def _complete_swap(self, gname: str) -> None:
        """Step 3 of the commit protocol (see :meth:`_commit_generation`):
        replace the partition dir with the committed generation; an empty
        generation just removes it. Idempotent — safe to replay."""
        esc = _escape_partition_value(gname)
        tmp_g = os.path.join(self.path, "_compact_tmp", esc)
        # the live partition is found by decoding on-disk names, so an
        # escaping divergence can never leave stale rows to survive a
        # "full refresh" CLEAR (ADVICE r01)
        for name in os.listdir(self.path):
            if name.startswith("g=") and _unescape_partition_value(name[2:]) == gname:
                shutil.rmtree(os.path.join(self.path, name))
        if os.listdir(tmp_g):
            os.rename(tmp_g, os.path.join(self.path, f"g={esc}"))
        else:
            # an empty generation: the graph has no quads left
            os.rmdir(tmp_g)
        os.remove(tmp_g + ".COMMIT")
        # leave _compact_tmp itself; empty dir, invisible to readers

    def _recover_compactions(self) -> None:
        """Finish or roll back commits interrupted by a crash. A marker
        file is the commit point: marker present → the tmp generation is
        authoritative (replay the swap); absent → the old partition is
        authoritative (tmp contents are garbage, discard them)."""
        tmp_root = os.path.join(self.path, "_compact_tmp")
        with self._lock:
            if not os.path.isdir(tmp_root):
                return
            names = set(os.listdir(tmp_root))
            for name in sorted(names):
                if name.endswith(".COMMIT"):
                    esc = name[: -len(".COMMIT")]
                    if esc in names:
                        self._complete_swap(_unescape_partition_value(esc))
                    else:
                        # marker outlived its tmp dir: the swap already
                        # renamed tmp into place and died before removing
                        # the marker
                        os.remove(os.path.join(tmp_root, name))
                elif name + ".COMMIT" not in names:
                    # uncommitted generation or batch directory from a
                    # crashed write — roll back
                    shutil.rmtree(os.path.join(tmp_root, name), ignore_errors=True)

    def register_view(self, name: str = "quads") -> None:
        """Expose the store to Spark SQL as a temp view: after
        ``store.register_view()``, ``spark.sql("SELECT ... FROM quads")``
        queries the quad table directly — the zero-friction bridge from
        the RDF surface to plain SQL analytics (the view is the same lazy
        plan ``quads()`` returns; partition pruning on ``g`` applies to
        SQL exactly as to the DataFrame API)."""
        self.quads().createOrReplaceTempView(name)

    def as_bucketed_table(self, table: str, buckets: int = 32) -> DataFrame:
        """Materialize the store as a Spark-catalog table bucketed AND
        sorted by ``s`` (SURVEY.md §4.3's co-location promise) and return a
        DataFrame over it.

        Every scan of the returned table reports the bucketing to the
        planner, so the N self-joins of a star BGP (join key ``s``) become
        shuffle-FREE sort-merge joins — at 100 TB the dominant cost of the
        mapping workload is exactly these shuffles. Chain joins
        (``o_value`` → ``s``) still shuffle their left side; the right
        (subject) side stays exchange-free. Rebuild after bulk loads —
        this is a materialization for the query phase, not an incremental
        store."""
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        # the catalog may have lost the entry (fresh in-memory catalog)
        # while the managed location survived — remove the orphan, or
        # saveAsTable refuses with LOCATION_ALREADY_EXISTS. Managed
        # locations are <warehouse>[/<db>.db]/<table>.
        warehouse = self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        parts = table.lower().split(".")
        orphan = (
            os.path.join(warehouse, f"{parts[-2]}.db", parts[-1])
            if len(parts) > 1
            else os.path.join(warehouse, parts[-1])
        )
        shutil.rmtree(orphan, ignore_errors=True)
        (
            self.quads()
            .write.mode("overwrite")
            .bucketBy(buckets, "s")
            .sortBy("s")
            .format("parquet")
            .saveAsTable(table)
        )
        return self.spark.table(table)

    @_recovered
    def list_graphs(self) -> list[str]:
        out = [
            _unescape_partition_value(name[2:])
            for name in os.listdir(self.path)
            if name.startswith("g=")
        ]
        return sorted(out)

    # -- internals ---------------------------------------------------------

    def _has_data(self) -> bool:
        return any(n.startswith("g=") for n in os.listdir(self.path))

    def close(self) -> None:
        """Remove the directory a path-less store made (the store is
        unusable afterwards); a caller's path and its data stay."""
        if self._owned:
            _OWNED_DIRS.discard(self.path)
            shutil.rmtree(self.path, ignore_errors=True)
