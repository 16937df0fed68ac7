"""Quad store: one columnar table of RDF quads partitioned by named graph.

Replaces the reference's external Stardog endpoint (sparql_update.py:108-133)
with a Parquet-backed table partitioned by ``g`` — graph DDL becomes
partition-level operations and SPARQL dataset selection (``USING``/``WITH``)
becomes static partition pruning (SURVEY.md §4.2).

Set semantics are a hard correctness requirement (SURVEY.md §1.3): a triple
store deduplicates, so ``insert`` drops duplicates within the batch AND
against the already-stored target graphs via a left-anti join that only scans
the affected partitions.

Scale posture: partition by ``g`` (few, large graphs → each graph is a
directory of many files); inserts append files, never rewrite other graphs;
``optimize`` compacts a graph's files. No driver-side collects anywhere.
"""

from __future__ import annotations

import os
import shutil
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


# apply_delta's batch directory under _compact_tmp/: '=' is always
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


class GraphStore:
    """Parquet-backed quad store. ``path=None`` gives an in-memory store
    (a union of inserted DataFrames) for tests and small pipelines."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        self._mem: DataFrame | None = None
        # cached per-insert batches backing the in-memory union — tracked so
        # clear/drop/close can unpersist them (CacheManager holds JVM-side
        # references; dropping the Python objects frees nothing)
        self._mem_pieces: list[DataFrame] = []
        # per-predicate row counts (the catalog statistic cost-based BGP
        # ordering consumes) — computed lazily, invalidated on mutation
        self._pred_stats: dict[str, int] | None = None
        if path:
            os.makedirs(path, exist_ok=True)
            # finish (or roll back) any compaction a previous process died in
            self._recover_compactions()

    # -- read ------------------------------------------------------------

    def quads(self) -> DataFrame:
        """All quads. Filters on ``g`` prune partitions (parquet) before scan."""
        if self.path:
            if not self._has_data():
                return self.spark.createDataFrame([], QUAD_SCHEMA)
            return (
                self.spark.read.schema(QUAD_SCHEMA)
                .option("basePath", self.path)
                .parquet(self.path)
            )
        if self._mem is None:
            return self.spark.createDataFrame([], QUAD_SCHEMA)
        return self._mem

    def predicate_stats(self, refresh: bool = False) -> dict[str, int]:
        """Per-predicate row counts — the quad-store analog of relational
        table-size statistics (predicates are the 'tables' a pattern
        scans), consumed by the compiler's cost-based BGP join ordering
        (``Engine(stats=True)``). One count-aggregate job; the result is
        bounded by the predicate vocabulary (thousands, not rows) so a
        driver-side dict is the right representation. Cached until the
        next mutation (insert/delete/clear/drop)."""
        if self._pred_stats is None or refresh:
            self._pred_stats = {
                r["p"]: r["c"]
                for r in self.quads()
                .groupBy("p")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            }
        return self._pred_stats

    def graph(self, g: str) -> DataFrame:
        return self.quads().where(F.col("g") == g)

    def dataset(self, graphs: list[str]) -> DataFrame:
        """SPARQL ``USING <g>...`` — restrict matching to listed graphs
        (reference sparql/tl_companies_mapping_org.sparql:34-35)."""
        return self.quads().where(F.col("g").isin(graphs))

    # -- write -----------------------------------------------------------

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

        ``batch_distinct``: caller guarantees the batch already has no
        duplicate quads (true for ``quadify``-style staging loads — one
        quad per (row, non-null column) of a keyed table), skipping the
        in-batch ``dropDuplicates`` shuffle. Set semantics are unchanged:
        the guarantee is the caller's, exactly like the reference trusting
        its per-record INSERT DATA batches to be duplicate-free."""
        self._pred_stats = None
        batch = self._prepare_batch(
            new_quads, dedup_against_store, target_graphs, batch_distinct
        )
        if self.path:
            batch.write.mode("append").partitionBy("g").parquet(self.path)
        else:
            # materialize ONLY the new batch through the cache:
            # InMemoryRelation carries REAL size stats, so downstream
            # pattern-scan joins get sane broadcast decisions instead of
            # defaultSizeInBytes=Long.Max cascading into astronomical join
            # estimates. The store stays a LAZY union of cached pieces —
            # re-caching the whole union per insert would re-materialize
            # the entire store on every one of a pipeline's 30+ inserts
            # (measured 2× on the flagship end-to-end query).
            batch = batch.cache()
            batch.count()
            self._mem_pieces.append(batch)
            cur = self._mem
            self._mem = batch if cur is None else cur.unionByName(batch)
            # an insert-heavy session that never clears would otherwise
            # grow cache entries and union-plan depth without bound;
            # past the threshold, fold the pieces into ONE cached
            # DataFrame (the same shape the drop path leaves behind)
            if len(self._mem_pieces) >= self._MEM_CONSOLIDATE_AT:
                self._consolidate_mem()

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
        (tests/test_plan_evidence.py) rather than docstring alone."""
        batch = new_quads.select(*QUAD_COLUMNS)
        if not batch_distinct:
            batch = batch.dropDuplicates(QUAD_COLUMNS)
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

    def insert_data(self, rows: list[tuple], graph: str | None = None) -> None:
        """SPARQL ``INSERT DATA { GRAPH <g> { ...constant triples... } }``
        (reference load_knowledge_graph.py:520-532, sparql_update.py:108-122).
        ``rows`` are (s, s_type, p, o_value, o_type, o_datatype, o_lang)
        tuples, or full 8-tuples with leading g when graph is None."""
        if graph is not None:
            rows = [(graph, *r) for r in rows]
        self.insert(
            self.spark.createDataFrame(rows, QUAD_SCHEMA),
            target_graphs=sorted({r[0] for r in rows}),
        )

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

        Parquet stores are copy-on-write at partition granularity: the
        affected graphs are rewritten minus the batch by
        :meth:`apply_delta` with no inserts, so a reader never sees a
        half-deleted graph and a crash at any point recovers each graph
        to either its old or its new complete generation.
        ``target_graphs`` bounds the rewrite exactly like ``insert``'s
        anti-join pruning; a graph left with no quads loses its
        partition."""
        self._pred_stats = None
        batch = del_quads.select(*QUAD_COLUMNS)
        if self.path:
            if target_graphs is None:
                target_graphs = [
                    r["g"] for r in batch.select("g").distinct().collect()
                ]
            self.apply_delta(
                batch, self.spark.createDataFrame([], QUAD_SCHEMA), target_graphs
            )
        elif self._mem is not None:
            remaining = self._mem.alias("ex").join(
                batch.alias("dl"), on=_quad_eq_cond("ex", "dl"), how="left_anti"
            )
            # materialize the remainder BEFORE releasing the pieces it reads
            remaining = remaining.cache()
            remaining.count()
            for piece in self._mem_pieces:
                piece.unpersist()
            self._mem_pieces = [remaining]
            self._mem = remaining

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

        Only rows whose ``g`` is in ``target_graphs`` count, in both
        backends: delete and insert rows of any other graph are
        discarded, and every other graph is left untouched.

        Parquet stores build ONE plan over all target graphs and write
        it in ONE ``partitionBy("g")`` job into a batch directory
        ``_compact_tmp/delta=<uuid>``. Every read of the store and of
        both batches finishes inside that job, before any graph is
        swapped, so nothing needs pinning. Each graph's new directory
        then goes through the compaction protocol (tmp → COMMIT → swap,
        see :meth:`optimize`) one graph at a time; a graph with no
        quads left loses its partition. Crash windows, all closed by
        :meth:`_recover_compactions` on the next open:

        * during or after the batch write, before a graph's COMMIT:
          that graph keeps its old generation; the batch directory and
          any uncommitted tmp are deleted;
        * after a graph's COMMIT, before or during its swap: the swap is
          replayed, so the graph ends at its new generation.

        Each graph therefore ends at its old or its new generation,
        never a mix; graphs committed before a crash keep their new one.
        The batch name holds ``=``, which ``_escape_partition_value``
        always escapes, so it can never be a graph's tmp name."""
        self._pred_stats = None
        targets = list(dict.fromkeys(target_graphs))
        if not targets:
            return
        in_targets = F.col("g").isin(targets)
        dels = del_quads.select(*QUAD_COLUMNS).where(in_targets)
        ins = ins_quads.select(*QUAD_COLUMNS).where(in_targets)
        if not self.path:
            # in-memory store: the two-step path is one cached
            # materialization either way
            self.delete(dels)
            self.insert(ins, target_graphs=targets)
            return
        self._recover_compactions()
        stored = set(self.list_graphs())
        current = self.dataset([g for g in targets if g in stored])
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
        batch_dir = os.path.join(
            self.path, "_compact_tmp", _BATCH_PREFIX + uuid.uuid4().hex
        )
        remaining.unionByName(new_rows).write.partitionBy("g").parquet(batch_dir)
        written = {
            _unescape_partition_value(name[2:]): os.path.join(batch_dir, name)
            for name in os.listdir(batch_dir)
            if name.startswith("g=")
        }
        for gname in targets:
            if gname in written or gname in stored:
                self._commit_generation(gname, written.get(gname))
        shutil.rmtree(batch_dir)

    def _commit_generation(self, gname: str, src: str | None) -> None:
        """Make the directory ``src`` graph ``gname``'s generation through
        the compaction protocol; ``src=None`` commits an empty generation,
        which removes the partition."""
        tmp_g = os.path.join(
            self.path, "_compact_tmp", _escape_partition_value(gname)
        )
        if src is None:
            os.mkdir(tmp_g)
        else:
            os.rename(src, tmp_g)
        with open(tmp_g + ".COMMIT", "x"):
            pass
        self._complete_swap(gname)

    _MEM_CONSOLIDATE_AT = 32

    def _consolidate_mem(self) -> None:
        """Fold the per-insert cached pieces into one cached DataFrame.

        Each in-memory insert caches its (deduped) batch separately so the
        store stays a lazy union — cheap per insert, but unbounded in piece
        count. Once the union is this deep, one consolidation pass costs a
        single scan of data that is already columnar-in-memory, and every
        later read replaces a 32-way union with one InMemoryRelation (with
        exact stats, so join-side broadcast decisions stay sane). The new
        cache is materialized BEFORE the pieces it reads are released."""
        merged = self._mem_pieces[0]
        for piece in self._mem_pieces[1:]:
            merged = merged.unionByName(piece)
        merged = merged.cache()
        merged.count()
        for piece in self._mem_pieces:
            piece.unpersist()
        self._mem_pieces = [merged]
        self._mem = merged

    def clear(self, g: str) -> None:
        """``CLEAR SILENT GRAPH <g>`` (reference load_knowledge_graph.py:341):
        empty the graph, no error if absent. Partition-level delete."""
        self._drop_partition(g)

    def drop(self, g: str) -> None:
        """``DROP SILENT GRAPH <g>`` (reference load_knowledge_graph.py:623-665).
        Same storage action as CLEAR in a partitioned-table model; both verbs
        kept for API fidelity (SURVEY.md §2 ops 11-12)."""
        self._drop_partition(g)

    def _relabeled(self, src: str, dst: str) -> DataFrame:
        """src graph's quads relabeled to dst (the ADD/MOVE/COPY payload)."""
        cols = [c for c in QUAD_COLUMNS if c != "g"]
        return self.graph(src).select(F.lit(dst).alias("g"), *cols)

    def add_graph(self, src: str, dst: str) -> None:
        """``ADD GRAPH <src> TO GRAPH <dst>`` (SPARQL 1.1 Update §3.2.7):
        set-union src's quads into dst; src unchanged. One partition scan +
        the target-pruned set-dedup anti-join — the same write path as any
        insert."""
        if src == dst:
            return
        self.insert(self._relabeled(src, dst), target_graphs=[dst], batch_distinct=True)

    def copy_graph(self, src: str, dst: str) -> None:
        """``COPY GRAPH <src> TO GRAPH <dst>`` (§3.2.5): dst becomes an
        exact copy of src (existing dst data removed first). The batch is
        checkpointed BEFORE dst is cleared so a src==subset-of-dst read
        never races the partition delete; src itself is a different
        partition and is never touched."""
        if src == dst:
            return
        batch = self._relabeled(src, dst)
        if not self._is_mem:
            # parquet path: materialize the src read plan only as a plan —
            # src partition files are untouched by clearing dst, so the
            # lazy read stays valid; no checkpoint needed
            self.clear(dst)
            self.insert(batch, dedup_against_store=False, batch_distinct=True)
            return
        batch = batch.localCheckpoint(eager=True)
        self.clear(dst)
        self.insert(batch, dedup_against_store=False, batch_distinct=True)

    def move_graph(self, src: str, dst: str) -> None:
        """``MOVE GRAPH <src> TO GRAPH <dst>`` (§3.2.6): COPY then DROP the
        source — safe in both backends because copy_graph's insert is an
        eager action (parquet write / cache materialization), so dropping
        src afterwards cannot unread the copied data. src==dst is a no-op
        per the spec."""
        if src == dst:
            return
        self.copy_graph(src, dst)
        self.drop(src)

    @property
    def _is_mem(self) -> bool:
        return not self.path

    def checkpoint_mem(self) -> None:
        """Sever an in-memory store's plan tree: replace the lazy union of
        cached insert pieces with ONE eagerly ``localCheckpoint``-ed
        DataFrame, so every later pattern scan is a flat ``LogicalRDD``
        leaf instead of re-carrying the full load lineage.

        Why this exists: Catalyst ANALYSIS cost of a BGP self-join is
        proportional to (join count × leaf subtree size). A scratch store
        built from a handful of ``load_json`` inserts has a leaf subtree
        of 5+ unioned dedup anti-join trees, and compiling the reference's
        16-pattern mapping WHEREs against it measured 17-43 s of pure
        driver-side analysis PER UPDATE (r10 profile) — 3-10× the actual
        execution. One checkpoint after loading collapses that to
        sub-second. No-op for file-backed stores (parquet leaves are
        already flat) and empty stores. The caller owns the released
        blocks like any other checkpoint (harnesses sweep
        getPersistentRDDs)."""
        if not self._is_mem or self._mem is None:
            return
        sealed = self._mem.localCheckpoint(eager=True)
        for piece in self._mem_pieces:
            piece.unpersist()
        self._mem = sealed
        self._mem_pieces = [sealed]

    def optimize(
        self,
        g: str | None = None,
        target_files: int = 8,
        cluster_by: str | None = "s",
    ) -> None:
        """Compact a graph's files (the reference's post-load store-optimize
        call, load_knowledge_graph.py:669-675).

        ``cluster_by="s"`` (default, SURVEY.md §4.3) range-partitions and
        sorts each rewritten graph by subject, so every parquet row group
        carries tight min/max stats on ``s`` — constant-subject patterns
        and the build side of subject joins then prune row groups instead
        of scanning the graph. (At 100 TB this is what makes a 7-way BGP
        self-join read a sliver of the store per pattern.)"""
        if not self.path:
            return
        self._recover_compactions()
        graphs = [g] if g else self.list_graphs()
        for gname in graphs:
            df = self.graph(gname)
            if cluster_by:
                df = df.repartitionByRange(target_files, F.col(cluster_by))
                df = df.sortWithinPartitions(cluster_by)
            else:
                df = df.repartition(target_files)
            # Crash-safe protocol (write-ahead commit point; every crash
            # window is covered by _recover_compactions on the next open):
            #   1. write the compacted generation into _compact_tmp/<esc_g>
            #      (a _-prefixed dir — invisible to parquet readers; the g
            #      column is dropped because after the swap the partition
            #      directory name carries it, as in every partitionBy write)
            #   2. atomically create the COMMIT marker — from this instant
            #      the compacted generation is authoritative
            #   3. swap: drop the old partition dir, rename tmp into place
            #      (one atomic rename — readers never see both generations,
            #      so set semantics are preserved without read-side dedup),
            #      remove the marker.
            # Crash before 2 → old partition untouched, tmp is garbage
            # (rolled back on recovery). Crash after 2 → recovery replays
            # step 3. The old code's drop-then-append window (graph empty,
            # data only in tmp) no longer exists.
            esc = _escape_partition_value(gname)
            tmp_g = os.path.join(self.path, "_compact_tmp", esc)
            marker = os.path.join(self.path, "_compact_tmp", esc + ".COMMIT")
            df.drop("g").write.mode("overwrite").parquet(tmp_g)
            with open(marker, "x"):
                pass
            self._complete_swap(gname)

    def _complete_swap(self, gname: str) -> None:
        """Step 3 of the compaction protocol: replace the partition dir with
        the committed compacted generation. Idempotent — safe to replay."""
        esc = _escape_partition_value(gname)
        tmp_g = os.path.join(self.path, "_compact_tmp", esc)
        marker = os.path.join(self.path, "_compact_tmp", esc + ".COMMIT")
        self._drop_partition(gname)
        if os.listdir(tmp_g):
            os.rename(tmp_g, os.path.join(self.path, f"g={esc}"))
        else:
            # an empty generation: the graph has no quads left
            os.rmdir(tmp_g)
        os.remove(marker)
        # leave _compact_tmp itself; empty dir, invisible to readers

    def _recover_compactions(self) -> None:
        """Finish or roll back compactions interrupted by a crash. A marker
        file is the commit point: marker present → the tmp generation is
        authoritative (replay the swap); absent → the old partition is
        authoritative (tmp contents are garbage, discard them)."""
        tmp_root = os.path.join(self.path, "_compact_tmp")
        if not os.path.isdir(tmp_root):
            return
        names = set(os.listdir(tmp_root))
        for name in sorted(names):
            if name.endswith(".COMMIT"):
                esc = name[: -len(".COMMIT")]
                if esc in names:
                    self._complete_swap(_unescape_partition_value(esc))
                else:
                    # marker outlived its tmp dir: the swap already renamed
                    # tmp into place and died before removing the marker
                    os.remove(os.path.join(tmp_root, name))
            elif name + ".COMMIT" not in names:
                # uncommitted generation from a crashed write, or an
                # apply_delta batch directory — roll back
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

    def list_graphs(self) -> list[str]:
        if self.path:
            out = [
                _unescape_partition_value(name[2:])
                for name in os.listdir(self.path)
                if name.startswith("g=")
            ]
            return sorted(out)
        if self._mem is None:
            return []
        return [r["g"] for r in self._mem.select("g").distinct().collect()]

    # -- internals ---------------------------------------------------------

    def _has_data(self) -> bool:
        return any(n.startswith("g=") for n in os.listdir(self.path))

    def _drop_partition(self, g: str) -> None:
        self._pred_stats = None
        if self.path:
            part = os.path.join(self.path, f"g={_escape_partition_value(g)}")
            shutil.rmtree(part, ignore_errors=True)
            # Belt-and-braces: locate the partition by decoding on-disk names
            # too, so an escaping divergence can never leave stale rows to
            # survive a "full refresh" CLEAR (ADVICE r01).
            for name in os.listdir(self.path):
                if name.startswith("g=") and _unescape_partition_value(name[2:]) == g:
                    shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        elif self._mem is not None:
            # consolidate: materialize the remainder into ONE cached piece
            # and release every previous cached batch — without this, a
            # full-refresh pipeline replayed N times would pin N copies of
            # the corpus in the cache (clear/drop are exactly the moments
            # the reference's lifecycle discards data, so the one-pass
            # re-materialization belongs here, not on every insert)
            remainder = self._mem.where(F.col("g") != g).cache()
            remainder.count()
            for piece in self._mem_pieces:
                piece.unpersist()
            self._mem_pieces = [remainder]
            self._mem = remainder

    def close(self) -> None:
        """Release every cached in-memory batch (no-op for parquet stores).
        The Spark CacheManager holds JVM-side references, so discarding the
        Python ``GraphStore`` object alone frees nothing."""
        for piece in self._mem_pieces:
            piece.unpersist()
        self._mem_pieces = []
        self._mem = None
