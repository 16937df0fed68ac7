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
directory of many files); only ``insert`` appends files. Every mutation that
replaces graphs — delete, apply_delta, CLEAR/DROP, COPY/MOVE and
``optimize``'s compaction — goes through one copy-on-write commit
(:meth:`GraphStore._commit_generation`), so a crash leaves each graph at its
old or its new generation. No driver-side collects anywhere.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ckpt import pin
from .terms import QUAD_COLUMNS, QUAD_SCHEMA

# Spark writes Hive-style escaped partition directories (see Spark's
# ExternalCatalogUtils.escapePathName / Hive FileUtils): ONLY this char set
# is %XX-escaped (uppercase hex) — notably space, '+', ',', '(', ')' and '~'
# are NOT escaped, so urllib quote/unquote would mismatch the on-disk names.
_PART_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^\x7f') | frozenset(
    chr(c) for c in range(1, 32)
)


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
        discarded, and every other graph is left untouched. The final
        generations are written and committed by :meth:`_rewrite`."""
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
        that replaces graphs is a caller of this one method.

        In memory: the other graphs plus ``rows`` are cached as the one
        piece that replaces the store.

        Parquet: ``rows`` is written in ONE ``partitionBy("g")`` job into
        a batch directory ``_compact_tmp/delta=<uuid>``. Every read of
        the store that ``rows`` makes finishes inside that job, before
        any graph is swapped, so nothing needs pinning. Each target then
        gets its new generation through :meth:`_commit_generation`, in
        ``targets`` order; a stored target with no rows loses its
        partition and an absent one is left alone. ``rows=None`` runs no
        Spark job. A commit that died earlier in this process is first
        finished or rolled back, like on open; a batch directory left by
        a crash is deleted then like any uncommitted tmp."""
        if not self.path:
            if self._mem is None and rows is None:
                return
            kept = self.quads().where(~F.col("g").isin(targets))
            merged = (kept if rows is None else kept.unionByName(rows)).cache()
            merged.count()
            self._replace_mem(merged)
            return
        self._recover_compactions()
        stored = set(self.list_graphs())
        batch_dir = self._batch_dir()
        written = {}
        if rows is not None:
            rows.write.partitionBy("g").parquet(batch_dir)
            written = {
                _unescape_partition_value(name[2:]): os.path.join(batch_dir, name)
                for name in os.listdir(batch_dir)
                if name.startswith("g=")
            }
        for gname in targets:
            if gname in written or gname in stored:
                self._commit_generation(gname, written.get(gname))
        shutil.rmtree(batch_dir, ignore_errors=True)

    def _batch_dir(self) -> str:
        """A fresh batch directory name under ``_compact_tmp``."""
        return os.path.join(
            self.path, "_compact_tmp", _BATCH_PREFIX + uuid.uuid4().hex
        )

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

    _MEM_CONSOLIDATE_AT = 32

    def _consolidate_mem(self) -> None:
        """Fold the per-insert cached pieces into one cached DataFrame.

        Each in-memory insert caches its (deduped) batch separately so the
        store stays a lazy union — cheap per insert, but unbounded in piece
        count. Once the union is this deep, one consolidation pass costs a
        single scan of data that is already columnar-in-memory, and every
        later read replaces a 32-way union with one InMemoryRelation (with
        exact stats, so join-side broadcast decisions stay sane)."""
        merged = self._mem_pieces[0]
        for piece in self._mem_pieces[1:]:
            merged = merged.unionByName(piece)
        merged = merged.cache()
        merged.count()
        self._replace_mem(merged)

    def _replace_mem(self, sealed: DataFrame) -> None:
        """Make the materialized ``sealed`` the whole in-memory store and
        release the cached pieces it was built from. It must be
        materialized first: releasing a piece a lazy plan still reads
        would re-run that piece's lineage. Without this one pass per
        rewrite, a full-refresh pipeline replayed N times would pin N
        copies of the corpus in the cache."""
        for piece in self._mem_pieces:
            piece.unpersist()
        self._mem_pieces = [sealed]
        self._mem = sealed

    def clear(self, g: str) -> None:
        """``CLEAR SILENT GRAPH <g>`` (reference load_knowledge_graph.py:341):
        empty the graph, no error if absent."""
        self._rewrite([g], None)

    def drop(self, g: str) -> None:
        """``DROP SILENT GRAPH <g>`` (reference load_knowledge_graph.py:623-665).
        Same storage action as CLEAR in a partitioned-table model; both verbs
        kept for API fidelity (SURVEY.md §2 ops 11-12)."""
        self._rewrite([g], None)

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
        exact copy of src (existing dst data removed); src unchanged."""
        if src == dst:
            return
        self._rewrite([dst], self._relabeled(src, dst))

    def move_graph(self, src: str, dst: str) -> None:
        """``MOVE GRAPH <src> TO GRAPH <dst>`` (§3.2.6): dst becomes src's
        quads and src is dropped, in one rewrite. dst commits before src,
        so a crash never loses a quad. src==dst is a no-op per the spec."""
        if src == dst:
            return
        self._rewrite([dst, src], self._relabeled(src, dst))

    def checkpoint_mem(self) -> None:
        """Sever an in-memory store's plan tree: replace the lazy union of
        cached insert pieces with ONE eagerly checkpointed DataFrame, so every later pattern scan is a flat ``LogicalRDD``
        leaf instead of re-carrying the full load lineage.

        Why this exists: Catalyst ANALYSIS cost of a BGP self-join is
        proportional to (join count × leaf subtree size). A scratch store
        built from a handful of ``load_json`` inserts has a leaf subtree
        of 5+ unioned dedup anti-join trees, and compiling the reference's
        16-pattern mapping WHEREs against it measured 17-43 s of pure
        driver-side analysis PER UPDATE (r10 profile) — 3-10× the actual
        execution. One checkpoint after loading collapses that to
        sub-second. No-op for file-backed stores (parquet leaves are
        already flat) and empty stores. The checkpoint lives as long as
        the store's data (an unowned :func:`.ckpt.pin`; harnesses sweep
        getPersistentRDDs)."""
        if self._mem is None:
            return
        self._replace_mem(pin(self._mem))

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
        self-join read a sliver of the store per pattern.)

        Each stored graph (only ``g``, when given; an absent ``g`` is a
        no-op) is written on its own (without ``g``: the partition
        directory name carries it) and committed through
        :meth:`_commit_generation`."""
        if not self.path:
            return
        self._recover_compactions()
        for gname in self.list_graphs():
            if g and gname != g:
                continue
            df = self.graph(gname)
            if cluster_by:
                df = df.repartitionByRange(target_files, F.col(cluster_by))
                df = df.sortWithinPartitions(cluster_by)
            else:
                df = df.repartition(target_files)
            batch_dir = self._batch_dir()
            df.drop("g").write.parquet(batch_dir)
            self._commit_generation(gname, batch_dir)

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

    def close(self) -> None:
        """Release every cached in-memory batch (no-op for parquet stores).
        The Spark CacheManager holds JVM-side references, so discarding the
        Python ``GraphStore`` object alone frees nothing."""
        for piece in self._mem_pieces:
            piece.unpersist()
        self._mem_pieces = []
        self._mem = None
