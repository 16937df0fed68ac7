"""Pipeline runner: the reference DAG's lifecycle as a plain-Python program.

Replicates load_knowledge_graph.py:677-696 (SURVEY.md §3 entry point 3):

    clear staging → extract JSON → clear target → 16 mapping queries
    → provenance → drop staging → optimize

The 13 ``.sparql`` mapping files are the *user's queries* — the engine
runs their text verbatim through the SPARQL-Update front end; pass the
directory that holds them (e.g. the reference checkout's
``airflow_files/dags/sparql``). The three inline queries (provenance,
add_logo, add_ldap_logo — reference load_knowledge_graph.py:514-611) are
generated here with the same parameter substitution the reference does
with Jinja (constants per run, SURVEY.md §2 op 37).

Upstream HTTP sync triggering/polling (reference
load_knowledge_graph.py:206-267) is an orchestration concern, not a Spark
operator — it is provided here as the driver-side helper
:func:`trigger_and_wait` (sensor → POST full_sync → sensor), to be called
before :func:`run_pipeline`.
"""

from __future__ import annotations

import json as _json
import os
import time
import urllib.request
from urllib.parse import quote_plus

from ..ckpt import pin
from ..engine import GRAPH_NS, SOURCE_NS, Engine

STAGING_GRAPHS = [
    "ldap_organizations",
    "tl_users",
    "tl_companies",
    "tl_custom_fields",
    "mediahaven_tenants",
]

# the 13 file queries (reference DAG tasks m1-m13,
# load_knowledge_graph.py:386-533)
MAPPING_FILES = [
    "ldap_mapping_org.sparql",
    "ldap_mapping_unit.sparql",
    "ldap_mapping_school.sparql",
    "ldap_mapping_eduorg.sparql",
    "ldap_mapping_cp.sparql",
    "ldap_mapping_sp.sparql",
    "ldap_mapping_sc.sparql",
    "tl_users_mapping.sparql",
    "tl_companies_mapping_org.sparql",
    "tl_companies_mapping_contactpoint.sparql",
    "tl_companies_mapping_cp.sparql",
    "tl_companies_mapping_classification.sparql",
    "tl_companies_mapping_overlay.sparql",
    "map_mam_tenants.sparql",
]


def provenance_update(run_id: str, ts: str, sources: list[str], result: str, graph: str) -> str:
    """The add_provenance INSERT DATA (reference load_knowledge_graph.py:514-545):
    PROV-O activity record with run id, sources, and start time."""
    nt_sources = ", ".join(f"<{u}>" for u in sources)
    rid = quote_plus(run_id)
    return f"""
    PREFIX prov: <http://www.w3.org/ns/prov#>
    PREFIX xsd:  <http://www.w3.org/2001/XMLSchema#>
    PREFIX : <https://data.hetarchief.be/id/etl/>
    PREFIX etl: <https://data.hetarchief.be/ns/etl/>

    INSERT DATA
    {{
        GRAPH <{graph}> {{
            <{result}> prov:wasDerivedFrom {nt_sources};
                       prov:wasGeneratedBy :{rid}.

            :{rid} a prov:Activity, etl:AirflowRun;
                prov:generated <{result}>;
                prov:used etl:ApacheAirflow;
                prov:startedAtTime "{ts}"^^xsd:dateTime.
        }}
    }}
    """


def logo_update(using_clause: str, where_pattern: str, asset_prefix: str) -> str:
    """Shared shape of add_logo / add_ldap_logo
    (reference load_knowledge_graph.py:551-611)."""
    return f"""
    PREFIX org:    <http://www.w3.org/ns/org#>
    PREFIX schema: <https://schema.org/>
    PREFIX graphs: <{GRAPH_NS}>
    PREFIX source: <{SOURCE_NS}>

    WITH graphs:organizations
    INSERT {{
        ?org a org:Organization;
             schema:logo ?logo.
    }}
    {using_clause}
    WHERE {{
        {where_pattern}
        BIND (URI(CONCAT('https://data.hetarchief.be/id/organization/', ?orid)) AS ?org)
        BIND (URI(CONCAT('{asset_prefix}', ?orid)) AS ?logo)
    }}
    """


def asset_prefix(env: str) -> str:
    # reference load_knowledge_graph.py:580-582
    if env == "prd":
        return "https://assets.viaa.be/images/"
    return f"https://assets-{env}.viaa.be/images/"


def add_logo_update(env: str) -> str:
    return logo_update(
        "USING graphs:tl_companies\n    USING graphs:tl_custom_fields",
        """
        ?cf_orid source:id ?cf_orid_id; source:label "5.1 - OR-ID" .
        ?o source:custom_fields [
            source:value ?orid;
            source:definition [ source:id ?cf_orid_id ]
        ] .
        """,
        asset_prefix(env),
    )


def add_ldap_logo_update(env: str) -> str:
    return logo_update(
        "USING graphs:ldap_organizations",
        """
        ?o source:objectClass "organization";
           source:o ?orid.
        """,
        asset_prefix(env),
    )


def _get_json(url: str, timeout: float) -> dict:
    req = urllib.request.Request(url, headers={"Accept": "application/json"})
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return _json.loads(resp.read().decode("utf-8"))


def wait_until_idle(
    url: str,
    poke_interval: float = 5.0,
    timeout: float = 300.0,
    _sleep=time.sleep,
) -> dict:
    """Poll ``url`` (GET) until the JSON body reports ``job_running`` false.

    The HttpSensor half of the reference's upstream-sync tasks
    (load_knowledge_graph.py:206-214 h0 / :232-240 h2 — ``response_check =
    not response.json()["job_running"]``, ``poke_interval=5``). Returns the
    final (idle) JSON body; raises TimeoutError past ``timeout`` seconds.
    """
    deadline = time.monotonic() + timeout
    while True:
        # per-request timeout is independent of the poll cadence: a
        # healthy-but-slow service (answering in, say, 8 s) must not
        # crash a 5 s-cadence sensor that has minutes of budget left
        body = _get_json(url, timeout=min(30.0, max(timeout, 1.0)))
        if not body.get("job_running"):
            return body
        if time.monotonic() >= deadline:
            raise TimeoutError(f"sync job at {url} still running after {timeout}s")
        _sleep(poke_interval)


def trigger_sync(url: str, full_sync: bool = True, timeout: float = 30.0) -> dict:
    """POST ``{"full_sync": <bool>}`` to start an upstream *2db sync job.

    The SimpleHttpOperator half (load_knowledge_graph.py:216-230 h1):
    JSON POST, and the reference's ``sync_response_check`` — HTTP 200 with
    the body echoing ``full_sync`` — enforced here by raising ValueError
    on a mismatched echo (urllib already raises on non-2xx status).
    """
    req = urllib.request.Request(
        url,
        data=_json.dumps({"full_sync": full_sync}).encode("utf-8"),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        body = _json.loads(resp.read().decode("utf-8"))
    if body.get("full_sync") != bool(full_sync):
        raise ValueError(f"sync trigger at {url} did not echo full_sync={full_sync}: {body}")
    return body


def trigger_and_wait(
    url: str,
    full_sync: bool = True,
    poke_interval: float = 5.0,
    timeout: float = 300.0,
    _sleep=time.sleep,
) -> dict:
    """Idle-check → trigger → completion-poll for one upstream sync service.

    The h0→h1→h2 / h3→h4→h5 chains of the reference DAG
    (load_knowledge_graph.py:206-267): wait for the service to be idle,
    POST the full_sync trigger, then poll until the job finishes. Returns
    the final idle JSON body. Pure driver-side orchestration — no Spark
    involvement, by design (SURVEY.md §2 op 9).
    """
    wait_until_idle(url, poke_interval=poke_interval, timeout=timeout, _sleep=_sleep)
    trigger_sync(url, full_sync=full_sync, timeout=max(poke_interval, 30.0))
    return wait_until_idle(url, poke_interval=poke_interval, timeout=timeout, _sleep=_sleep)


def run_pipeline(
    engine: Engine,
    documents: dict[str, list[tuple[str, str]]],
    sparql_dir: str,
    run_id: str = "manual__local",
    ts: str = "2024-01-01T00:00:00+00:00",
    env: str = "qas",
    optimize: bool = True,
    ledger: bool = False,
    jobs: int = 1,
) -> None:
    """Full-refresh run (CLEAR → load → map → provenance → DROP → optimize).

    ``documents``: source name → [(doc_id, json_text)] (see
    :mod:`.fixtures`) OR an already-distributed DataFrame of
    ``(doc_id, json)`` (see :func:`.fixtures.volume_documents` — at
    volume the corpus must never pass through the driver).
    ``sparql_dir``: directory containing the 13 mapping files
    (:data:`MAPPING_FILES`).

    ``ledger=True`` additionally SEEDS the derivation ledger (see
    :class:`Ledger`): every mapping/logo update runs with its group
    variable carried onto the output quads, and the (group, quad)
    multiset is persisted next to the store — the steady state
    :func:`run_pipeline_incremental` maintains. Opt-in so the plain
    full-refresh cost (the kg_pipeline_volume bench shape) is unchanged;
    an incremental run against a store without a ledger seeds it itself
    from the old snapshot.

    ``jobs``: mapping derivations submitted concurrently — the reference
    DAG's own parallel fan-out (all 16 mapping tasks depend only on the
    extracts and the target clear, load_knowledge_graph.py:685-695; see
    :func:`_plan_updates` for why the updates commute). ``jobs > 1``
    also batches the 16 inserts into ONE set-insert against the
    just-cleared target (identical final store set). Default 1 = the
    sequential task-per-update shape.
    """
    from pyspark.sql import DataFrame

    spark = engine.spark

    # c1-c4 (+ the target clear c): full-refresh staging
    # (reference load_knowledge_graph.py:337-383)
    for g in STAGING_GRAPHS:
        engine.update(f"CLEAR SILENT GRAPH <{GRAPH_NS}{g}>")

    # e1-e5: extract & insert (reference load_knowledge_graph.py:269-334)
    if jobs > 1:
        # batched staging load: the e1-e5 extracts target DISJOINT
        # graphs (one per source), so their quads can't collide — one
        # union → one dedup → one anti-join against the just-cleared
        # staging set → one partitioned write, instead of 5 sequential
        # walk+dedup+write jobs. The per-source mapInPandas JSON walks
        # become tasks of ONE job, filling the cluster together.
        from ..ingest import json_to_quads

        quads = None
        for source, docs in documents.items():
            df = (
                docs
                if isinstance(docs, DataFrame)
                else spark.createDataFrame(docs, "doc_id string, json string")
            )
            q = json_to_quads(
                df, f"{GRAPH_NS}{source}", namespace=SOURCE_NS
            )
            quads = q if quads is None else quads.unionByName(q)
        if quads is not None:
            engine.store.insert(
                quads,
                target_graphs=[f"{GRAPH_NS}{s}" for s in documents],
            )
    else:
        for source, docs in documents.items():
            df = (
                docs
                if isinstance(docs, DataFrame)
                else spark.createDataFrame(docs, "doc_id string, json string")
            )
            engine.load_json(df, f"{GRAPH_NS}{source}", namespace=SOURCE_NS)

    engine.update(f"CLEAR SILENT GRAPH <{GRAPH_NS}organizations>")

    if ledger:
        # m1-m13 + mt + logos with provenance carry: same updates, same
        # inserted quads, plus the seeded (group, quad) ledger
        led_df = _derive_and_insert(engine, sparql_dir, env, jobs=jobs)
        Ledger.for_engine(engine).write(led_df)
    elif jobs > 1:
        # m1-m13 + mt + logos, DAG-parallel: checkpoint the 16
        # independent derivations jobs-at-a-time, then one batched
        # set-insert (one dedup + one anti-join against the just-cleared
        # target instead of 16 anti-joins that each rescan the quads the
        # previous updates appended)
        from ..terms import QUAD_COLUMNS

        derived = _plan_updates(
            engine, ledger_updates(sparql_dir, env), jobs, carry=False
        )
        batch = None
        for _key, out in derived:
            q = out.select(*QUAD_COLUMNS)
            batch = q if batch is None else batch.unionByName(q)
        if batch is not None:  # guard an empty update list, like staging
            engine.store.insert(
                batch.dropDuplicates(QUAD_COLUMNS),
                target_graphs=[f"{GRAPH_NS}organizations"],
                batch_distinct=True,
            )
    else:
        # m1-m13 + mt: the mapping workload (reference
        # load_knowledge_graph.py:386-533)
        for fname in MAPPING_FILES:
            engine.update(os.path.join(sparql_dir, fname))

        # ml, tl_ml: logos (reference load_knowledge_graph.py:547-611)
        engine.update(add_logo_update(env))
        engine.update(add_ldap_logo_update(env))

    # mp: provenance (reference load_knowledge_graph.py:514-545)
    engine.update(
        provenance_update(
            run_id,
            ts,
            sources=[
                f"{GRAPH_NS}tl_companies",
                f"{GRAPH_NS}tl_users",
                f"{GRAPH_NS}ldap_organizations",
            ],
            result=f"{GRAPH_NS}organizations",
            graph=f"{GRAPH_NS}provenance",
        )
    )

    # d1-d5: drop staging (reference load_knowledge_graph.py:619-667)
    for g in STAGING_GRAPHS:
        engine.update(f"DROP SILENT GRAPH <{GRAPH_NS}{g}>")

    # opt (reference load_knowledge_graph.py:669-675)
    if optimize:
        engine.store.optimize()


# ---------------------------------------------------------------------------
# Incremental pipeline maintenance (beyond-reference; the reference is
# full-refresh by design — load_knowledge_graph.py:677-696)
# ---------------------------------------------------------------------------

#: the sources whose documents drive mapping derivations at corpus scale;
#: tl_custom_fields is a bounded lookup (change → full-refresh fallback),
#: mediahaven_tenants a single whole-file doc (always processed fully —
#: its unchanged derivation deletes and reinserts identically, a no-op
#: under set semantics)
DELTA_SOURCES = ["ldap_organizations", "tl_users", "tl_companies"]


def _docs_df(spark, docs):
    from pyspark.sql import DataFrame

    if isinstance(docs, DataFrame):
        return docs
    return spark.createDataFrame(docs, "doc_id string, json string")


def _orid_def_id(spark, cf_docs) -> str | None:
    """The tl custom-field definition id labelled '5.1 - OR-ID' (bounded
    lookup — one collect of a ≤dozens-row table)."""
    from pyspark.sql import functions as F

    rows = (
        _docs_df(spark, cf_docs)
        .select(F.from_json("json", "id string, label string").alias("d"))
        .where(F.col("d.label") == "5.1 - OR-ID")
        .select("d.id")
        .collect()
    )
    return rows[0]["id"] if rows else None


def _orids(spark, source: str, docs, cf_def_id: str | None):
    """(doc_id, orid) for every document of a driving source that carries
    an OR-ID — the shared key through which different sources derive
    quads about the SAME organization subject. Pure JSON projection, one
    scan, no shuffle."""
    from pyspark.sql import functions as F

    df = _docs_df(spark, docs)
    if source == "ldap_organizations":
        return df.select(
            "doc_id",
            F.get_json_object("json", "$.attributes.o").alias("orid"),
        ).where(F.col("orid").isNotNull())
    if source == "tl_companies":
        if cf_def_id is None:
            return df.select("doc_id", F.lit(None).cast("string").alias("orid")).where(F.lit(False))
        cf_schema = (
            "custom_fields array<struct<value:string,"
            "definition:struct<id:string>>>"
        )
        cf = F.from_json("json", cf_schema)["custom_fields"]
        # try_element_at: a company without an OR-ID custom field has an
        # empty filtered array (ANSI element_at would throw) — it simply
        # carries no org key and needs no closure
        orid = F.try_element_at(
            F.filter(cf, lambda f: f["definition"]["id"] == F.lit(cf_def_id)),
            F.lit(1),
        )["value"]
        return df.select("doc_id", orid.alias("orid")).where(
            F.col("orid").isNotNull()
        )
    # tl_users: no organization key — user-subject quads are derived from
    # the user document alone (id-keyed), so the delta needs no closure
    return df.select(
        "doc_id", F.lit(None).cast("string").alias("orid")
    ).where(F.lit(False))


#: derivation-group variable per maintained update: the WHERE variable
#: whose binding identifies the (bounded-lookup-closed) document group a
#: binding row was derived from. Org-keyed updates bind ?orid (ldap,
#: tl_companies, logos) or ?ExternalId (tenants — its entries are org
#: rows of the one whole-file doc); the users mapping is keyed by the
#: user id ?amid. The per-entity locality contract (module docstring of
#: the closure machinery above) is what makes the single carried
#: variable a complete provenance record.
PROV_VARS: dict[str, tuple[str, str]] = {
    **{f: ("org", "orid") for f in MAPPING_FILES if f.startswith(("ldap_", "tl_companies_"))},
    "tl_users_mapping.sparql": ("user", "amid"),
    "map_mam_tenants.sparql": ("org", "ExternalId"),
    "__add_logo__": ("org", "orid"),
    "__add_ldap_logo__": ("org", "orid"),
}

#: the staging source whose quads ROOT each update's WHERE clause: an
#: update whose driver graph is empty yields zero bindings, so the fresh
#: recompute may skip compiling it outright (16 → as few as 0 delta jobs)
UPDATE_DRIVER: dict[str, str] = {
    **{f: "ldap_organizations" for f in MAPPING_FILES if f.startswith("ldap_")},
    **{f: "tl_companies" for f in MAPPING_FILES if f.startswith("tl_companies_")},
    "tl_users_mapping.sparql": "tl_users",
    "map_mam_tenants.sparql": "mediahaven_tenants",
    "__add_logo__": "tl_companies",
    "__add_ldap_logo__": "ldap_organizations",
}


def ledger_updates(sparql_dir: str, env: str) -> list[tuple[str, str]]:
    """(key, query) for every update whose derivation the ledger tracks:
    the 14 mapping files (key = file name, query = full path) plus the
    two inline logo updates. Provenance is additive per-run and
    excluded."""
    out = [(f, os.path.join(sparql_dir, f)) for f in MAPPING_FILES]
    out.append(("__add_logo__", add_logo_update(env)))
    out.append(("__add_ldap_logo__", add_ldap_logo_update(env)))
    return out


class Ledger:
    """The derivation ledger: the persisted multiset of (grp, quad) rows
    recording, for every quad of the organizations graph, WHICH
    derivation group produced it — ``org:<orid>`` or ``user:<amid>``.

    This is the provenance store that turns incremental maintenance's
    stale side into a LOOKUP (ledger ⋈ affected groups) instead of a
    second full compile+execute of all 16 updates, and makes deletes
    REFERENCE-COUNTED: a quad derived by several groups (e.g. the shared
    ``org:Role``/``skos:prefLabel`` quads two users with the same
    function both derive — reference sparql/tl_users_mapping.sparql) is
    only deleted when NO group supports it anymore. The pre-ledger
    delete-then-rederive closure algorithm got exactly that case wrong
    (pinned by test_incremental_shared_role_survives_user_removal).

    Storage: a parquet directory inside the engine's store directory
    (``<store>/_ledger/organizations`` — corpus-sized but narrow),
    HASH-BUCKETED on the group key (``bucket = pmod(xxhash64(grp),
    buckets)`` partition column): an incremental run rewrites ONLY the
    buckets its affected groups hash into (Spark dynamic partition
    overwrite in :meth:`overwrite_buckets`), so the per-run ledger
    write is ∝ delta, not corpus — the same partition-granular
    copy-on-write discipline as the quad store itself. Full (seed)
    writes use write-tmp → remove-old → rename; a crash mid-write
    loses only the ledger, which reseeds from the next run's old
    snapshot."""

    #: bucket count for the grp-hash partition layout — sized so one
    #: bucket of a billion-quad ledger is a few GB (rewriteable in one
    #: task wave) while a fixture-scale ledger still exercises multiple
    #: buckets
    BUCKETS = 64

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    @staticmethod
    def bucket_col():
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64("grp"), F.lit(Ledger.BUCKETS)).cast("int")

    @classmethod
    def for_engine(cls, engine: Engine, graph: str = "organizations") -> "Ledger":
        return cls(engine.spark, os.path.join(engine.store.path, "_ledger", graph))

    def read(self):
        """The current ledger DataFrame (with its ``bucket`` partition
        column), or None when never seeded."""
        if not os.path.isdir(self.path):
            return None
        return self.spark.read.parquet(self.path)

    def write(self, df) -> None:
        """Full (seed) write: the whole ledger, bucketed, via the
        tmp-swap protocol."""
        tmp = self.path + ".tmp"
        # the write fully materializes df (which may READ the old
        # generation) before the old directory is touched
        out = df
        if "bucket" not in out.columns:
            out = out.withColumn("bucket", self.bucket_col())
        out.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)
        os.replace(tmp, self.path)

    def overwrite_buckets(self, delta, touched: list[int]) -> None:
        """Partition-granular update: ``delta`` must hold the COMPLETE
        new content of every bucket in ``touched`` (and nothing else);
        Spark dynamic partition overwrite replaces exactly the bucket
        directories present in the written data and leaves the rest of
        the ledger untouched — the ∝-delta write an incremental run
        wants. Dynamic overwrite's blind spot: a touched bucket whose
        new content is EMPTY never appears in the written data, so its
        stale directory must be dropped explicitly (the removed-last-
        group-in-a-bucket case — pinned by
        test_incremental_shared_role_survives_user_removal, which is
        exactly an emptied bucket at fixture scale). The CALLER must
        sever any lineage reading this ledger's path before passing the
        delta (Spark refuses to overwrite a path it is reading — the
        incremental pipeline checkpoints the kept-rows leg).

        Crash window (weaker than the seed write's tmp-swap): writes
        land in Spark's staging dir until job commit, so a crash BEFORE
        commit leaves the old ledger intact, but a crash DURING the
        per-partition commit renames can leave touched buckets mixed
        old/new. Recovery is the same as any ledger loss — delete the
        ``_ledger`` directory; the next incremental run reseeds it from
        the old snapshot (one full-derivation pass). The quad store
        itself is never at risk: the ledger is derived state."""
        out = delta
        if "bucket" not in out.columns:
            out = out.withColumn("bucket", self.bucket_col())
        # cluster the write by its partition column: without this every
        # upstream task holds rows of MANY buckets, so a 32-partition
        # delta over ~55 touched buckets commits up to 32x55 tiny files
        # (r14 profile: the commit fan-out dominated t_ledger_write);
        # hash-repartitioning on bucket writes one file per bucket and
        # keeps the probe side's list/open cost flat across cycles
        # (guide §6 "small files hurt twice")
        out = out.repartition("bucket")
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        saved = self.spark.conf.get(mode_key, None)
        self.spark.conf.set(mode_key, "dynamic")
        try:
            out.write.mode("overwrite").partitionBy("bucket").parquet(
                self.path
            )
        finally:
            if saved is None:
                self.spark.conf.unset(mode_key)
            else:
                self.spark.conf.set(mode_key, saved)
        import shutil

        present = {
            r["bucket"] for r in out.select("bucket").distinct().collect()
        }
        for b in set(touched) - present:
            shutil.rmtree(
                os.path.join(self.path, f"bucket={b}"), ignore_errors=True
            )

    def compact(self, min_files: int = 4, target_file_mb: int = 128) -> dict:
        """Opt-in maintenance (r10 verdict #10): every incremental cycle
        rewrites its touched buckets with however many files the delta's
        partitioning produced, so a frequently-touched bucket fragments
        into many small files over N cycles (list/open overhead starts
        dominating the stale-side ledger probe). Compact ONLY the
        buckets above ``min_files`` — each bucket directory is a plain
        parquet dir, so :func:`extensions.layout.compact_files` rewrites
        it in place (its own tmp-swap), re-clustered by ``grp`` while at
        it (the probe side filters on grp, so grp-sorted files give the
        scan min/max pruning for free). Cost ∝ fragmented buckets, never
        the whole ledger; untouched buckets are never read. A
        never-seeded ledger has nothing to compact. Content equivalence
        is pytest-pinned (tests/test_pipeline.py)."""
        if not os.path.isdir(self.path):
            return {"buckets_compacted": 0, "files_before": 0, "files_after": 0}
        from ..extensions.layout import compact_files

        stats = {"buckets_compacted": 0, "files_before": 0, "files_after": 0}
        for name in sorted(os.listdir(self.path)):
            bdir = os.path.join(self.path, name)
            if not (name.startswith("bucket=") and os.path.isdir(bdir)):
                continue
            n_files = sum(
                f.endswith(".parquet") for f in os.listdir(bdir)
            )
            if n_files <= min_files:
                continue
            res = compact_files(
                self.spark, bdir, target_file_mb=target_file_mb, sort_by=["grp"]
            )
            stats["buckets_compacted"] += 1
            stats["files_before"] += res["files_before"]
            stats["files_after"] += res["files_after"]
        return stats


def _grp_col(kind: str, var: str):
    from pyspark.sql import functions as F

    return F.concat(F.lit(kind), F.lit(":"), F.col(var)).alias("grp")


def _plan_updates(
    engine: Engine,
    items: list[tuple[str, str]],
    jobs: int,
    carry: bool,
) -> list[tuple[str, "DataFrame"]]:
    """Compile + eagerly checkpoint the independent maintained updates,
    ``jobs`` at a time — the reference DAG's own shape: all 16 mapping
    tasks fan out in PARALLEL from the target clear
    (load_knowledge_graph.py:685-695 — every m* depends only on its
    extract and ``c``, never on another mapping), and every update reads
    ONLY its USING staging graphs (no mapping file reads the WITH target
    — verified over all 14 .sparql), so the derivations commute.

    Thread-per-update is the Spark-native translation of that fan-out:
    the compile context is ``threading.local`` by design
    (federation.active_registry),
    the parser is pure, and concurrent driver threads submitting jobs is
    the standard way to keep a large cluster busy with many independent
    small-stage jobs — one 16-pattern mapping alone never fills 1000
    executors; 8 of them at once do. Results return in ``items`` order
    regardless of completion order (determinism; the downstream union is
    a set anyway)."""
    def one(item):
        key, query = item
        kwargs = {"carry": [PROV_VARS[key][1]]} if carry else {}
        # materialize=True checkpoints the WHERE bindings; the returned
        # plan is then a flat template projection over a LogicalRDD, so
        # unions over many updates stay analysis-cheap WITHOUT a second
        # checkpoint per update (the r09 OOM came from unioning
        # un-checkpointed WHERE trees), and the insert/ledger consumers
        # each re-execute only the projection
        return key, engine.plan(query, materialize=True, **kwargs)

    if jobs > 1 and len(items) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(jobs, len(items))) as ex:
            return list(ex.map(one, items))
    return [one(it) for it in items]


def _derive_ledger(
    engine: Engine,
    sparql_dir: str,
    env: str,
    empty_sources: set[str] | None = None,
    insert: bool = False,
    jobs: int = 1,
) -> "DataFrame":
    """Run every maintained update via ``plan(carry=[group var])`` against
    ``engine``'s staging and return the unioned (grp, quad) ledger rows;
    ``insert=True`` also set-inserts each update's quads into the
    organizations graph (the seeded full-refresh path). Updates whose
    driver staging graph is known-empty are skipped (zero bindings by
    construction). Each update's carried output is checkpointed once and
    feeds both the insert and the ledger union — same per-update job
    shape as the plain pipeline.

    ``jobs``: derivation checkpoints submitted concurrently (see
    :func:`_plan_updates`); with ``jobs > 1`` the seed insert is also
    BATCHED — one union → set-dedup → anti-join against the (empty,
    just-cleared) target instead of 16 read-modify-write inserts whose
    anti-joins each rescan the growing target graph. Same final store
    set either way (set semantics commute)."""
    from pyspark.sql import functions as F

    from ..terms import QUAD_COLUMNS

    items = [
        (key, query)
        for key, query in ledger_updates(sparql_dir, env)
        if not (empty_sources and UPDATE_DRIVER[key] in empty_sources)
    ]
    derived = _plan_updates(engine, items, jobs, carry=True)
    pieces = []
    batch = None
    for key, out in derived:
        kind, var = PROV_VARS[key]
        if insert:
            if jobs > 1:
                q = out.select(*QUAD_COLUMNS)
                batch = q if batch is None else batch.unionByName(q)
            else:
                engine.store.insert(
                    out.select(*QUAD_COLUMNS),
                    target_graphs=[f"{GRAPH_NS}organizations"],
                )
        pieces.append(out.select(_grp_col(kind, var), *QUAD_COLUMNS))
    if batch is not None:
        engine.store.insert(
            batch.dropDuplicates(QUAD_COLUMNS),
            target_graphs=[f"{GRAPH_NS}organizations"],
            batch_distinct=True,
        )
    if not pieces:
        from ..terms import QUAD_SCHEMA

        schema = "grp string, " + ", ".join(
            f"{f.name} string" for f in QUAD_SCHEMA.fields
        )
        return engine.spark.createDataFrame([], schema)
    quads = pieces[0]
    for p in pieces[1:]:
        quads = quads.unionByName(p)
    # cross-update duplicates are real (two ldap mappings deriving the
    # same typing quad for the same org) — the ledger is a SET of
    # (grp, quad)
    return quads.dropDuplicates(["grp", *QUAD_COLUMNS])


def _derive_and_insert(engine: Engine, sparql_dir: str, env: str, jobs: int = 1):
    return _derive_ledger(engine, sparql_dir, env, insert=True, jobs=jobs)


def _tenant_delta_orids(spark, old_docs, new_docs):
    """OR-IDs whose mediahaven tenant entry changed between snapshots.
    The tenants source is ONE whole-file JSON array, so the diff is at
    entry granularity: full-outer join old/new entries on ExternalId,
    keep ids whose Name differs or that exist on one side only."""
    from pyspark.sql import functions as F

    def entries(docs):
        return (
            _docs_df(spark, docs)
            .select(
                F.explode(
                    F.from_json(
                        "json", "array<struct<Name:string,ExternalId:string>>"
                    )
                ).alias("t")
            )
            .select(
                F.col("t.ExternalId").alias("orid"),
                F.col("t.Name").alias("name"),
            )
            .where(F.col("orid").isNotNull())
        )

    o = entries(old_docs).withColumnRenamed("name", "name_old")
    n = entries(new_docs).withColumnRenamed("name", "name_new")
    return (
        o.join(n, "orid", "full_outer")
        .where(
            F.col("name_old").isNull()
            | F.col("name_new").isNull()
            | (F.col("name_old") != F.col("name_new"))
        )
        .select("orid")
    )


def _delta_conf(spark, partitions: int = 4):
    """Scoped shuffle sizing for the delta-sized scratch work: a closure
    staging of ~10^2 docs per 1% delta gains nothing from 32-128-task
    stages — per-task scheduling overhead across ~16 update jobs × dozens
    of stages was the dominant cost of the pre-ledger algorithm
    (measured ~7 s/update on 25-doc staging). Restores the session's
    settings on exit; the corpus-sized apply/ledger phases run OUTSIDE
    this scope."""
    from contextlib import contextmanager

    @contextmanager
    def scoped():
        keys = {
            "spark.sql.shuffle.partitions": str(partitions),
            "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
            # AQE is pure overhead at delta scale: every shuffle becomes its
            # own query-stage job submission + driver re-optimization round
            # trip, and there is nothing to re-optimize over ~10^2-doc
            # staging with 4-partition shuffles (guide §1.2 step 3 — config
            # after algorithm; measured on the incremental profile, r14)
            "spark.sql.adaptive.enabled": "false",
        }
        saved = {}
        for k, v in keys.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:
                saved[k] = None
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return scoped()


def run_pipeline_incremental(
    engine: Engine,
    old_documents: dict,
    new_documents: dict,
    sparql_dir: str,
    run_id: str = "manual__incremental",
    ts: str = "2024-01-01T00:00:00+00:00",
    env: str = "qas",
    jobs: int = 1,
) -> dict:
    """Incremental maintenance of the organizations graph via the
    derivation :class:`Ledger` — given the previous and current staging
    snapshots, recompute ONLY the derived quads of changed documents
    instead of the reference's CLEAR → full remap (the full-refresh
    anti-pattern at 100 TB; reference load_knowledge_graph.py:677-696
    is full-refresh by design).

    Algorithm (provenance-carried delete-and-rederive — DRed with
    recorded support instead of a recomputed stale side):

    1. diff each driving source's documents (md5 of the json) — plus the
       tenants file at entry granularity;
    2. AFFECTED GROUPS: ``org:<orid>`` for every OR-ID any changed
       ldap/company document (old or new side) or changed tenant entry
       carries, ``user:<amid>`` for every changed user document — the
       same shared-key closure as before, now expressed as group keys;
    3. STALE side = ledger lookup: the recorded (grp, quad) rows of the
       affected groups. No recompute, no second staging store, no 16
       extra update jobs — this is what the ledger exists for. A store
       without a ledger seeds one from the OLD snapshot first (one
       full-derivation pass — the migration cost, paid once);
    4. FRESH side = the maintained updates compiled over CLOSURE-sized
       staging (all docs of affected orgs + changed user docs + the
       bounded lookups), with the group variable carried, under
       delta-sized shuffle sizing (:func:`_delta_conf`); updates whose
       driver staging is empty are skipped outright;
    5. NEW LEDGER = (ledger − affected groups) ∪ fresh rows;
       DELETE = stale quads with NO support in the new ledger — the
       reference count is the set of supporting groups, so a quad two
       groups derive survives the removal of one (the shared-role case
       the pre-ledger algorithm got wrong); INSERT = fresh quads;
       provenance recorded for this run.

    Full-refresh equivalence (the oracle): after this call the
    organizations graph equals what ``run_pipeline`` over the new
    snapshot would produce — pytest-pinned at fixture scale for every
    delta class (cross-source removal, shared-derivation removal,
    tenant-entry change) and verified at volume by tools/inc_volume.py.
    Falls back to a documented error if the custom-field definitions
    changed (they parameterize every company mapping — a full refresh
    is the correct response).

    Contract (unchanged): within one source, document ids identify
    documents and OR-IDs / user ids are unique per document; mapping
    derivations are per-entity local (each binding row reads one
    entity's documents plus bounded lookups) — the reference pipeline
    assumes the same. Out-of-band quads a user inserted into the
    organizations graph are never deleted unless they term-equal a
    retracted derivation.

    Scale shape: the diffs are one full-outer join per source on the
    doc id; the stale side is one broadcast semi-join against the
    ledger; the fresh recompute is ∝ delta; the corpus-sized terms are
    the ledger rewrite and the partition-granular delete/insert of the
    one target graph — the same copy-on-write cost every UPDATE pays.
    Returns counters (docs per source, quad counts, phase wall-clocks).

    ``jobs``: concurrent derivation submission for the fresh recompute
    (and the one-time ledger seed) — attacks the small-delta floor
    directly, which is ~14 sequential per-update Catalyst-analysis+
    checkpoint jobs of ~2 s each, not data (see :func:`_plan_updates`).
    """
    import time as _time

    from pyspark.sql import functions as F

    from ..extensions.changelog import snapshot_diff
    from ..terms import QUAD_COLUMNS

    spark = engine.spark
    old_cf = old_documents.get("tl_custom_fields", [])
    new_cf = new_documents.get("tl_custom_fields", [])
    cf_diff = snapshot_diff(
        _docs_df(spark, old_cf), _docs_df(spark, new_cf), "doc_id", "json"
    )
    if cf_diff.where(F.col("status") != "unchanged").limit(1).count() > 0:
        raise ValueError(
            "custom-field definitions changed between snapshots — they "
            "parameterize every company mapping; run the full refresh "
            "(run_pipeline) instead"
        )
    cf_def_id = _orid_def_id(spark, new_cf)

    _t0 = _time.time()
    # 1. per-source diffs
    diffs = {}
    for source in DELTA_SOURCES:
        o = _docs_df(spark, old_documents.get(source, []))
        n = _docs_df(spark, new_documents.get(source, []))
        diffs[source] = (o, n, snapshot_diff(o, n, "doc_id", "json"))

    # 2a. affected org groups: shared-OR-ID closure over the ldap/company
    # deltas (both sides — a removed doc's orid comes from the old side)
    # plus changed tenant entries
    affected = _tenant_delta_orids(
        spark,
        old_documents.get("mediahaven_tenants", []),
        new_documents.get("mediahaven_tenants", []),
    )
    for source in ("ldap_organizations", "tl_companies"):
        o, n, d = diffs[source]
        delta_ids = d.where(F.col("status") != "unchanged").select("doc_id")
        for side in (o, n):
            orids = (
                _orids(spark, source, side, cf_def_id)
                .join(F.broadcast(delta_ids), "doc_id", "left_semi")
                .select("orid")
            )
            affected = affected.unionByName(orids)
    affected = pin(affected.distinct())

    # 2b. affected user groups: the user ids of changed documents
    o_u, n_u, d_u = diffs["tl_users"]
    u_delta = d_u.where(F.col("status") != "unchanged").select("doc_id")
    user_grps = None
    for side in (o_u, n_u):
        amids = (
            side.join(F.broadcast(u_delta), "doc_id", "left_semi")
            .select(F.get_json_object("json", "$.id").alias("amid"))
            .where(F.col("amid").isNotNull())
        )
        user_grps = amids if user_grps is None else user_grps.unionByName(amids)
    affected_grps = pin(
        affected.select(_grp_col("org", "orid"))
        .unionByName(user_grps.select(_grp_col("user", "amid")))
        .distinct()
    )
    counters = {"t_diff_closure": round(_time.time() - _t0, 1)}
    counters["affected_groups"] = affected_grps.count()

    # 3. stale side: the ledger lookup (seed it from the OLD snapshot if
    # this store predates the ledger — one full-derivation migration)
    _t0 = _time.time()
    ledger = Ledger.for_engine(engine)
    led_df = ledger.read()
    if led_df is None:
        scratch = Engine(spark)
        for source, docs in old_documents.items():
            scratch.load_json(
                _docs_df(spark, docs), f"{GRAPH_NS}{source}", namespace=SOURCE_NS
            )
        led_df = pin(_derive_ledger(scratch, sparql_dir, env, jobs=jobs))
        ledger.write(led_df)
        scratch.store.close()
        led_df = ledger.read()
        counters["ledger_seeded"] = True
    stale = pin(
        led_df.join(F.broadcast(affected_grps), "grp", "left_semi")
        .select(*QUAD_COLUMNS)
        .dropDuplicates(QUAD_COLUMNS)
    )
    counters["stale_quads"] = stale.count()
    counters["t_stale_lookup"] = round(_time.time() - _t0, 1)

    # 4. fresh side: closure staging + carried recompute, delta-sized
    _t0 = _time.time()

    def closure_docs(source, docs, d):
        base = d.where(F.col("status").isin("changed", "added")).select(
            "doc_id"
        )
        if source in ("ldap_organizations", "tl_companies"):
            by_orid = (
                _orids(spark, source, docs, cf_def_id)
                .join(F.broadcast(affected), "orid", "left_semi")
                .select("doc_id")
            )
            base = base.unionByName(by_orid).distinct()
        return _docs_df(spark, docs).join(
            F.broadcast(base), "doc_id", "left_semi"
        )

    with _delta_conf(spark):
        from ..ingest import json_to_quads

        scratch = Engine(spark)
        empty_sources = set()
        # ONE tagged closure-docs materialization instead of a count job +
        # a full load_json (dedup + anti-join + cache + count) PER source:
        # the per-source doc counts come from one aggregate over the
        # checkpointed union, and the three driving-source loads join the
        # tenants/custom-fields docs in ONE batched set-insert below —
        # the e1-e5 staging graphs are disjoint, so the final scratch
        # store set is identical (same batching argument as
        # run_pipeline's jobs>1 staging load); ~3x fewer delta-scale
        # jobs on the sequential fresh-load floor (r14 profile:
        # t_fresh_load 6.2 s of ~10 tiny jobs).
        tagged = None
        for source in DELTA_SOURCES:
            o, n, d = diffs[source]
            cdocs = closure_docs(source, n, d).coalesce(1).select(
                F.lit(source).alias("__src"), "doc_id", "json"
            )
            tagged = cdocs if tagged is None else tagged.unionByName(cdocs)
        tagged = pin(tagged)
        by_src = {
            r["__src"]: r["n"]
            for r in tagged.groupBy("__src")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        batch = None
        for source in DELTA_SOURCES:
            n_docs = int(by_src.get(source, 0))
            counters[f"fresh_{source}_docs"] = n_docs
            if n_docs == 0:
                empty_sources.add(source)
                continue
            q = json_to_quads(
                tagged.where(F.col("__src") == source).select("doc_id", "json"),
                f"{GRAPH_NS}{source}",
                namespace=SOURCE_NS,
            )
            batch = q if batch is None else batch.unionByName(q)
        # the tenants source is ONE whole-file entry array — closure-
        # filter it to the AFFECTED orgs' entries (their labels must be
        # rederivable after the stale delete; unaffected entries would
        # only re-derive rows the kept ledger already holds, inflating
        # the fresh group set and with it the touched-bucket count —
        # measured 52/64 buckets for a 3-group delta before this
        # filter). Entry granularity: explode → semi-join on the
        # affected orids → reassemble one filtered doc; only the
        # Name/ExternalId fields the mapping reads are kept.
        ent = (
            _docs_df(spark, new_documents.get("mediahaven_tenants", []))
            .select(
                F.explode(
                    F.from_json(
                        "json",
                        "array<struct<Name:string,ExternalId:string>>",
                    )
                ).alias("t")
            )
            .select("t.Name", "t.ExternalId")
        )
        kept_ent = ent.join(
            F.broadcast(affected),
            ent.ExternalId == affected.orid,
            "left_semi",
        )
        n_kept = kept_ent.count()
        counters["fresh_tenant_entries"] = n_kept
        if n_kept == 0:
            empty_sources.add("mediahaven_tenants")
        else:
            filtered = kept_ent.coalesce(1).agg(
                F.to_json(
                    F.collect_list(F.struct("Name", "ExternalId"))
                ).alias("json")
            ).select(
                F.lit("mediahaven_tenants-delta").alias("doc_id"), "json"
            )
            q = json_to_quads(
                filtered, f"{GRAPH_NS}mediahaven_tenants", namespace=SOURCE_NS
            )
            batch = q if batch is None else batch.unionByName(q)
        q = json_to_quads(
            _docs_df(spark, new_cf).coalesce(1),
            f"{GRAPH_NS}tl_custom_fields",
            namespace=SOURCE_NS,
        )
        batch = q if batch is None else batch.unionByName(q)
        scratch.store.insert(
            batch,
            target_graphs=[
                f"{GRAPH_NS}{s}"
                for s in (*DELTA_SOURCES, "mediahaven_tenants", "tl_custom_fields")
            ],
        )
        counters["t_fresh_load"] = round(_time.time() - _t0, 1)
        _t0 = _time.time()
        fresh_led = pin(
            _derive_ledger(
                scratch, sparql_dir, env, empty_sources=empty_sources, jobs=jobs
            )
        )
    counters["fresh_ledger_rows"] = fresh_led.count()
    scratch.store.close()
    counters["t_fresh_plan"] = round(_time.time() - _t0, 1)

    # 5. new ledger, reference-counted delete, insert, provenance
    _t0 = _time.time()
    # partition-granular rewrite: only the buckets the affected or
    # fresh groups hash into change; the delta is their COMPLETE new
    # content (kept rows of those buckets minus affected groups, plus
    # every fresh row — fresh grp buckets are in the touched set by
    # construction, so nothing leaks)
    bcol = Ledger.bucket_col()
    touched = (
        affected_grps.select(bcol.alias("bucket"))
        .unionByName(fresh_led.select(bcol.alias("bucket")))
        .distinct()
    )
    # one collect serves both the counter and overwrite_buckets'
    # touched list (was a separate count job + a collect job)
    touched_list = [r["bucket"] for r in touched.collect()]
    counters["ledger_buckets_touched"] = len(touched_list)
    # checkpoint the kept side BEFORE unioning: (a) the write must not
    # read the path it overwrites, and (b) checkpointing a Union of a
    # pruned-join subtree trips Catalyst's constraint rewrite
    # (key-not-found on the pruned attribute) — two flat LogicalRDD
    # legs sidestep both
    kept = pin(
        led_df.where(F.col("bucket").isin(touched_list))
        .join(F.broadcast(affected_grps), "grp", "left_anti")
        .select("grp", *QUAD_COLUMNS)
    )
    delta = kept.unionByName(
        fresh_led.select("grp", *QUAD_COLUMNS)
    ).dropDuplicates(["grp", *QUAD_COLUMNS])
    ledger.overwrite_buckets(delta, touched_list)
    new_led = ledger.read()
    counters["t_ledger_write"] = round(_time.time() - _t0, 1)

    _t0 = _time.time()
    deletes = stale.join(
        new_led.select(*QUAD_COLUMNS),
        on=[
            stale[c].eqNullSafe(new_led[c]) for c in QUAD_COLUMNS
        ],
        how="left_anti",
    )
    # fused apply (r14): deletes (stale with no support in the new
    # ledger) and inserts (⊆ the new ledger) are DISJOINT by
    # construction, so one copy-on-write rewrite of the organizations
    # partition replaces the delete-rewrite + insert-append pair — one
    # commit instead of two on the corpus-sized graph
    engine.store.apply_delta(
        deletes,
        fresh_led.select(*QUAD_COLUMNS).dropDuplicates(QUAD_COLUMNS),
        target_graphs=[f"{GRAPH_NS}organizations"],
    )
    engine.update(
        provenance_update(
            run_id,
            ts,
            sources=[
                f"{GRAPH_NS}tl_companies",
                f"{GRAPH_NS}tl_users",
                f"{GRAPH_NS}ldap_organizations",
            ],
            result=f"{GRAPH_NS}organizations",
            graph=f"{GRAPH_NS}provenance",
        )
    )
    counters["t_apply"] = round(_time.time() - _t0, 1)
    return counters
