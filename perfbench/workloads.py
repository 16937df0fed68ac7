"""The three workloads. Each makes its inputs once in ``generate``,
computes its expected results once in ``prepare`` through
:mod:`checks`, builds its starting state in ``setup`` (repeated; the
median is ``setup_s``), and runs ``iteration`` in the timed loop. Only the work
inside ``with clock:`` counts towards a metric; the checks between and
after those blocks run untimed."""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledge_graph_etl_spark.engine import GRAPH_NS, SOURCE_NS, Engine
from knowledge_graph_etl_spark.ingest import json_to_quads
from knowledge_graph_etl_spark.mappings import pipeline
from knowledge_graph_etl_spark.mappings.fixtures import volume_documents
from knowledge_graph_etl_spark.store import GraphStore

import checks

STAGING = [GRAPH_NS + g for g in pipeline.STAGING_GRAPHS]
COMPANIES = GRAPH_NS + "tl_companies"
LDAP = GRAPH_NS + "ldap_organizations"
PREFIXES = f"""PREFIX source: <{SOURCE_NS}>
PREFIX graphs: <{GRAPH_NS}>
"""


class Clock:
    """Sums the time spent inside ``with clock:`` blocks; with a tracer,
    also opens and closes its Spark job window."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.seconds = 0.0

    def __enter__(self):
        if self.tracer is not None:
            self.tracer.resume()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        dur = time.perf_counter() - self._t0
        self.seconds += dur
        if self.tracer is not None:
            self.tracer.pause(dur)
        return False


@dataclass
class Result:
    """One iteration: its requests' latencies and whether each was right."""

    ops_ms: list[float] = field(default_factory=list)
    ok: list[bool] = field(default_factory=list)
    quads: int = 0
    live_quads: int = 0
    store_bytes: int = 0
    layers: dict[str, float] = field(default_factory=dict)


def cached(spark, path: str, df: DataFrame) -> DataFrame:
    """``df``, written to ``path`` by the first run that needs it and read
    back from there by every run: an input that does not depend on the
    seed is computed once per checkout."""
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        df.write.parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # another run got there first
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def corpus(spark, n: int, seed: int, cache: str) -> dict[str, DataFrame]:
    """The volume corpus, materialized, rows ordered by a seeded hash so
    the seed changes the order documents are written in."""
    out = {}
    for name, df in volume_documents(spark, n_companies=n).items():
        df = cached(spark, os.path.join(cache, name), df)
        key = F.xxhash64(F.lit(seed), F.col("doc_id"))
        out[name] = (
            df.repartition(spark.sparkContext.defaultParallelism)
            .sortWithinPartitions(key)
            .localCheckpoint(eager=True)
        )
    return out


def staged_quads(docs: dict[str, DataFrame]) -> DataFrame:
    """All sources direct-mapped into their staging graphs, one batch."""
    return reduce(
        DataFrame.unionByName,
        [
            json_to_quads(df, GRAPH_NS + name, namespace=SOURCE_NS)
            for name, df in docs.items()
        ],
    )


def mapped(spark, docs: dict[str, DataFrame], cache: str) -> DataFrame:
    """The corpus's distinct staged quads, materialized."""
    path = os.path.join(cache, "staged_quads")
    return cached(spark, path, staged_quads(docs).distinct()).localCheckpoint(eager=True)


class Workload:
    name = ""
    #: untimed, checked iterations between set-up and the timed loop
    warmup = 1

    def __init__(self, spark, work: str, seed: int, n: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n = n
        self.rng = random.Random(seed)
        self.docs: dict[str, DataFrame] = {}

    def generate(self) -> None:
        """Inputs, made once per run and untimed: the corpus and its
        direct-mapped quads. Both are the same for every seed, so they
        are kept next to the run's work directory for later runs."""
        cache = os.path.join(os.path.dirname(self.work), f"inputs-{self.n}")
        self.docs = corpus(self.spark, self.n, self.seed, cache)
        self.quads = mapped(self.spark, self.docs, cache)

    def setup(self) -> None:
        """Build the starting state; timed and repeated."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Expected results, computed once without the engine's
        compiler or store."""

    def before(self) -> None:
        """Reset the starting state of the next iteration (untimed)."""

    def ingested(self) -> list[dict[str, DataFrame]]:
        """The document batches one iteration direct-maps."""
        return []

    def iteration(self, clock: Clock) -> Result:
        raise NotImplementedError

    def watch_path(self) -> str:
        """Directory whose new files the trace counts."""
        raise NotImplementedError


class FullLoad(Workload):
    """The reference lifecycle minus the 13 mapping files, on a fresh
    store each iteration."""

    name = "full_load"

    #: set-up already runs whole loads, which warm every path an iteration takes
    warmup = 0

    def generate(self) -> None:
        super().generate()
        self.updates = [
            pipeline.add_logo_update(checks.ENV),
            pipeline.add_ldap_logo_update(checks.ENV),
            pipeline.provenance_update(
                f"perfbench-{self.seed}",
                "2024-01-01T00:00:00+00:00",
                sources=[COMPANIES, GRAPH_NS + "tl_users", LDAP],
                result=checks.ORGANIZATIONS,
                graph=GRAPH_NS + "provenance",
            ),
        ]

    def setup(self) -> None:
        """The iteration's starting state is an empty directory, so set-up
        is one whole load into a scratch store: on a cold JVM it is where
        JVM start-up and JIT warm-up land, and later repetitions leave the
        timed loop a warm JVM."""
        path = os.path.join(self.work, "full_load-setup")
        shutil.rmtree(path, ignore_errors=True)
        engine = Engine(self.spark, path)
        clock = Clock()
        self._stage(engine, clock)
        self._derive(engine, clock)
        shutil.rmtree(path, ignore_errors=True)

    def prepare(self) -> None:
        self.expected_staged = self.quads.count()
        self.expected_org = checks.expected_organizations(self.quads)
        self._k = 0

    def watch_path(self) -> str:
        return self._path

    def ingested(self) -> list[dict[str, DataFrame]]:
        return [self.docs]

    def before(self) -> None:
        if self._k:
            shutil.rmtree(self._path, ignore_errors=True)
        self._k += 1
        self._path = os.path.join(self.work, f"full_load-{self._k}")
        shutil.rmtree(self._path, ignore_errors=True)
        os.makedirs(self._path)
        if checks.inventory(self._path) != (0, 0):
            raise RuntimeError(f"store {self._path} does not start empty")

    def _stage(self, engine: Engine, clock: Clock) -> None:
        with clock:
            for g in STAGING:
                engine.update(f"CLEAR SILENT GRAPH <{g}>")
            engine.store.insert(staged_quads(self.docs), target_graphs=STAGING)

    def _derive(self, engine: Engine, clock: Clock) -> None:
        with clock:
            engine.update(f"CLEAR SILENT GRAPH <{checks.ORGANIZATIONS}>")
            for u in self.updates:
                engine.update(u)
            for g in STAGING:
                engine.update(f"DROP SILENT GRAPH <{g}>")
            engine.store.optimize()

    def iteration(self, clock: Clock) -> Result:
        engine = Engine(self.spark, self._path)
        self._stage(engine, clock)
        staged = engine.store.dataset(STAGING).count()
        self._derive(engine, clock)
        fps = checks.fingerprints(engine.store.quads())
        ok = staged == self.expected_staged and (
            fps.get(checks.ORGANIZATIONS) == self.expected_org
        )
        if not ok:
            _log(f"full_load: staged {staged} vs {self.expected_staged}, "
                 f"organizations {fps.get(checks.ORGANIZATIONS)} vs {self.expected_org}")
        return Result(
            ops_ms=[clock.seconds * 1000.0],
            ok=[ok],
            quads=self.expected_staged + self.expected_org[0],
            live_quads=sum(n for n, _ in fps.values()),
            store_bytes=checks.inventory(self._path)[1],
        )


class StoreWorkload(Workload):
    """A workload that starts from an optimized store of every staging
    graph."""

    def build(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        store = GraphStore(self.spark, path)
        store.insert(self.quads, target_graphs=STAGING)
        store.optimize()


class ReadMix(StoreWorkload):
    """Six read queries, one client in a closed loop, over an optimized
    staging store that nothing writes to."""

    name = "read_mix"
    CONSTANTS = 16

    def setup(self) -> None:
        self._path = os.path.join(self.work, "read_mix")
        self.build(self._path)
        self.inventory = checks.inventory(self._path)
        self.engine = Engine(self.spark, self._path)

    def watch_path(self) -> str:
        return self._path

    def prepare(self) -> None:
        q = self.quads
        n, rng = self.n, self.rng
        self.live = q.count()
        by_name = checks.websites_by_name(q)
        by_pc = checks.names_by_postal_code(q)
        units = checks.described_units(q)
        self.fixed = {
            "star_group_by": checks.city_counts(q),
            "optional_unbound": checks.users_without_function(q),
            "nested_bnode_join": checks.companies_with_orid(q),
        }
        names = [f"Volume Organisatie {rng.randrange(n)}" for _ in range(self.CONSTANTS)]
        pcs = [str(9000 + rng.randrange(min(n, 800))) for _ in range(self.CONSTANTS)]
        ous = [
            f"OR-vol{2 * 5 * rng.randrange(max(n // 10, 1)):06d}-unit1"
            for _ in range(self.CONSTANTS)
        ]
        self.constants = [
            (name, by_name.get(name, []), pc, by_pc.get(pc, []), ou, ou in units)
            for name, pc, ou in zip(names, pcs, ous)
        ]
        self._pass = 0

    def queries(self, k: int):
        """(name, kind, text, expected) for pass ``k``."""
        name, name_rows, pc, pc_rows, ou, ou_exists = self.constants[
            k % len(self.constants)
        ]
        return [
            (
                "star_group_by", "select",
                PREFIXES + """SELECT ?city (COUNT(?ad) AS ?n)
FROM graphs:tl_companies
WHERE { ?ad source:city ?city ; source:postal_code ?pc ; source:line_1 ?line . }
GROUP BY ?city""",
                self.fixed["star_group_by"],
            ),
            (
                "constant_lookup", "select",
                PREFIXES + f"""SELECT ?c ?w
WHERE {{ ?c source:name "{name}" ; source:website ?w . }}""",
                name_rows,
            ),
            (
                "optional_unbound", "select",
                PREFIXES + """SELECT ?u ?email
FROM graphs:tl_users
WHERE { ?u source:email ?email . OPTIONAL { ?u source:function ?f } FILTER(!BOUND(?f)) }""",
                self.fixed["optional_unbound"],
            ),
            (
                "nested_bnode_join", "select",
                PREFIXES + """SELECT ?o ?orid
FROM graphs:tl_companies
FROM graphs:tl_custom_fields
WHERE {
  ?cf_orid source:id ?cf_orid_id ; source:label "5.1 - OR-ID" .
  ?o source:custom_fields [ source:value ?orid ; source:definition [ source:id ?cf_orid_id ] ] .
}""",
                self.fixed["nested_bnode_join"],
            ),
            (
                "sequence_path", "select",
                PREFIXES + f"""SELECT ?c ?name
FROM graphs:tl_companies
WHERE {{ ?c source:addresses/source:address/source:postal_code "{pc}" . ?c source:name ?name . }}""",
                pc_rows,
            ),
            (
                "ask", "ask",
                PREFIXES + f"""ASK {{ ?u source:ou "{ou}" ; source:description ?d . }}""",
                ou_exists,
            ),
        ]

    def iteration(self, clock: Clock) -> Result:
        res = Result()
        for qname, kind, text, expected in self.queries(self._pass):
            before = clock.seconds
            with clock:
                if kind == "ask":
                    got = self.engine.ask(text)
                else:
                    got = self.engine.select(text).collect()
            res.ops_ms.append((clock.seconds - before) * 1000.0)
            if kind != "ask":
                got = sorted(tuple(None if v is None else str(v) for v in r) for r in got)
            res.ok.append(got == expected)
            if got != expected:
                _log(f"read_mix: {qname} pass {self._pass} differs from the expected answer")
        self._pass += 1
        if checks.inventory(self._path) != self.inventory:
            _log("read_mix: the store changed during a read-only pass")
            res.ok[-1] = False
        res.quads = self.live * len(res.ops_ms)
        res.live_quads = self.live
        res.store_bytes = self.inventory[1]
        return res


class DeltaApply(StoreWorkload):
    """A seeded delta touching 1% of the companies and ldap orgs, half
    removed and half edited, applied to a pristine store through
    ``GraphStore.apply_delta``; the store is restored before every
    iteration."""

    name = "delta_apply"
    SHARE = 0.01

    def setup(self) -> None:
        self._pristine = os.path.join(self.work, "delta_pristine")
        self.build(self._pristine)
        self.inventory = checks.inventory(self._pristine)
        self._path = os.path.join(self.work, "delta_store")

    def watch_path(self) -> str:
        return self._path

    def _changes(self, source: str, count: int):
        """(removed doc ids, {doc id: edited json}) for one source."""
        ids = self.rng.sample(range(count), max(2, round(count * self.SHARE)))
        half = len(ids) // 2
        removed = [f"{source}-{i}" for i in ids[:half]]
        edited = [f"{source}-{i}" for i in ids[half:]]
        old = {
            r["doc_id"]: r["json"]
            for r in self.docs[source].where(F.col("doc_id").isin(edited)).collect()
        }
        return removed, {d: json.dumps(_edit(source, json.loads(t))) for d, t in old.items()}

    def prepare(self) -> None:
        changes = {
            "tl_companies": self._changes("tl_companies", self.n),
            "ldap_organizations": self._changes("ldap_organizations", max(self.n // 2, 1)),
        }
        schema = "doc_id string, json string"
        self.old_docs, self.new_docs = {}, {}
        for source, (removed, edited) in changes.items():
            self.old_docs[source] = self.docs[source].where(
                F.col("doc_id").isin(removed + list(edited))
            ).localCheckpoint(eager=True)
            self.new_docs[source] = self.spark.createDataFrame(
                sorted(edited.items()), schema
            ).localCheckpoint(eager=True)
        old, new = staged_quads(self.old_docs), staged_quads(self.new_docs)
        dels = checks.fingerprints(old.subtract(new))
        ins = checks.fingerprints(new.subtract(old))
        base = checks.fingerprints(self.quads)
        # (base ∖ dels) ∪ ins, summed per graph: dels ⊆ base because the
        # old documents are in the corpus, and ins ∩ base = ∅ because
        # every quad's subject is a node scoped to its document
        zero = (0, 0)
        self.expected = {
            g: tuple(
                b - d + i
                for b, d, i in zip(base[g], dels.get(g, zero), ins.get(g, zero))
            )
            for g in (COMPANIES, LDAP)
        }
        self.delta_quads = sum(n for n, _ in dels.values()) + sum(
            n for n, _ in ins.values()
        )

    def ingested(self) -> list[dict[str, DataFrame]]:
        return [self.old_docs, self.new_docs]

    def before(self) -> None:
        shutil.rmtree(self._path, ignore_errors=True)
        shutil.copytree(self._pristine, self._path)
        if checks.inventory(self._path) != self.inventory:
            raise RuntimeError("restored store differs from the pristine one")

    def iteration(self, clock: Clock) -> Result:
        store = GraphStore(self.spark, self._path)
        with clock:
            old = staged_quads(self.old_docs)
            new = staged_quads(self.new_docs)
            store.apply_delta(
                old.subtract(new), new.subtract(old), target_graphs=[COMPANIES, LDAP]
            )
        fps = checks.fingerprints(store.quads())
        got = {g: fps.get(g) for g in (COMPANIES, LDAP)}
        ok = got == self.expected
        if not ok:
            _log(f"delta_apply: touched graphs {got} vs expected {self.expected}")
        return Result(
            ops_ms=[clock.seconds * 1000.0],
            ok=[ok],
            quads=self.delta_quads,
            live_quads=sum(n for n, _ in fps.values()),
            store_bytes=checks.inventory(self._path)[1],
        )


def _edit(source: str, doc: dict) -> dict:
    """A realistic edit: renamed, one contact detail and one flag changed."""
    if source == "tl_companies":
        doc["name"] += " (gewijzigd)"
        doc["emails"][1]["email"] = "nieuw-" + doc["emails"][1]["email"]
        for cf in doc["custom_fields"]:
            if isinstance(cf["value"], bool):
                cf["value"] = not cf["value"]
                break
    else:
        attrs = doc["attributes"]
        attrs["description"] += " (gewijzigd)"
        attrs["street"] = "Nieuwstraat 1"
    return doc


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


WORKLOADS = {w.name: w for w in (FullLoad, ReadMix, DeltaApply)}
