"""Full-text retrieval over a document corpus: BM25 ranking via an
inverted-index join.

The reference's workload stops at SPARQL-shaped graph queries
(`/root/reference/airflow_files/dags/sparql/`), but a training-data
pipeline needs lexical retrieval for decontamination triage, eval-set
mining, and seed-query corpus exploration.  This module implements the
standard Okapi BM25 scoring function as a pure DataFrame composition —
no UDFs, no driver-side loops — in the shape that scales: the corpus
side is touched once (tokenize → per-(doc, term) frequencies), the
query side is tiny and broadcast, and only documents containing at
least one query term ever reach the scoring join.

Determinism/oracle contract: per-(query, doc, term) contributions are
quantized to integer micro-units (``floor(x * 1e6 + 0.5)``) BEFORE the
per-document sum, so the aggregation is order-independent and matches
the DuckDB oracle exactly regardless of partitioning (same pattern as
``curation.unigram_logprob_score``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..ckpt import pin
from .text import tokens

__all__ = [
    "bm25_scores",
    "bm25_topk",
    "bm25_topk_steady",
    "build_text_index",
    "append_to_text_index",
    "rrf_fuse",
    "boolean_search",
    "parse_boolean_query",
    "phrase_search",
]


def parse_boolean_query(q: str) -> tuple[list[list[tuple[str, ...]]], list[str]]:
    """Parse a Lucene-lite boolean query string.

    Syntax: whitespace-separated atoms are ANDed; ``OR`` between atoms
    groups them into one disjunctive clause (``a OR b c`` = (a∨b)∧c);
    ``"quoted tokens"`` is an exact-adjacency phrase atom; ``-term``
    excludes documents containing the term (top-level NOT only — no
    negated phrases, no nesting, no parentheses; that's the tractable
    slice real filter workloads use). Atoms are lowercased to match
    :func:`..text.tokens`.

    Returns ``(clauses, excluded)``: clauses is a list of OR-groups,
    each a list of atoms ``("term", t)`` or ``("phrase", t1, t2, ...)``;
    excluded is a list of plain terms."""
    import re

    raw = re.findall(r'"[^"]*"|\S+', q)
    clauses: list[list[tuple[str, ...]]] = []
    excluded: list[str] = []
    pending_or = False
    for tokstr in raw:
        if tokstr.upper() == "OR":
            if not clauses:
                raise ValueError(f"query starts with OR: {q!r}")
            pending_or = True
            continue
        if tokstr.startswith("-") and len(tokstr) > 1:
            if tokstr[1] == '"':
                raise ValueError(f"negated phrases are not supported: {tokstr!r}")
            if pending_or:
                raise ValueError(f"OR before a negated term: {q!r}")
            excluded.append(tokstr[1:].lower())
            continue
        if tokstr.startswith('"'):
            words = tokstr.strip('"').lower().split()
            if not words:
                raise ValueError(f"empty phrase in query: {q!r}")
            atom = ("term", words[0]) if len(words) == 1 else ("phrase", *words)
        else:
            atom = ("term", tokstr.lower())
        if pending_or:
            clauses[-1].append(atom)
            pending_or = False
        else:
            clauses.append([atom])
    if pending_or:
        raise ValueError(f"query ends with OR: {q!r}")
    if not clauses and not excluded:
        raise ValueError(f"empty query: {q!r}")
    return clauses, excluded


def boolean_search(
    docs: DataFrame,
    queries: list[tuple[object, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Batch boolean/phrase retrieval: evaluate every query of a bounded
    batch in ONE corpus scan. Each query string uses the
    :func:`parse_boolean_query` syntax (AND / OR / ``-not`` /
    ``"exact phrase"``).

    Execution shape: the corpus is projected once to ``(id, distinct
    token set, ' '+joined-tokens+' ')``; every query compiles to a pure
    boolean expression over that row (``array_contains`` for terms,
    token-boundary substring for phrases) and all B queries evaluate in
    the same whole-stage-codegen pass — the scan is shared, cost is one
    corpus read regardless of batch size, and no shuffle exists at all
    (the output is a filter+explode of the scan). This is the right
    shape for batch filtering at 100 TB; for a standing high-QPS query
    service you would instead materialize the (term, doc) posting table
    (`bm25_scores` machinery) and probe it. Phrase adjacency is exact on
    token boundaries (single-space rejoin of the tokenizer's output).

    Returns ``(qid, doc_id)`` — one row per (query, matching document).
    """
    if not queries:
        raise ValueError("boolean_search needs at least one query")
    tks = tokens(F.col(text_col))
    prep = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(tks).alias("__ts"),
        F.concat(F.lit(" "), F.array_join(tks, " "), F.lit(" ")).alias("__jt"),
    )

    def atom_expr(atom):
        if atom[0] == "term":
            return F.array_contains(F.col("__ts"), atom[1])
        return F.instr(F.col("__jt"), " " + " ".join(atom[1:]) + " ") > 0

    hits = []
    for qid, q in queries:
        clauses, excluded = parse_boolean_query(q)
        cond = F.lit(True)
        for group in clauses:
            g = atom_expr(group[0])
            for a in group[1:]:
                g = g | atom_expr(a)
            cond = cond & g
        for t in excluded:
            cond = cond & ~F.array_contains(F.col("__ts"), t)
        hits.append(F.when(cond, F.lit(qid)))
    matched = F.filter(F.array(*hits), lambda x: x.isNotNull())
    return prep.select(F.explode(matched).alias("qid"), "doc_id")


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    qtext_col: str = "query",
) -> DataFrame:
    """Score every (query, document) pair that shares at least one term.

    Okapi BM25 with the +1 idf variant (Lucene's, never negative)::

        idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
        score(q, d) = sum_{t in q} idf(t) * tf * (k1+1)
                                   / (tf + k1 * (1 - b + b * dl/avgdl))

    Query-term multiplicity is ignored (terms are deduplicated), the
    conventional choice for short queries.  Documents with zero tokens
    never appear (no term rows).  ``df(t)`` counts documents over the
    WHOLE corpus, but is only computed for query terms.

    Returns ``(qid, doc_id, n_hit_terms, score_micro)`` where
    ``score_micro`` is the BM25 score in integer micro-units.

    Scale shape: one tokenize+explode scan of the corpus feeding a
    map-side-combinable (doc, term) count; the query-term set joins in
    BROADCAST so the corpus never shuffles on anything but the
    (doc, term) aggregation key; df/N/avgdl are tiny aggregates also
    broadcast back.  Per-query cost is proportional to the posting
    lists of its terms, not corpus size.
    """
    # tiny side: distinct (qid, term)
    qterm = (
        queries.select(
            F.col(qid_col).alias("qid"),
            F.explode(tokens(F.col(qtext_col))).alias("term"),
        )
        .distinct()
    )
    # corpus side: per-(doc, term) tf with doc length carried through
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).alias("dl"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # restrict the corpus to query terms BEFORE computing df; materialize
    # the surviving posting rows ONCE (r13): both consumers (the df
    # aggregate and the scoring join) otherwise re-run the corpus
    # tokenize→explode→tf aggregation — the expensive stage — and `hits`
    # is posting-list-sized by construction (only query-term rows), so
    # the checkpoint is bounded by the query batch, never the corpus
    hits = pin(
        tf.join(F.broadcast(qterm.select("term").distinct()), "term", "inner")
    )
    df_t = hits.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    # corpus scalars: N docs with >=1 token, average doc length
    stats = docs.select(
        F.size(tokens(F.col(text_col))).alias("dl")
    ).where(F.col("dl") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum(F.col("dl").cast("double")) / F.count(F.lit(1))).alias(
            "avgdl"
        ),
    )
    scored = (
        hits.join(F.broadcast(df_t), "term")
        .join(F.broadcast(qterm), "term")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", _bm25_contrib(k1, b).alias("c_micro"))
    )
    return scored.groupBy("qid", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        F.sum("c_micro").alias("score_micro"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    qtext_col: str = "query",
) -> DataFrame:
    """Top-``k`` documents per query by BM25 score.

    Deterministic tie-break: higher ``score_micro`` first, then lower
    ``doc_id``.  Returns ``(qid, rank, doc_id, n_hit_terms,
    score_micro)`` with dense 1-based ranks.

    Scale shape: the ranking window partitions by ``qid`` — per-query
    candidate sets (union of posting lists) are orders of magnitude
    smaller than the corpus, so the single window never sees a
    corpus-sized partition.  For a huge batch of queries the shuffle
    key is ``qid`` and balances across them.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    s = bm25_scores(
        docs,
        queries,
        k1=k1,
        b=b,
        id_col=id_col,
        text_col=text_col,
        qid_col=qid_col,
        qtext_col=qtext_col,
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "n_hit_terms", "score_micro")
    )


def phrase_search(
    docs: DataFrame,
    phrases: list[tuple[object, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional-index phrase search: exact-adjacency occurrence counts
    for a bounded batch of phrases — the POSTING-LIST twin of
    :func:`boolean_search`'s phrase atoms (which re-scan the corpus text).
    This is how a standing retrieval service executes phrases: per-term
    position lists, aligned and intersected.

    Execution shape: the corpus is position-exploded ONCE and immediately
    filtered to the phrase batch's vocabulary (broadcast ``isin`` before
    any shuffle — only posting rows for queried terms survive the scan);
    a k-token phrase is then a k-way equi-join on
    ``(doc_id, pos - token_index)``: a position that survives all k joins
    is the start of one exact occurrence. Everything is posting-list
    sized, never corpus sized; each join key is uniform (doc_id +
    aligned offset). Repeated tokens in a phrase ("batch batch") work
    unchanged — both joins read the same term's postings at different
    alignments, and overlapping occurrences each count.

    Returns ``(qid, doc_id, n_occurrences)`` — one row per document
    containing the phrase at least once.

    Caveats of the posting-table checkpoint (deliberate trade): the
    returned plan reads it, so it stays pinned until the consumer releases
    it (a ``ckpt.Checkpoints`` owner ``own``s the result and
    ``release``s it once consumed, or a ``getPersistentRDDs`` sweep as
    bench.py does); and checkpoint blocks are not
    recomputable on executor loss (executor-local storage, no lineage) —
    acceptable for an interactive/batch query, use ``persist()`` +
    re-derivation in a long-running service."""
    if not phrases:
        raise ValueError("phrase_search needs at least one phrase")
    parsed = []
    for qid, p in phrases:
        words = p.lower().split()
        if not words:
            raise ValueError(f"empty phrase for qid {qid!r}")
        parsed.append((qid, words))
    vocab = sorted({w for _, ws in parsed for w in ws})
    # referenced once per phrase token across the batch — materialize
    # the (tiny, vocabulary-filtered) posting table instead of
    # re-scanning the corpus k×B times
    post = pin(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
        ).where(F.col("term").isin(vocab)),
        lazy=True,
    )
    parts = []
    for qid, words in parsed:
        starts = None
        for i, w in enumerate(words):
            p = post.where(F.col("term") == w).select(
                "doc_id", (F.col("pos") - F.lit(i)).alias("base")
            )
            starts = p if starts is None else starts.join(p, ["doc_id", "base"])
        parts.append(
            starts.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_occurrences")
            ).select(F.lit(qid).alias("qid"), "doc_id", "n_occurrences")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    topk: int | None = None,
    weights_ppm: list[int] | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of N per-query rankings —
    the standard way to combine lexical (BM25) and semantic (embedding
    cosine) retrieval into one hybrid list.

    Each input DataFrame must have columns ``(qid, doc_id, rank)`` with
    1-based ranks and at most one row per (qid, doc_id).  A document's
    fused score is ``sum over systems of 1/(k + rank)``; here each term
    is the exact integer ``1000000 div (k + rank)`` so the sum is
    order-independent and engine-exact (Spark ``div`` ≡ DuckDB ``//``
    on positive integers).  Documents appearing in only some systems
    simply receive fewer terms (standard RRF).

    Returns ``(qid, rank, doc_id, n_systems, rrf_micro)`` — fused
    1-based rank per query (ties: lower ``doc_id`` first), the number
    of input systems that returned the doc, and the fused score in
    integer micro-units.  ``topk=None`` keeps all fused candidates.

    Scale shape: inputs are already per-query top-k lists (bounded —
    systems × k rows per query), so the union + (qid, doc_id) sum +
    per-qid window all operate on data proportional to the number of
    queries, never to corpus size.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if weights_ppm is None:
        weights_ppm = [1_000_000] * len(rankings)
    if len(weights_ppm) != len(rankings) or any(w < 0 for w in weights_ppm):
        raise ValueError(
            f"weights_ppm needs one non-negative weight per ranking, got {weights_ppm}"
        )
    # weighted variant: each system's term is weight_ppm DIV (k + rank) —
    # still an exact positive-integer division on both engines; the
    # default (1e6 ppm each) reproduces unweighted RRF bit-for-bit
    parts = [
        r.select(
            F.col("qid"),
            F.col("doc_id"),
            F.expr(f"CAST({int(w)} DIV ({int(k)} + rank) AS BIGINT)").alias(
                "c"
            ),
        )
        for r, w in zip(rankings, weights_ppm)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("qid", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_systems"),
        F.sum("c").alias("rrf_micro"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    )
    out = fused.withColumn("rank", F.row_number().over(w).cast("long"))
    if topk is not None:
        out = out.where(F.col("rank") <= int(topk))
    return out.select("qid", "rank", "doc_id", "n_systems", "rrf_micro")


def _bm25_contrib(k1: float, b: float) -> Column:
    """The per-(query-term, doc) BM25 contribution in integer micro-units,
    over standard column names ``tf, dl, df, n_docs, avgdl`` — ONE
    definition shared by the batch scorer (:func:`bm25_scores`) and the
    steady-index probe (:func:`bm25_topk_steady`), so the two paths
    cannot drift (they are oracled against the same SQL)."""
    idf = F.log(
        F.lit(1.0)
        + (
            F.col("n_docs").cast("double")
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(float(k1)) * (
        F.lit(1.0 - float(b))
        + F.lit(float(b)) * F.col("dl").cast("double") / F.col("avgdl")
    )
    return (
        F.floor(idf * tf_d * F.lit(float(k1) + 1.0) / denom * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
    )


def build_text_index(
    corpus: DataFrame,
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 16,
    mode: str = "overwrite",
) -> tuple[str, str]:
    """One-time inverted-index build for :func:`bm25_topk_steady`:
    persist the corpus's posting list ``(term, doc_id, tf, dl)`` BUCKETED
    on ``term`` — the probe join's key — as managed table
    ``{table_prefix}_postings``, plus a ``{table_prefix}_stats`` partials
    table holding ``(n_docs, sum_dl)`` for the batch.

    This completes the admission-cycle triptych (dedup:
    :func:`~.dedup.build_dedup_index`; ANN: :func:`~.similarity
    .ivf_append`) for the third retrieval family: a production search
    service tokenizes the corpus ONCE at indexing time; queries must not
    re-scan raw text. Bucketing on ``term`` means a probe for a bounded
    query vocabulary reads only the buckets those terms hash to
    (``SelectedBucketsCount`` in the plan) with no Exchange over the
    postings — the scan is the exchange, the dedup-index property.

    The stats table is APPEND-ONLY mergeable partials (the
    :func:`~.stats.aggregate_partials` algebra): each build/append batch
    writes one ``(n_docs, sum_dl)`` row; the probe SUMs them — corpus
    scalars stay exact without a read-modify-write cycle. ``sum_dl`` is
    an exact bigint, so ``avgdl = sum_dl / n_docs`` is the same double
    the one-shot scorer computes (integer-valued double sums are exact
    below 2^53) — probe scores are bit-identical to :func:`bm25_topk`
    over the same corpus.
    """
    from .layout import write_bucketed
    from .text import tokens as _tokens

    tok = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.size(_tokens(F.col(text_col))).alias("dl"),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    )
    postings = tok.groupBy("term", "doc_id", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = (
        corpus.select(F.size(_tokens(F.col(text_col))).alias("dl"))
        .where(F.col("dl") > 0)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("dl").cast("long")).cast("long").alias("sum_dl"),
        )
    )
    postings_table = f"{table_prefix}_postings"
    stats_table = f"{table_prefix}_stats"
    write_bucketed(postings, postings_table, ["term"], num_buckets, mode=mode)
    stats.write.mode(mode).format("parquet").saveAsTable(stats_table)
    return postings_table, stats_table


def append_to_text_index(
    new_docs: DataFrame,
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 16,
) -> None:
    """Admit a document batch into the steady-state inverted index:
    append its posting rows (restating the bucket spec — Spark verifies
    it against the table's metadata, the guard that keeps probes
    shuffle-free as the index grows) and one ``(n_docs, sum_dl)``
    partials row. Only batch-sized data is tokenized and shuffled; the
    existing index is never read. Probing after an append is exactly
    equivalent to a one-shot :func:`bm25_topk` over the union corpus
    (df/N/avgdl all recompose — pinned in tests)."""
    build_text_index(
        new_docs,
        table_prefix,
        id_col=id_col,
        text_col=text_col,
        num_buckets=num_buckets,
        mode="append",
    )


def bm25_topk_steady(
    queries: DataFrame,
    table_prefix: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    qid_col: str = "qid",
    qtext_col: str = "query",
) -> DataFrame:
    """Top-``k`` BM25 retrieval against the PREBUILT bucketed inverted
    index of :func:`build_text_index` — the steady-state read path: no
    raw-text scan, no corpus tokenize, no Exchange over the postings.

    The distinct query vocabulary is collected (bounded: queries are a
    tiny batch by contract — same bounded-collect class as the IVF
    centroid sample) and pushed as a LITERAL ``term IN (...)`` filter,
    so the bucketed scan prunes to the buckets containing query terms
    (``SelectedBucketsCount < total`` — plan-pinned in tests).
    ``df(t)`` is counted from the pruned posting rows (identical to the
    whole-corpus df: the filter is BY term); ``N``/``avgdl`` come from
    summing the stats partials. Scoring reuses :func:`_bm25_contrib`,
    so results are bit-identical to :func:`bm25_topk` over the same
    corpus and share its oracle.

    Returns ``(qid, rank, doc_id, n_hit_terms, score_micro)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from .text import tokens as _tokens

    spark = queries.sparkSession
    qterm = (
        queries.select(
            F.col(qid_col).alias("qid"),
            F.explode(_tokens(F.col(qtext_col))).alias("term"),
        )
        .distinct()
    )
    terms = [r["term"] for r in qterm.select("term").distinct().collect()]
    if not terms:
        return spark.createDataFrame(
            [],
            "qid long, rank long, doc_id long, n_hit_terms long, "
            "score_micro long",
        )
    hits = spark.table(f"{table_prefix}_postings").where(
        F.col("term").isin(terms)
    )
    df_t = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = spark.table(f"{table_prefix}_stats").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        (
            F.sum("sum_dl").cast("double")
            / F.sum("n_docs").cast("double")
        ).alias("avgdl"),
    )
    scored = (
        hits.join(F.broadcast(df_t), "term")
        .join(F.broadcast(qterm), "term")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", _bm25_contrib(k1, b).alias("c_micro"))
    )
    s = scored.groupBy("qid", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        F.sum("c_micro").alias("score_micro"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "n_hit_terms", "score_micro")
    )


def dcg_factors_micro(k: int) -> list[int]:
    """``floor(1e6 / log2(i + 1))`` for ranks i = 1..k, computed ONCE in
    Python and injected as integer literals into both the Spark plan
    and the SQL oracle — so the discounted-gain arithmetic is
    integer-exact cross-engine with zero runtime float ops."""
    import math

    return [int(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def ranking_metrics(
    runs: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    qid_col: str = "qid",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Ranked-retrieval evaluation — MRR, P@k and nDCG@k per query, the
    scorecard every retriever/reranker change ships with: ``runs`` are
    the system's ranked results (dense rank 1..k per query), ``qrels``
    the graded relevance judgments. One row per query in runs:
    ``(qid, n_retrieved, n_rel, mrr_micro, p_at_k_ppm, dcg_micro,
    idcg_micro, ndcg_micro)``.

    Exactness: every metric is integer arithmetic — MRR = 1e6 div the
    first relevant rank; the DCG rank discounts are
    :func:`dcg_factors_micro` integer literals (same numbers in the
    oracle by construction); nDCG = dcg·1e6 div idcg (0 when idcg = 0).
    Scale shape: one co-partitioned left join runs⋈qrels on (qid, doc),
    one qid-keyed aggregate, and an ideal-gain window PARTITIONED BY
    QUERY over qrels (judgment lists are eval-set-sized by nature; the
    window never sees the corpus). No UDF, no collect."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    factors = dcg_factors_micro(k)
    fmap = F.map_from_arrays(
        F.array(*[F.lit(i + 1) for i in range(k)]),
        F.array(*[F.lit(f) for f in factors]),
    )
    r = runs.select(
        F.col(qid_col).alias("qid"),
        F.col(doc_col).alias("doc"),
        F.col(rank_col).cast("bigint").alias("rk"),
    ).where(F.col(rank_col) <= k)
    # materialized once (r13): three consumers (the relevance join, the
    # ideal-gain window, the n_rel aggregate) otherwise re-execute the
    # caller's whole qrels pipeline per consumer; judgment lists are
    # eval-set-sized by nature, so the checkpoint is small by contract
    q = pin(
        qrels.select(
            F.col(qid_col).alias("qid"),
            F.col(doc_col).alias("doc"),
            F.col(rel_col).cast("bigint").alias("rel"),
        )
    )
    j = r.join(q, ["qid", "doc"], "left").select(
        "qid",
        "rk",
        F.coalesce("rel", F.lit(0)).alias("rel"),
        F.element_at(fmap, F.col("rk").cast("int")).alias("_f"),
    )
    per = j.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_retrieved"),
        F.min(F.when(F.col("rel") > 0, F.col("rk"))).alias("_first_rel"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("_n_hit"),
        F.sum(F.col("rel") * F.col("_f")).cast("bigint").alias("dcg_micro"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("rel").desc(), F.col("doc").asc()
    )
    ideal = (
        q.where(F.col("rel") > 0)
        .select(
            "qid",
            "rel",
            F.row_number().over(w).cast("int").alias("_i"),
        )
        .where(F.col("_i") <= k)
        .select(
            "qid",
            (F.col("rel") * F.element_at(fmap, F.col("_i"))).alias("_g"),
        )
        .groupBy("qid")
        .agg(F.sum("_g").cast("bigint").alias("idcg_micro"))
    )
    n_rel = q.where(F.col("rel") > 0).groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel")
    )
    return (
        per.join(ideal, "qid", "left")
        .join(n_rel, "qid", "left")
        .select(
            "qid",
            "n_retrieved",
            F.coalesce("n_rel", F.lit(0)).cast("bigint").alias("n_rel"),
            F.coalesce(
                F.expr("1000000 div _first_rel"), F.lit(0)
            )
            .cast("bigint")
            .alias("mrr_micro"),
            F.expr(f"_n_hit * 1000000 div {k}")
            .cast("bigint")
            .alias("p_at_k_ppm"),
            "dcg_micro",
            F.coalesce("idcg_micro", F.lit(0)).cast("bigint").alias("idcg_micro"),
            F.expr(
                "case when coalesce(idcg_micro, 0) > 0 "
                "then dcg_micro * 1000000 div idcg_micro else 0 end"
            )
            .cast("bigint")
            .alias("ndcg_micro"),
        )
    )
