"""Corpus-curation operators for large-scale training-data pipelines.

Beyond-reference extensions (the reference ships no text corpus tooling;
SURVEY.md §2 covers its ETL surface) — the operations an LLM training-data
pipeline runs over a ~100 TB ``documents`` table after the dedup family in
:mod:`.dedup`:

* :func:`repetition_signals` — Gopher-style within-document repetition
  ratios (duplicate n-gram fraction, top-bigram fraction) used as quality
  filters.
* :func:`dedup_lines` — CCNet-style corpus-wide line-level deduplication
  (first occurrence wins), reassembling each document from its kept lines.
* :func:`decontaminate` — benchmark n-gram overlap flagging: any document
  sharing an n-gram with the benchmark set is marked for exclusion.
* :func:`pii_redact` — regex scrubbing of email / IPv4 / long-digit
  sequences with per-pattern match counts.
* :func:`assign_split` / :func:`assign_shards` — deterministic hash-based
  train/val/test splitting and shard assignment (no sampling
  nondeterminism, stable under re-runs and retries).

Everything is pure DataFrame ops (JVM-side, whole-stage codegen). The only
shuffles are the per-key aggregations that define the semantics (per-doc
gram counts, corpus-wide first-occurrence, gram-overlap join) — each keyed
by doc id, line hash, or gram hash, all high-cardinality uniform keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..ckpt import pin
from .hashing import md5_u60
from .text import punct_ratio, stopword_ratio, token_count, tokens, zip_kgrams

# ---------------------------------------------------------------------------
# repetition signals (Gopher quality filters)
# ---------------------------------------------------------------------------


def repetition_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    append: bool = False,
) -> DataFrame:
    """Within-document repetition ratios (Gopher §A1.1-style filters):

    * ``dup_2gram_frac`` / ``dup_3gram_frac`` — ``1 - distinct/total``
      n-grams: the mass of repeated n-grams.
    * ``top_2gram_frac`` — occurrences of the most frequent bigram over
      all bigrams: catches boilerplate loops a distinct-ratio misses.

    All three are WITHIN-document statistics, so the whole operator is a
    pure per-row map over the gram arrays — NO explode, NO shuffle, no
    row-count change (the natural formulation, explode → count by
    (doc, gram) → reduce by doc, pays two full shuffles of the gram
    stream for statistics each document can compute locally). Duplicate
    mass is ``size - size(array_distinct)``; the top-bigram count is the
    longest equal-run of the SORTED gram array, folded in one
    ``aggregate`` pass (state = (prev, run, best) — stays in codegen)."""
    tks = tokens(F.col(text_col))

    def frac(num: Column, den: Column) -> Column:
        return F.round(
            F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(0.0), 6
        )

    def dup_frac(k: int) -> Column:
        g = zip_kgrams(tks, k)
        return frac(F.size(g) - F.size(F.array_distinct(g)), F.size(g))

    g2 = F.array_sort(zip_kgrams(tks, 2))
    top2 = F.aggregate(
        g2,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    signal_cols = [
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
        frac(top2, F.size(zip_kgrams(tks, 2))).alias("top_2gram_frac"),
    ]
    if append:
        # keep every input column (a filter-pipeline caller needs the text
        # downstream) — since the signals are per-row, appending avoids
        # the id-join a separate signal table would force
        return docs.select("*", *signal_cols)
    return docs.select(F.col(id_col), *signal_cols)


def unigram_logprob_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style language-model quality proxy with the LM trained on the
    corpus itself: per document, the average unigram negative
    log-likelihood ``-avg log2 p(token)`` where ``p`` is the corpus token
    frequency. Unusually low = boilerplate/repetitive; unusually high =
    noise/garbled — the two tails a perplexity filter trims.

    Emits ``(doc_id, n_tokens, nll_q, avg_nll)``; ``nll_q`` is the sum of
    per-occurrence bits quantized to 1e-6 integers, so the aggregation is
    ORDER-INDEPENDENT (a float sum would differ across partitionings and
    engines) and ``avg_nll`` derives from exact integers. Documents with
    zero tokens are omitted (no distribution to score them under).

    Scale shape: one count aggregate on the token key + one 1:N join of
    occurrences to counts (the hot stopword keys are 1:N — no fan-out —
    and land in single partitions AQE handles) + one per-doc aggregate.
    The token relation is derived twice (count + join); at 100 TB cache
    or checkpoint it if the tokenize dominates the two scans."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    cnt = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").alias("t"))
    q = (
        tok.join(cnt, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col(id_col),
            F.floor(
                -F.log2(F.col("c").cast("double") / F.col("t")) * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("q"),
        )
    )
    return (
        q.groupBy(id_col)
        .agg(
            F.sum("q").alias("nll_q"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "nll_q",
            F.round(
                F.col("nll_q").cast("double") / F.col("n_tokens") / F.lit(1000000.0),
                6,
            ).alias("avg_nll"),
        )
    )


def bigram_logprob_score(
    docs: DataFrame,
    lam: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram language-model quality proxy (the CCNet-perplexity analog one
    order up from :func:`unigram_logprob_score`): per document, the average
    negative log2-likelihood under an interpolated bigram LM trained on the
    corpus itself — ``p(w_i|w_{i-1}) = λ·c(w_{i-1}w_i)/c_left(w_{i-1}) +
    (1-λ)·c(w_i)/N``; the first token scores under the unigram model.
    Interpolation (Jelinek-Mercer) rather than strict MLE so the scorer
    stays well-defined when applied to held-out text whose bigrams were
    never seen (the unigram floor keeps p > 0 for known tokens).

    Emits ``(doc_id, n_tokens, nll_q, avg_nll)`` with the same
    order-independent 1e-6 integer quantization as the unigram scorer
    (float sums would differ across partitionings/engines). Zero-token
    documents are omitted.

    Scale shape: two count aggregates (unigram key, bigram pair key — both
    uniform hash keys) + 1:N joins of occurrences to counts (hot function
    words are 1:N, no fan-out) + one per-doc aggregate. No Python UDFs."""
    one_m = 1000000.0
    tks = tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("id"), tks.alias("toks")).where(
        F.size("toks") > 0
    )
    n = F.size("toks")
    tok = base.select("id", F.explode("toks").alias("tok"))
    uc = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cu"))
    tot = uc.agg(F.sum("cu").alias("tt"))
    z = F.arrays_zip(
        F.slice(F.col("toks"), 1, n - 1).alias("prev"),
        F.slice(F.col("toks"), 2, n - 1).alias("cur"),
    )
    bi = (
        base.where(n >= 2)
        .select("id", F.explode(z).alias("bg"))
        .select("id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    )
    bc = bi.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cb"))
    pc = bi.groupBy("prev").agg(F.count(F.lit(1)).alias("cp"))

    def quant(p: Column) -> Column:
        return (
            F.floor(-F.log2(p) * F.lit(one_m) + F.lit(0.5)).cast("long").alias("q")
        )

    qf = (
        base.select("id", F.col("toks")[0].alias("tok"))
        .join(uc, "tok")
        .crossJoin(F.broadcast(tot))
        .select("id", quant(F.col("cu").cast("double") / F.col("tt")))
    )
    qb = (
        bi.join(bc, ["prev", "cur"])
        .join(pc, "prev")
        .join(uc, bi["cur"] == uc["tok"])
        .crossJoin(F.broadcast(tot))
        .select(
            "id",
            quant(
                F.lit(lam) * F.col("cb").cast("double") / F.col("cp")
                + F.lit(1.0 - lam) * F.col("cu").cast("double") / F.col("tt")
            ),
        )
    )
    return (
        qf.unionByName(qb)
        .groupBy("id")
        .agg(
            F.sum("q").alias("nll_q"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "nll_q",
            F.round(
                F.col("nll_q").cast("double") / F.col("n_tokens") / F.lit(one_m),
                6,
            ).alias("avg_nll"),
        )
    )


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    domain_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic domain reweighting for training-data mixtures
    (the Pile/DoReMi-style "epochs per domain" knob): a domain with
    weight ``w < 1`` is downsampled to a ``w`` fraction of its documents;
    ``w > 1`` repeats every document ``floor(w)`` times plus one more
    with probability ``frac(w)``. The "probability" is a uniform
    per-document hash draw (``md5_u60 / 2^60``) — no RNG state, so the
    sample is REPRODUCIBLE across runs, partitionings, and engines
    (re-running a 100 TB mixture job yields byte-identical shards, and
    retried tasks cannot double-sample). Emits ``copy_idx`` 0..k-1 per
    kept copy so downstream shuffling can separate the epochs.

    Per-row map + explode only — no shuffle; the explode's fan-out is
    bounded by ``ceil(max(weights))``."""
    for d, w in weights.items():
        if w < 0:
            raise ValueError(f"negative mixture weight {w} for domain {d!r}")
    if default_weight < 0:
        raise ValueError(f"negative default_weight {default_weight}")
    w: Column = F.lit(float(default_weight))
    for d, wd in sorted(weights.items()):
        w = F.when(F.col(domain_col) == d, F.lit(float(wd))).otherwise(w)
    u = md5_u60(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    ).cast("double") / F.lit(float(1 << 60))
    total = (
        F.floor(w) + F.when(u < (w - F.floor(w)), F.lit(1)).otherwise(F.lit(0))
    ).cast("int")
    return (
        docs.withColumn("__total", total)
        .where(F.col("__total") > 0)
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.col("__total") - 1)).alias("copy_idx"),
        )
        .drop("__total")
    )


def training_order(
    docs: DataFrame,
    id_col: str = "doc_id",
    salt: str = "epoch0",
    partitions: int = 64,
) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    ``shuffle_rank`` = its position in the md5(id:salt) permutation — a
    reproducible epoch ordering (new salt per epoch re-shuffles; re-runs
    and retried jobs produce byte-identical order, unlike rand()).

    Scale shape — the naive ``row_number() OVER (ORDER BY key)`` is a
    SINGLE-partition global sort (the one-straggler plan); instead:
    range-partition on the hash key, rank WITHIN each partition, and add
    per-partition offsets (one bounded ``partitions``-row collect) — the
    standard two-pass distributed ranking. Partition boundaries only
    affect balance, never the output: ranks are exact regardless of where
    the range sampler cuts."""
    key = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    )
    # Pin the partitioning: the counts collect below and the final
    # ranked select are two executions, and the range partitioner
    # samples boundaries per-execution — without this checkpoint the
    # pid→offset map from pass 1 could be applied to a differently-cut
    # pass 2 and ranks would stop being a permutation.
    ranged = pin(
        docs.select(F.col(id_col), key.alias("__k")).repartitionByRange(
            partitions, "__k", id_col
        )
    )
    part = ranged.withColumn("__pid", F.spark_partition_id())
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in part.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    off_expr = F.lit(0)
    for pid, off in offsets.items():
        if off:
            off_expr = F.when(F.col("__pid") == pid, F.lit(off)).otherwise(off_expr)
    w = Window.partitionBy("__pid").orderBy("__k", id_col)
    return (
        part.withColumn(
            "shuffle_rank",
            (F.row_number().over(w) + off_expr).cast("long"),
        )
        .select(F.col(id_col), "shuffle_rank")
    )


#: the small "must contain ≥k of these" stopword list of the Gopher rules
#: (a document with none of these is overwhelmingly non-English or
#: non-prose; distinct from the larger ratio list in text.STOPWORDS)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style document-quality rule filter (Rae et al. 2021 §A1.1):
    the standard pre-training heuristics — word-count band, mean word
    length band, symbol-to-word ratio (``#`` and ``...``), bullet-/
    ellipsis-line fractions, alphabetic-word fraction, and a minimum hit
    count against a tiny must-have stopword list. Emits one row per
    document with every signal plus the conjunctive ``keep`` flag, so a
    pipeline can either filter on ``keep`` or re-threshold the signals.

    Like :func:`repetition_signals`, every rule is a WITHIN-document
    statistic → a pure per-row map (one pass over the token array per
    signal, whole-stage codegen, no explode, no shuffle, no Python). At
    100 TB this operator's cost is exactly one scan of the corpus."""
    t = F.col(text_col)
    w = tokens(t)
    n = F.size(w)

    def frac(num: Column, den: Column) -> Column:
        return F.round(
            F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(0.0),
            6,
        )

    total_len = F.aggregate(
        F.transform(w, F.length),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    mean_len = frac(total_len, n)
    hash_cnt = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ellipsis_cnt = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = frac((hash_cnt + ellipsis_cnt).cast("long"), n)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    nl = F.size(lines)
    bullet_frac = frac(
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
            )
        ),
        nl,
    )
    ellipsis_line_frac = frac(
        F.size(F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))),
        nl,
    )
    alpha_frac = frac(F.size(F.filter(w, lambda x: x.rlike("[a-z]"))), n)
    # hits against the must-have list — count LIST words present in the
    # doc (not intersect sizes, whose dedup rules differ across engines)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(w, s),
        )
    )
    sig = {
        "n_words": n.cast("long"),
        "mean_word_len": mean_len,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_line_frac,
        "alpha_frac": alpha_frac,
        "stop_hits": stop_hits.cast("long"),
    }
    keep = (
        (sig["n_words"] >= min_words)
        & (sig["n_words"] <= max_words)
        & (sig["mean_word_len"] >= min_mean_word_len)
        & (sig["mean_word_len"] <= max_mean_word_len)
        & (sig["symbol_ratio"] <= max_symbol_word_ratio)
        & (sig["bullet_frac"] <= max_bullet_line_frac)
        & (sig["ellipsis_line_frac"] <= max_ellipsis_line_frac)
        & (sig["alpha_frac"] >= min_alpha_word_frac)
        & (sig["stop_hits"] >= min_stopword_hits)
    )
    return docs.select(
        F.col(id_col),
        *[c.alias(name) for name, c in sig.items()],
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# corpus-wide line dedup (CCNet)
# ---------------------------------------------------------------------------


def substring_span_dedup(
    docs: DataFrame,
    k: int = 8,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide duplicated-substring removal — the distributed
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a token
    span is duplicated iff every k-token window inside it occurs ≥
    ``min_occurrences`` times anywhere in the corpus (including within
    the same document); maximal such spans are removed from EVERY
    occurrence — including the first (the order-independent variant: which
    copy "keep one" retains depends on document order, which a distributed
    engine should not silently impose; keep-first at line granularity is
    :func:`dedup_lines`).

    Distributed shape (no suffix array — that is a single-machine
    structure): (1) k-gram inventory via the arrays_zip shingle form, one
    hash-agg on md5(gram) — a narrow uniform shuffle key, same shape as
    exact dedup; (2) duplicated-gram positions back-join (shuffle on the
    gram hash); (3) coverage expansion gram→k token indices, output-bound
    ×k, then DISTINCT bounded by corpus token count; (4) per-document
    gaps-and-islands window merges covered indices into maximal spans;
    (5) surviving tokens reassemble per document. Every stage is a
    hash-partitioned agg/join on uniform keys — nothing is quadratic in
    corpus size, unlike the pairwise dedup families.

    Returns ``(id_col, n_tokens, n_dup_tokens, n_spans, dup_token_frac,
    cleaned_text)`` — ``cleaned_text`` is the surviving tokens (lowercased
    by tokenization) space-joined in original order, empty when the whole
    document is duplicated."""
    tks = F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))
    base = docs.select(
        F.col(id_col).alias("id"), tks.alias("toks")
    ).withColumn("n_tokens", F.size("toks"))
    grams = base.select(
        "id", F.posexplode(zip_kgrams(F.col("toks"), k)).alias("pos", "gram")
    ).select("id", "pos", F.md5("gram").alias("h"))
    dup_h = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_occurrences)
        .select("h")
    )
    covered = (
        grams.join(dup_h, "h")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("ti"),
        )
        .distinct()
    )
    w = Window.partitionBy("id").orderBy("ti")
    islands = covered.withColumn(
        "brk",
        F.when(F.lag("ti").over(w) == F.col("ti") - 1, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("island", F.sum("brk").over(w))
    per_doc = islands.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_dup_tokens"),
        F.max("island").alias("n_spans"),
    )
    toks_rows = base.select("id", F.posexplode("toks").alias("ti", "tok"))
    cleaned = (
        toks_rows.join(covered, ["id", "ti"], "left_anti")
        .groupBy("id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ti", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("cleaned_text")
        )
    )
    n_dup = F.coalesce("n_dup_tokens", F.lit(0)).cast("bigint")
    return (
        base.select("id", "n_tokens")
        .join(per_doc, "id", "left")
        .join(cleaned, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            n_dup.alias("n_dup_tokens"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0, n_dup / F.col("n_tokens")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_token_frac"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def chunk_into_lines(text: Column, tokens_per_line: int = 10) -> Column:
    """Re-chunk running text into fixed-width pseudo-lines of
    ``tokens_per_line`` whitespace tokens, newline-joined. Gives
    :func:`dedup_lines` a deterministic line structure on corpora whose
    documents carry no newlines (the synthetic ``documents`` table)."""
    tks = tokens(text)
    n = F.size(tks)
    nlines = F.ceil(n.cast("double") / F.lit(float(tokens_per_line))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), F.greatest(nlines - 1, F.lit(0))),
        lambda i: F.concat_ws(
            " ", F.slice(tks, i * tokens_per_line + 1, tokens_per_line)
        ),
    )
    return F.when(n > 0, F.concat_ws("\n", lines)).otherwise(F.lit(""))


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    out_sep: str | None = None,
) -> DataFrame:
    """Corpus-wide line-level deduplication (CCNet-style): every line keeps
    its FIRST occurrence — ordered by (doc id, line position) — and every
    later repeat anywhere in the corpus is removed; documents are then
    reassembled from their surviving lines in original order.

    Scale shape: one shuffle partitioned by line hash (uniform key — the
    window's ``row_number`` needs all copies of a line together; heavily
    duplicated boilerplate lines make hot keys, but the per-key payload is
    (doc_id, pos), not the document), one shuffle back on doc id for
    reassembly. Empty lines are dropped rather than deduped — keeping one
    global empty line is never the wanted semantics.

    ``out_sep`` (default: same as ``sep``) joins the surviving lines back
    into ``text`` — pass a newline-free sentinel (e.g. ``"\\x1e"``) when the
    output must round-trip through line-oriented serializers.

    Returns ``(id_col, text, n_lines, n_kept)`` — ``text`` empty when every
    line of a document was seen earlier."""
    if out_sep is None:
        out_sep = sep
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).where(F.length(F.trim("line")) > 0)
    w = Window.partitionBy(F.md5("line")).orderBy("id", "pos")
    ranked = lines.withColumn("rn", F.row_number().over(w))
    per_doc = ranked.groupBy("id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.concat_ws(
            out_sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") == 1, F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("text"),
    )
    spine = docs.select(F.col(id_col).alias("id"))
    return (
        spine.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Flag training documents sharing any word n-gram with a benchmark
    set (the standard eval-decontamination join, e.g. GPT-3 §C / PaLM:
    13-gram overlap; ``n`` is configurable because the synthetic docs are
    short). Returns ``(id_col, n_hits, contaminated)`` for EVERY document —
    ``n_hits`` = number of distinct contaminated n-grams.

    Scale shape: the benchmark side is eval suites — thousands of
    documents, not terabytes — so its distinct-gram set broadcasts and the
    100 TB corpus side never shuffles (``broadcast_benchmark=True``).
    With a huge benchmark set, flip it off for a plain shuffle equi-join
    on the gram key. ``docs`` is consumed twice (the gram explode + the
    id spine); a one-pass ``explode_outer`` + left-join rewrite was
    measured ~3× SLOWER here (r13 A/B, 0.44 → 1.41 s solo): it drags
    every corpus gram row through the per-id aggregate, where this shape
    aggregates only benchmark HITS and the spine is a column-pruned
    id-only scan. Callers passing a DERIVED corpus (where the spine
    would re-execute a whole pipeline, not re-scan a table) should
    checkpoint it first — curation_pipeline does."""
    tks = tokens(F.col(text_col))
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(zip_kgrams(tks, n))).alias("gram"),
    )
    bench_grams = (
        benchmark.select(
            F.explode(F.array_distinct(zip_kgrams(tokens(F.col(text_col)), n))).alias(
                "gram"
            )
        )
        .distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    hits = (
        doc_grams.join(bench_grams, "gram")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )
    spine = docs.select(F.col(id_col).alias("id"))
    return spine.join(hits, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    num_bits: int = 1 << 17,
    num_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter variant of :func:`decontaminate` — the constant-memory
    scale path: the benchmark's n-grams are folded into a ``num_bits``
    bitmap (``num_bits/32`` positive int32-range words — 16 KiB at the
    2^17 default, FIXED
    regardless of benchmark size), which broadcasts to every executor
    where the exact distinct-gram set might not. A document gram counts
    as a hit iff ALL ``num_hashes`` probe bits are set — the standard
    Bloom guarantee: no false negatives, false-positive rate
    ≈ (1 - e^(-k·m_grams/num_bits))^k, so ``n_maybe_hits`` is a SUPERSET
    signal of the exact join's ``n_hits`` (flag-then-verify, or accept
    the FP rate when sizing num_bits for the benchmark).

    Hashing is the md5-fold used across this repo's dedup families
    (deterministic and engine-independent, so even the bitmap contents
    are exactly oracle-able): probe j of gram g sits at
    ``int(md5(g ":" j)[:15], 16) % num_bits``.

    Scale shape: bitmap build = one hash-agg (``bit_or``) over ≤
    num_bits/64 word keys; corpus side = per-row gram expansion joined to
    the ≤2048-row bitmap relation (broadcast — no shuffle of the corpus),
    one per-doc agg. Returns ``(id_col, n_grams, n_maybe_hits,
    contaminated)`` for every document."""
    def probe(gram: Column, j: int) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat(gram, F.lit(f":{j}"))), 1, 15), 16, 10
        ).cast("long")
        return (h % num_bits).alias(f"p{j}")

    bench_pos = benchmark.select(
        F.explode(
            F.array_distinct(zip_kgrams(tokens(F.col(text_col)), n))
        ).alias("gram")
    ).distinct()
    bloom = None
    for j in range(num_hashes):
        part = bench_pos.select(probe(F.col("gram"), j).alias("pos"))
        bloom = part if bloom is None else bloom.unionByName(part)
    bloom_words = (
        bloom.select(
            # 32-bit words: every set-bit value stays positive (< 2^32) in
            # 64-bit arithmetic, so shift/or/extract behave identically on
            # Spark and the DuckDB oracle with no sign-bit edge cases
            F.expr("pos div 32").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 32 as int))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )

    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(zip_kgrams(tokens(F.col(text_col)), n))
        ).alias("gram"),
    )
    probes = doc_grams.select(
        "id",
        "gram",
        F.posexplode(
            F.array(*[probe(F.col("gram"), j) for j in range(num_hashes)])
        ).alias("j", "pos"),
    ).select(
        "id",
        "gram",
        F.expr("pos div 32").alias("word_idx"),
        (F.col("pos") % 32).cast("int").alias("bit"),
    )
    checked = probes.join(F.broadcast(bloom_words), "word_idx", "left").select(
        "id",
        "gram",
        # F.shiftright takes a literal shift amount only; the SQL form
        # accepts a column. Words are positive (32-bit range), so the
        # arithmetic shift has no sign fill on either engine.
        F.coalesce(F.expr("shiftright(word, bit) & 1"), F.lit(0)).alias("hit"),
    )
    gram_hits = (
        checked.groupBy("id", "gram")
        .agg(F.min("hit").alias("all_set"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("all_set").alias("n_maybe_hits"),
        )
    )
    spine = docs.select(F.col(id_col).alias("id"))
    return spine.join(gram_hits, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("n_maybe_hits", F.lit(0)).cast("bigint").alias("n_maybe_hits"),
        (F.coalesce("n_maybe_hits", F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Conservative patterns that parse and match identically under Java regex
# (Spark) and RE2 (DuckDB oracle): character classes, bounded quantifiers,
# non-capturing groups, \b — no backrefs or lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
LONGNUM_RE = r"\b\d{9,}\b"


def pii_redact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub email addresses, IPv4 addresses and long digit runs from a
    text column, with per-pattern match counts. Patterns apply in a fixed
    order (email → ip → long-number), each counting matches on the OUTPUT
    of the previous stage, so an IP never double-counts as a long number.

    Pure per-row ``regexp_replace``/``regexp_extract_all`` expressions —
    a narrow map over the corpus, no shuffle, no UDF. Returns
    ``(id_col, redacted, n_emails, n_ipv4, n_longnums)``."""
    t0 = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t0, F.lit(EMAIL_RE), F.lit(0)))
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    n_ip = F.size(F.regexp_extract_all(t1, F.lit(IPV4_RE), F.lit(0)))
    t2 = F.regexp_replace(t1, IPV4_RE, "<IP>")
    n_num = F.size(F.regexp_extract_all(t2, F.lit(LONGNUM_RE), F.lit(0)))
    t3 = F.regexp_replace(t2, LONGNUM_RE, "<NUM>")
    return docs.select(
        F.col(id_col),
        t3.alias("redacted"),
        n_email.cast("bigint").alias("n_emails"),
        n_ip.cast("bigint").alias("n_ipv4"),
        n_num.cast("bigint").alias("n_longnums"),
    )


# ---------------------------------------------------------------------------
# deterministic splits and shards
# ---------------------------------------------------------------------------

_SPLIT_BUCKETS = 10_000


def _id_bucket(id_col: Column, salt: str, modulus: int) -> Column:
    """Uniform bucket in [0, modulus) from md5 of the (salted) id
    (:func:`..hashing.md5_u60` — exactly reproducible in ANSI SQL).
    Salting decorrelates split from shard."""
    return md5_u60(F.concat(F.lit(salt), id_col.cast("string"))) % modulus


def assign_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashing the document id
    into 10k buckets and cutting at the cumulative weight boundaries.
    Hash-based (not ``rand()``/``sample()``): assignment is stable across
    re-runs, retries, partitionings and engines — the property a training
    pipeline needs so a document can never migrate between train and eval.
    Adds a ``split`` column; per-row map, no shuffle."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    bucket = _id_bucket(F.col(id_col), salt, _SPLIT_BUCKETS)
    expr = None
    cum = 0.0
    for name, wt in weights.items():
        cum += wt
        hi = int(round(cum * _SPLIT_BUCKETS))
        cond = bucket < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return docs.withColumn("split", expr)


def stratified_exact_split(
    docs: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "strat",
) -> DataFrame:
    """Train/val/test assignment with EXACT per-stratum quotas:
    within every ``group_col`` stratum (language, source, domain), rank
    documents in the deterministic md5(id:salt) shuffle order and cut at
    ``floor(cum_weight * n_stratum)`` boundaries — each stratum gets
    exactly its proportional share (to rounding), unlike
    :func:`assign_split` whose hash buckets give the proportions only in
    expectation. This is how balanced eval sets are carved: a 1k-doc
    language must contribute exactly its quota, not a binomial sample of
    it. Assignment stays deterministic and engine-reproducible (hash
    order, never ``rand()``), and the two operators compose — the same
    document can never migrate across re-runs.

    Returns ``docs`` + ``(split, stratum_rank, stratum_n)``.

    Scale shape: one shuffle on the stratum key; the per-stratum window
    (rank + count share one partition pass) serializes a single stratum
    into one task — fine for the many-moderate-strata shape this is for
    (languages, sources). For a corpus-sized single stratum use
    :func:`assign_split` (per-row map, exact-in-expectation) or the
    two-pass range-partitioned ranking of :func:`training_order`."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(group_col).orderBy(key, id_col)
    wn = Window.partitionBy(group_col)
    ranked = docs.withColumn("stratum_rank", F.row_number().over(w)).withColumn(
        "stratum_n", F.count(F.lit(1)).over(wn)
    )
    # integer boundaries: rank <= floor(cum * n) — exact, engine-identical
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        hi = F.floor(F.lit(cum) * F.col("stratum_n"))
        cond = F.col("stratum_rank") <= hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return ranked.withColumn("split", expr).withColumn(
        "stratum_rank", F.col("stratum_rank").cast("bigint")
    ).withColumn("stratum_n", F.col("stratum_n").cast("bigint"))


def assign_shards(
    docs: DataFrame, id_col: str = "doc_id", num_shards: int = 64, salt: str = "shard"
) -> DataFrame:
    """Deterministic shard id in [0, num_shards) — the hash-shuffle that
    turns a curated corpus into N stable training shards. Adds ``shard``;
    pair with ``.repartition(num_shards, "shard")`` +
    ``write.partitionBy("shard")`` to materialize co-located shard files."""
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    return docs.withColumn(
        "shard", _id_bucket(F.col(id_col), salt, num_shards).cast("int")
    )


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
    shard_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pre-training
    layout): documents are laid end-to-end in id order and cut every
    ``max_tokens`` tokens; each document reports the sequence it STARTS in
    and its token offset there. Emits
    ``(id_col, [shard_col], n_tokens, seq_id, seq_offset)``.

    With ``shard_col`` (from :func:`assign_shards`) the cumulative layout
    is per shard — the scalable form: one window shuffle per shard key,
    each shard's packing independent, nothing global. Without it the
    corpus is one giant ordered group (single reducer) — only for small
    corpora; the operator refuses nothing but the docstring is the
    warning. Pure integer window arithmetic, exactly reproducible in SQL.
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    parts = [shard_col] if shard_col else []
    w = (
        Window.partitionBy(*parts)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(count_col).over(w)
    start = (cum - F.col(count_col)).cast("bigint")
    return docs.select(
        id_col,
        *parts,
        F.col(count_col).cast("bigint").alias("n_tokens"),
        F.floor(start / F.lit(float(max_tokens))).cast("bigint").alias("seq_id"),
        (start % max_tokens).cast("bigint").alias("seq_offset"),
    )


# ---------------------------------------------------------------------------
# corpus n-gram statistics / TF-IDF
# ---------------------------------------------------------------------------


def corpus_ngram_topk(
    docs: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide top-k n-grams by occurrence count (ties broken by gram
    text ascending — fully deterministic). The classic heavy-hitter
    aggregate: explode → count with map-side partial aggregation on the
    uniform gram key → global top-k (Spark's sort-limit runs per-partition
    top-k before the single merge, so the driver sees k rows, not the
    gram universe)."""
    grams = docs.select(
        F.explode(zip_kgrams(tokens(F.col(text_col)), n)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
        .limit(k)
    )


def cms_ngram_topk(
    docs: DataFrame,
    n: int = 3,
    k: int = 20,
    depth: int = 4,
    width: int = 1 << 14,
    candidate_mod: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Count-min-sketch heavy hitters — the sketch-shuffle alternative to
    :func:`corpus_ngram_topk`: the exact top-k shuffles the gram stream on
    the gram key (cardinality ∝ corpus); here the only corpus-wide shuffle
    is the sketch build, whose key space is BOUNDED at ``depth × width``
    counters (65k at the defaults) — map-side partial aggregation collapses
    each partition's grams into ≤ d·w rows no matter how many grams flow
    through, so shuffle volume is constant in corpus size.

    Candidates come from the deterministic document sample
    ``md5(doc_id) % candidate_mod == 0`` (a true heavy hitter at rate f
    appears in the sample with overwhelming probability for corpus-scale
    f·N); each candidate's count estimate is the CMS minimum over its
    ``depth`` counters (≥ true count always — one-sided error ≤ ε·total
    with ε = e/width at the standard depth=ln(1/δ) sizing). Everything —
    probe positions, counters, candidate set — is md5-fold deterministic,
    so the whole sketch is exactly oracle-able cross-engine.

    Returns ``(gram, est_count)``, top-k by (estimate desc, gram asc)."""

    def col_at(gram: Column, r: int) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat(gram, F.lit(f":{r}"))), 1, 15), 16, 10
        ).cast("long")
        return h % width

    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(zip_kgrams(tokens(F.col(text_col)), n)).alias("gram"),
    )
    rows = grams.select(
        F.posexplode(
            F.array(*[col_at(F.col("gram"), r) for r in range(depth)])
        ).alias("r", "col")
    )
    sketch = rows.groupBy("r", "col").agg(F.count(F.lit(1)).alias("cnt"))
    cand = (
        grams.where(
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            % candidate_mod
            == 0
        )
        .select("gram")
        .distinct()
    )
    probes = cand.select(
        "gram",
        F.posexplode(
            F.array(*[col_at(F.col("gram"), r) for r in range(depth)])
        ).alias("r", "col"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["r", "col"])
        .groupBy("gram")
        .agg(F.min("cnt").cast("bigint").alias("est_count"))
    )
    return est.orderBy(F.col("est_count").desc(), F.col("gram").asc()).limit(k)


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k terms per document by tf·idf (idf = ln(N/df), raw counts).
    Emits ``(id_col, token, tf, df, score)`` — ``score`` rounded to 6
    decimals, and RANKED on that rounded value (then token asc), so the
    ordering is insensitive to last-ulp differences in ``ln`` between
    engines and the whole operator is exactly oracle-able.

    Scale shape: term frequencies aggregate on the uniform (doc, token)
    key; document frequencies COUNT over the tf relation — (doc, token)
    is already distinct there, so df needs no second pass over the raw
    exploded token stream and no count-distinct; N is one scalar
    broadcast. No driver-side loops, no UDFs — three shuffles total, all
    map-side combinable."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col), "token", "tf", "df", "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------


def sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    n: int = 100,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic stratified sample: the ``n`` rows per group with the
    smallest ``md5(salt || id)`` — a uniform pseudo-random draw that is
    stable across runs, partitionings and engines (the property
    ``df.sampleBy`` lacks: its draw depends on row order within
    partitions). Adds ``sample_rank`` (1-based).

    One window shuffle on the group key; the per-group sort is over the
    16-byte hash, not row payloads. Use for eval-set carve-outs and
    per-language/per-source quota sampling."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    rk = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(rk, F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n)
    )


def write_sharded_corpus(
    docs: DataFrame,
    path: str,
    num_shards: int = 64,
    id_col: str = "doc_id",
    salt: str = "shard",
) -> None:
    """Materialize a curated corpus as ``num_shards`` stable training
    shards: deterministic hash shard assignment (:func:`assign_shards`),
    ONE shuffle co-locating each shard, ``partitionBy("shard")`` layout so
    a trainer (or a later Spark job) reads shard N as one directory.

    ``repartition(num_shards, "shard")`` before the write is the load-
    bearing half: without it every write task spills a file into every
    shard directory (tasks × shards small files — the classic partitioned-
    write mistake); with it each shard is one task → one file."""
    sharded = assign_shards(docs, id_col=id_col, num_shards=num_shards, salt=salt)
    (
        sharded.repartition(num_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def chunk_overlapping(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking (the RAG / long-context
    preprocessing primitive): windows of ``chunk_tokens`` whitespace
    tokens starting every ``stride`` tokens, so consecutive chunks share
    ``chunk_tokens - stride`` tokens of context. Emits
    ``(id_col, chunk_id, chunk_text, n_tokens)`` — ``chunk_id`` is the
    0-based window index; the final partial window is kept (it still
    carries unique tail tokens) and empty documents yield no rows.

    Pure per-row expansion: the token array is built once per document,
    windows are array slices (no shuffle, no UDF); the output fans out by
    ~n_tokens/stride rows per document."""
    if chunk_tokens < 1 or stride < 1:
        raise ValueError(
            f"chunk_tokens and stride must be >= 1, got {chunk_tokens}, {stride}"
        )
    if stride > chunk_tokens:
        raise ValueError(
            f"stride ({stride}) > chunk_tokens ({chunk_tokens}) would drop tokens"
        )
    tks = tokens(F.col(text_col))
    n = F.size(tks)
    # windows start at 0, stride, 2*stride, ... while start < n
    n_chunks = F.when(
        n > 0, F.ceil(n.cast("double") / F.lit(float(stride))).cast("int")
    ).otherwise(F.lit(0))
    # a window fully contained in the previous one adds nothing: stop at
    # the last start with start + chunk > prev end... simple rule: starts
    # while start < n
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.concat_ws(" ", F.slice(tks, i * stride + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(n - i * stride, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return (
        docs.select(F.col(id_col), F.explode(chunks).alias("c"))
        .where(F.col("c.n_tokens") > 0)
        .select(
            id_col,
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


def corpus_report(
    docs: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Per-slice corpus datasheet ("datasheets for datasets"): document
    and token counts, share of empty documents, and mean stopword/punct
    ratios per grouping slice — the summary a curation pipeline publishes
    alongside each corpus snapshot so drift between snapshots is a diff,
    not an investigation.

    Exactness discipline: per-document ratios are 1e-6-quantized to
    integers BEFORE summing (a float mean is partition-order-dependent
    and engine-dependent), so every reported mean derives from exact
    integer sums — the same trick as the LM scorers, making the whole
    report hash-verifiable cross-engine. The stopword ratio uses the
    English list for every row (a fixed probe lexicon, not per-row
    language dispatch — comparable across slices by construction).

    One map-side-combinable aggregate on the (typically tiny) slice key;
    per-row signals are pure Column expressions."""
    one_m = 1000000.0
    ntok = token_count(F.col(text_col))
    swq = F.floor(stopword_ratio(F.col(text_col)) * one_m + F.lit(0.5)).cast("long")
    pq = F.floor(punct_ratio(F.col(text_col)) * one_m + F.lit(0.5)).cast("long")
    empty = F.when(F.length(F.trim(F.col(text_col))) == 0, 1).otherwise(0)
    agg = docs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).cast("bigint").alias("total_tokens"),
        F.sum(empty).cast("bigint").alias("n_empty"),
        F.sum(swq).alias("_sw"),
        F.sum(pq).alias("_pq"),
    )
    n = F.col("n_docs")
    return agg.select(
        *group_cols,
        "n_docs",
        "total_tokens",
        "n_empty",
        F.round(F.col("total_tokens") / n, 2).alias("avg_tokens"),
        F.round(F.col("_sw") / n / F.lit(one_m), 6).alias("avg_stopword_ratio"),
        F.round(F.col("_pq") / n / F.lit(one_m), 6).alias("avg_punct_ratio"),
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-slice benchmark-contamination summary — the table an eval-
    decontamination run actually reports: for each corpus slice
    (``group_col``, e.g. crawl source), how many documents share an
    n-gram with the benchmark set and how hard they're hit. Returns
    ``(group_col, n_docs, n_contaminated, total_hits, rate_ppm)`` where
    ``rate_ppm`` is the contaminated fraction in integer parts-per-million
    (``(1e6·n_contaminated) div n_docs`` — integer arithmetic, exactly
    reproducible cross-engine, unlike a floating average).

    Composition of :func:`decontaminate` (benchmark grams broadcast; the
    corpus never shuffles) followed by one map-side-combinable aggregate
    on the slice key — adds no new scale risk on top of decontaminate."""
    flags = decontaminate(
        docs, benchmark, n=n, text_col=text_col, id_col=id_col
    )
    sliced = flags.join(
        docs.select(F.col(id_col), F.col(group_col)), id_col
    )
    return sliced.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("contaminated").cast("bigint")).alias("n_contaminated"),
        F.sum("n_hits").cast("bigint").alias("total_hits"),
        F.expr(
            "CAST(1000000 * sum(CAST(contaminated AS BIGINT)) div count(1) AS BIGINT)"
        ).alias("rate_ppm"),
    )


def domain_frequency_cap(
    docs: DataFrame,
    cap_tokens: int,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "domcap0",
) -> DataFrame:
    """Per-domain token-budget capping — the standard crawl-sanitation
    knob against domain dominance: no single domain (host / crawl seed /
    source) may contribute more than ``cap_tokens`` tokens to the
    training mix, however large its crawl footprint. Documents are taken
    per domain in the reproducible ``md5(id:salt)`` shuffle order (the
    :func:`select_token_budget` discipline — deterministic, unbiased by
    crawl order) until the INCLUSIVE cumulative token count reaches the
    cap; a document that would cross the cap is dropped with everything
    after it. Returns the kept rows as
    ``(id_col, domain_col, n_tokens, cum_tokens)``.

    Scale shape: one tokenize pass (map-local), then a running sum over
    a window PARTITIONED BY DOMAIN — the global-budget variant needs the
    range-partition two-pass trick because its window has one partition;
    here the partition key IS the domain, so Spark spreads domains
    across tasks and the window never sees more than one domain's rows.
    Domains with more rows than a task can sort spill gracefully; the
    cap itself prunes the output to ≤ cap_tokens per domain regardless
    of input skew."""
    if cap_tokens < 0:
        raise ValueError(f"cap_tokens must be >= 0, got {cap_tokens}")
    key = md5_u60(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    )
    base = docs.select(
        F.col(id_col),
        F.col(domain_col),
        key.alias("__k"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy(domain_col)
        .orderBy(F.col("__k").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= F.lit(int(cap_tokens)))
        .select(id_col, domain_col, "n_tokens", "cum_tokens")
    )


def select_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "select0",
    partitions: int = 64,
) -> DataFrame:
    """Fill a global TOKEN budget deterministically — "give me the first
    N tokens' worth of corpus" that every training run performs: documents
    are taken in the reproducible md5(id:salt) shuffle order until the
    cumulative token count reaches ``budget_tokens`` (a document is
    selected iff its INCLUSIVE cumulative count fits). Returns the
    selected rows as ``(id_col, n_tokens, cum_tokens)``.

    Scale shape — the cumulative-sum twin of :func:`training_order`'s
    two-pass ranking: a naive ``SUM() OVER (ORDER BY ...)`` is a
    single-partition global window (one straggler task owns the corpus);
    instead range-partition on the order key, per-partition token totals
    (one bounded ``partitions``-row collect), prefix-offsets driver-side,
    then a partition-LOCAL running sum plus the offset. Exact regardless
    of where the range sampler cuts; the budget filter prunes partitions
    wholesale once an entire partition's offset exceeds the budget."""
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    base = docs.select(
        F.col(id_col),
        key.alias("__k"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    # pin the cut (see training_order)
    ranged = pin(base.repartitionByRange(partitions, "__k", id_col))
    part = ranged.withColumn("__pid", F.spark_partition_id())
    sums = sorted(
        (r["__pid"], r["s"])
        for r in part.groupBy("__pid")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, s in sums:
        offsets[pid] = acc
        acc += int(s or 0)
    off_expr = F.lit(0)
    for pid, off in offsets.items():
        if off:
            off_expr = F.when(F.col("__pid") == pid, F.lit(off)).otherwise(off_expr)
    w = (
        Window.partitionBy("__pid")
        .orderBy("__k", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (F.sum("n_tokens").over(w) + off_expr).cast("long")
    return (
        part.withColumn("cum_tokens", cum)
        .where(F.col("cum_tokens") <= budget_tokens)
        .select(F.col(id_col), "n_tokens", "cum_tokens")
    )


def curriculum_order(
    docs: DataFrame,
    score_col: str,
    n_stages: int = 4,
    id_col: str = "doc_id",
    salt: str = "cur0",
    partitions: int = 64,
) -> DataFrame:
    """Curriculum training order: documents are bucketed into
    ``n_stages`` equal-size stages by ascending ``score_col`` (stage 0 =
    lowest scores first — point the score at difficulty/quality as the
    curriculum requires) and SHUFFLED within each stage by the md5(id:salt)
    permutation, yielding one deterministic global ``curriculum_rank``:
    easy examples first, hard last, no intra-stage ordering bias.

    Both passes use the two-pass distributed ranking (range-partition +
    per-partition offsets — never a single-task global window): pass 1
    ranks by (score, id) to cut exact equal-size stage boundaries
    (``stage = (rank·n_stages) div N`` — rank-based, so ties split
    deterministically and stages are balanced even on constant scores);
    pass 2 ranks by (stage, shuffle-key, id). Returns
    ``(id_col, stage, curriculum_rank)``."""
    if n_stages < 1:
        raise ValueError(f"n_stages must be >= 1, got {n_stages}")

    def two_pass_rank(df: DataFrame, order_cols: list[str], out: str) -> DataFrame:
        ranged = pin(
            df.repartitionByRange(partitions, *[F.col(c) for c in order_cols])
        )
        part = ranged.withColumn("__pid", F.spark_partition_id())
        counts = sorted(
            (r["__pid"], r["c"])
            for r in part.groupBy("__pid").agg(F.count(F.lit(1)).alias("c")).collect()
        )
        offsets: dict[int, int] = {}
        acc = 0
        for pid, c in counts:
            offsets[pid] = acc
            acc += c
        off_expr = F.lit(0)
        for pid, off in offsets.items():
            if off:
                off_expr = F.when(F.col("__pid") == pid, F.lit(off)).otherwise(
                    off_expr
                )
        w = Window.partitionBy("__pid").orderBy(*order_cols)
        return part.withColumn(
            out, (F.row_number().over(w) - 1 + off_expr).cast("long")
        ).drop("__pid")

    n = docs.count()
    base = docs.select(
        F.col(id_col),
        F.col(score_col).alias("__score"),
        F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
        ).alias("__k"),
    )
    staged = two_pass_rank(base, ["__score", id_col], "__r").withColumn(
        "stage",
        F.expr(f"CAST((__r * {n_stages}) div {max(n, 1)} AS BIGINT)"),
    )
    ranked = two_pass_rank(staged, ["stage", "__k", id_col], "curriculum_rank")
    return ranked.select(F.col(id_col), "stage", "curriculum_rank")


def blocklist_filter(
    docs: DataFrame,
    terms: DataFrame | list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "word",
) -> DataFrame:
    """Blocklist/safety filtering — flag documents containing any of a set
    of blocked terms, the standard pre-training safety pass (URL/word
    blocklists à la UT1/Dolma). Returns one row per document:
    ``(id_col, n_hits, blocked)`` with ``n_hits`` = DISTINCT blocked
    terms present.

    ``mode='word'`` (default): token-level exact match — the corpus
    tokenizes once and equi-joins the term set on the token value, so a
    100 TB corpus streams map-side against any size blocklist (the join
    shuffles on the uniform token key; Catalyst broadcasts the term side
    automatically when it is small). ``mode='phrase'``: multi-word
    phrases matched as token n-grams — each phrase's token count groups
    the corpus grams it must join (grams are generated only for the
    lengths present in the blocklist, never all n).

    ``terms``: a one-column DataFrame (``term``) or a Python list.
    Terms are lowercased/tokenized with the corpus tokenizer so matching
    is consistent with every other text operator."""
    spark = docs.sparkSession
    if isinstance(terms, list):
        if not terms:
            raise ValueError("terms must be non-empty")
        terms = spark.createDataFrame([(t,) for t in terms], "term string")
    if mode not in ("word", "phrase"):
        raise ValueError(f"mode must be 'word' or 'phrase', got {mode}")
    tset = (
        terms.select(tokens(F.col("term")).alias("tt"))
        .where(F.size("tt") > 0)
        .select(
            F.concat_ws(" ", F.col("tt")).alias("term"),
            F.size("tt").alias("tn"),
        )
        .distinct()
    )
    if mode == "word":
        tset = tset.where(F.col("tn") == 1)
        corpus = docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term"),
        )
        hits = corpus.join(tset.select("term"), "term").groupBy("id").agg(
            F.count(F.lit(1)).alias("n_hits")
        )
    else:
        lengths = [r["tn"] for r in tset.select("tn").distinct().collect()]
        tks = docs.select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
        )
        from .text import zip_kgrams

        gram_parts = None
        for n in sorted(lengths):
            part = tks.select(
                "id",
                F.explode(
                    F.array_distinct(zip_kgrams(F.col("t"), n))
                ).alias("term"),
            )
            gram_parts = part if gram_parts is None else gram_parts.unionByName(part)
        hits = (
            gram_parts.join(tset.select("term"), "term")
            .groupBy("id")
            .agg(F.countDistinct("term").alias("n_hits"))
        )
    spine = docs.select(F.col(id_col).alias("id"))
    return spine.join(hits, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("blocked"),
    )


# ---------------------------------------------------------------------------
# model-free quality classifier (fastText-shaped hashed linear scorer)
# ---------------------------------------------------------------------------


def quality_classifier(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_bigrams: bool = True,
    threshold_micro: int = 0,
    salt: str = "qw",
    weights: DataFrame | None = None,
    default_weight_micro: int = 0,
    broadcast_weights: bool = True,
) -> DataFrame:
    """Linear text classifier in the fastText / DCLM-quality-filter SHAPE:
    hash every word n-gram into a weight, average the weights, threshold.
    Real deployments load trained weights; this engine-side operator uses
    a deterministic hash-derived weight table (``md5_u60(salt:gram) %
    2e6+1 - 1e6`` micro-units, i.e. a reproducible random projection) so
    the *execution shape* — the thing that matters at 100 TB — is exactly
    the production one while remaining oracle-verifiable. Swapping in
    trained weights = replacing the hash expression with a broadcast map
    lookup; nothing else changes.

    Execution shape: ONE narrow projection — n-grams, per-gram weights,
    and the average are all array expressions inside whole-stage codegen
    (``transform`` + ``aggregate``); no explode, no shuffle, no UDF. At
    100 TB this is a pure map over the corpus, the cheapest possible
    plan.

    Integer exactness: weights are summed in OFFSET space (each offset
    weight in [0, 2e6]) so the cross-engine integer division
    (Spark ``div`` ≡ DuckDB ``//`` on non-negatives) never sees a
    negative numerator; the offset is subtracted back after the divide.
    Documents with zero features score the worst possible value
    (−1e6 micro) — blank docs must never pass a quality filter.

    TRAINED-WEIGHTS PATH: pass ``weights`` — a ``(term, weight_micro)``
    DataFrame (weights in micro-units, each ≥ −1e6 and ≤ 1e6, unigrams
    and/or space-joined bigrams) — and the scorer becomes a broadcast
    map-join: explode the grams, left-join the weight table (grams absent
    from it contribute ``default_weight_micro``), average per document.
    This is how production fastText/DCLM weights plug in. Execution
    shape: explode → broadcast hash join → map-side-combinable sum — ONE
    shuffle on ``id_col``; a fastText bucket table (~2 M rows ≈ tens of
    MB) broadcasts comfortably, and for a vocabulary too large to
    broadcast pass ``broadcast_weights=False`` to plan a shuffle join
    instead. Duplicate terms in the weight table deterministically
    resolve to their MAX weight (a duplicated term must not fan out the
    join — it would inflate both the feature count and the sum).
    ``default_weight_micro`` must stay within [−1e6, 1e6] like every
    weight: the average again runs in offset space (+1e6 per gram) so
    the cross-engine integer division never sees a negative numerator.
    Weights in the TABLE are clamped to that range (greatest/least —
    cheap per-row expressions; a distributed table can't be validated
    like the scalar default, and an unclamped out-of-range negative
    would make Spark's truncating ``div`` and DuckDB's flooring ``//``
    silently diverge).

    Returns ``(id_col, n_feats, score_micro, quality_pass)``.
    """
    if weights is None:
        scored = _hashed_quality_scores(
            docs, [F.col(id_col)], text_col, use_bigrams, salt
        )
    else:
        if not -1_000_000 <= default_weight_micro <= 1_000_000:
            raise ValueError(
                "default_weight_micro must be in [-1e6, 1e6] (offset-space "
                f"exactness contract), got {default_weight_micro}"
            )
        tks = tokens(F.col(text_col))
        grams = F.concat(tks, zip_kgrams(tks, 2)) if use_bigrams else tks
        ex = docs.select(F.col(id_col).alias("__qid"), F.explode(grams).alias("term"))
        # clamp to the documented [-1e6, 1e6] contract: a distributed
        # weights table can't be validated like the scalar default, and
        # an out-of-range negative weight would push the offset-space sum
        # negative — where Spark div (truncate toward zero) and DuckDB //
        # (floor) silently diverge
        w = (
            weights.select(
                "term",
                F.greatest(
                    F.lit(-1_000_000).cast("bigint"),
                    F.least(
                        F.lit(1_000_000).cast("bigint"),
                        F.col("weight_micro").cast("bigint"),
                    ),
                ).alias("__w"),
            )
            .groupBy("term")
            .agg(F.max("__w").alias("__w"))
        )
        if broadcast_weights:
            w = F.broadcast(w)
        per = (
            ex.join(w, "term", "left")
            .groupBy("__qid")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(
                    F.coalesce(F.col("__w"), F.lit(default_weight_micro))
                    + F.lit(1_000_000)
                ).alias("__sum_off"),
            )
        )
        spine = docs.select(F.col(id_col).alias("__qid"))
        scored = (
            spine.join(per, "__qid", "left")
            .select(
                F.col("__qid").alias(id_col),
                F.coalesce("__n", F.lit(0)).cast("bigint").alias("n_feats"),
                F.when(
                    F.col("__n") > 0,
                    F.expr("__sum_off div __n") - F.lit(1_000_000),
                )
                .otherwise(F.lit(-1_000_000))
                .cast("bigint")
                .alias("score_micro"),
            )
        )
    return scored.withColumn(
        "quality_pass", F.col("score_micro") >= F.lit(threshold_micro)
    )


def _hashed_quality_scores(
    docs: DataFrame,
    keep: list[Column],
    text_col: str,
    use_bigrams: bool,
    salt: str,
) -> DataFrame:
    """Shared scorer core of :func:`quality_classifier` /
    :func:`source_reputation`: ``keep`` passthrough columns +
    ``(n_feats, score_micro)``. The integer division runs in OFFSET space
    (non-negative numerator) through named intermediate columns — ``div``
    needs column names, and negatives would diverge between Spark
    (truncate) and DuckDB (floor)."""
    tks = tokens(F.col(text_col))
    grams = tks
    if use_bigrams:
        grams = F.concat(tks, zip_kgrams(tks, 2))
    off_w = lambda g: (  # noqa: E731 - local expression builder
        md5_u60(F.concat(F.lit(salt + ":"), g)) % F.lit(2_000_001)
    ).cast("bigint")
    sum_off = F.aggregate(
        F.transform(grams, off_w),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n = F.size(grams).cast("bigint")
    score = F.when(
        F.col("__n") > 0, F.expr("__sum_off div __n") - F.lit(1_000_000)
    ).otherwise(F.lit(-1_000_000))
    kept_names = docs.select(*keep).columns
    return docs.select(
        *keep,
        sum_off.alias("__sum_off"),
        n.alias("__n"),
    ).select(
        *kept_names,
        F.col("__n").alias("n_feats"),
        score.cast("bigint").alias("score_micro"),
    )


# ---------------------------------------------------------------------------
# DSIR-shaped importance weighting (data selection via importance resampling)
# ---------------------------------------------------------------------------


def dsir_importance(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    select_ppm: int = 1_000_000,
    salt: str = "dsir",
) -> DataFrame:
    """Importance weights for target-distribution data selection, in the
    shape of DSIR (Xie et al. 2023, arXiv:2302.03169): featurize text as
    HASHED word-bigram buckets, estimate a target and a raw (corpus)
    bucket distribution, and weight every corpus document by how much
    more target-like than corpus-like its features are. The paper's
    log-likelihood ratio is float; for cross-engine exactness this uses
    the quantized per-feature ratio ``(cnt_target[b]+1)·1e6 div
    (cnt_raw[b]+1)`` (add-one smoothing) and averages it over the
    document's gram occurrences — monotone in the same direction,
    integer-exact. ``selected`` flags docs whose average ratio clears
    ``select_ppm`` (1e6 = the corpus-neutral point scaled by
    |target|/|corpus| mass; callers tune it like the paper tunes its
    resampling temperature).

    Execution shape at 100 TB: the corpus explodes once into gram rows;
    both distribution tables are ``buckets``-row aggregates (map-side
    partials, then a tiny shuffle) that BROADCAST back onto the gram
    stream; one final groupBy(doc) sums. The target set is an eval-suite
    or curated sample — small by construction — and never shuffles the
    corpus.

    Returns ``(id_col, n_grams, importance_ppm, selected)``.
    """
    def grams_of(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.explode(zip_kgrams(tokens(F.col(text_col)), 2)).alias("gram"),
        ).select(
            "id",
            (
                md5_u60(F.concat(F.lit(salt + ":"), F.col("gram")))
                % F.lit(int(buckets))
            ).alias("bucket"),
        )

    corpus_grams = grams_of(docs)
    raw_counts = corpus_grams.groupBy("bucket").agg(
        F.count("*").alias("cnt_raw")
    )
    tgt_counts = grams_of(target).groupBy("bucket").agg(
        F.count("*").alias("cnt_tgt")
    )
    weights = (
        raw_counts.join(tgt_counts, "bucket", "outer")
        .select(
            "bucket",
            F.expr(
                "CAST((coalesce(cnt_tgt, 0) + 1) * 1000000 "
                "div (coalesce(cnt_raw, 0) + 1) AS BIGINT)"
            ).alias("w_ppm"),
        )
    )
    per_doc = (
        corpus_grams.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("w_ppm").alias("sum_ppm"),
        )
        .select(
            "id",
            "n_grams",
            F.expr("CAST(sum_ppm div n_grams AS BIGINT)").alias("importance_ppm"),
        )
    )
    spine = docs.select(F.col(id_col).alias("id"))
    return spine.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("importance_ppm", F.lit(0)).cast("bigint").alias(
            "importance_ppm"
        ),
        (F.coalesce("importance_ppm", F.lit(0)) >= F.lit(int(select_ppm))).alias(
            "selected"
        ),
    )


def source_reputation(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    threshold_micro: int = 0,
    use_bigrams: bool = True,
    salt: str = "qw",
) -> DataFrame:
    """Per-source (host / domain / crawl-seed) corpus reputation — the
    aggregation behind CCNet/RefinedWeb-style host filtering: score every
    document with the hashed linear classifier
    (:func:`quality_classifier`'s scorer core, same salt → identical
    scores), then roll up per source. A source whose documents are
    consistently low-quality gets dropped wholesale at crawl-frontier
    time — far cheaper than per-document filtering ever after.

    Integer exactness: the mean re-enters OFFSET space before dividing
    (``score+1e6 ∈ [0, 2e6]``) so the cross-engine integer division never
    sees a negative numerator; the pass rate is ``1e6·passes div docs``.

    Execution shape: the zero-shuffle per-row scorer followed by ONE
    map-side-combinable aggregate keyed on source — group count is
    host-count-sized, orders of magnitude under row count. Hot hosts are
    hot keys, but the per-key payload is four counters, combined
    map-side.

    Returns ``(source_col, n_docs, total_tokens, mean_score_micro,
    pass_rate_ppm)``."""
    scored = _hashed_quality_scores(
        docs,
        [F.col(source_col), token_count(F.col(text_col)).alias("__ntok")],
        text_col,
        use_bigrams,
        salt,
    )
    return (
        scored.groupBy(source_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__ntok").cast("bigint").alias("total_tokens"),
            F.sum(F.col("score_micro") + F.lit(1_000_000)).alias("__sum_off"),
            F.sum(
                F.when(
                    F.col("score_micro") >= F.lit(threshold_micro), 1
                ).otherwise(0)
            ).alias("__passes"),
        )
        .select(
            source_col,
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "total_tokens",
            (F.expr("__sum_off div n_docs") - F.lit(1_000_000))
            .cast("bigint")
            .alias("mean_score_micro"),
            F.expr("1000000 * __passes div n_docs")
            .cast("bigint")
            .alias("pass_rate_ppm"),
        )
    )


def cdc_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_bits: int = 4,
    max_tokens: int = 64,
    salt: str = "cdc",
) -> DataFrame:
    """Content-defined chunking (LBFS/FastCDC lineage): split each
    document into variable-size token chunks whose boundaries follow the
    CONTENT — a cut lands after every token whose hash has its low
    ``mask_bits`` bits zero (expected chunk length ``2^mask_bits``
    tokens), plus a hard ``max_tokens`` cut. Fixed-size chunking shifts
    every boundary after any insertion; content-defined boundaries
    re-align immediately, which is what makes chunk-level dedup of
    near-identical documents (crawl re-fetches, versioned docs) actually
    hit. Production CDC also enforces a MIN chunk size via a stateful
    scan; that sequential variant is :func:`cdc_chunks_min`
    (Arrow-batched ``mapInPandas``) — this form stays oracle-exact
    because the max-cut is expressed as an integer division, so the
    whole operator stays in window + aggregate expressions.

    Execution shape: one posexplode, one window over (doc, pos) — the
    running boundary count — and one (doc, chunk) aggregate; all keys
    uniform, everything map-side combinable except the ordered window,
    which partitions by document (bounded by document length).

    Returns ``(id_col, chunk_idx, n_tokens, chunk_md5)`` — ``chunk_md5``
    the md5 of the space-rejoined chunk tokens, the key chunk-level
    dedup joins on."""
    tks = tokens(F.col(text_col))
    mask = (1 << int(mask_bits)) - 1
    t = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tks).alias("pos", "tok"),
    ).withColumn(
        "cut_after",
        (
            md5_u60(F.concat(F.lit(salt + ":"), F.col("tok"))) % F.lit(mask + 1)
            == 0
        ).cast("int"),
    )
    w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn("c", F.coalesce(F.sum("cut_after").over(w), F.lit(0)))
    t = t.withColumn(
        "sub", F.expr(f"CAST((row_number() OVER (PARTITION BY id, c ORDER BY pos) - 1) div {int(max_tokens)} AS BIGINT)")
    )
    chunks = t.groupBy("id", "c", "sub").agg(
        F.min("pos").alias("start_pos"),
        F.count("*").cast("bigint").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("chunk_md5"),
    )
    wd = Window.partitionBy("id").orderBy("start_pos")
    return chunks.select(
        F.col("id").alias(id_col),
        (F.row_number().over(wd) - 1).cast("bigint").alias("chunk_idx"),
        "n_tokens",
        "chunk_md5",
    )


def curation_manifest(
    docs: DataFrame,
    terms: DataFrame | list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_threshold_micro: int = 0,
    blocklist_min_hits: int = 1,
    gopher_kwargs: dict | None = None,
) -> DataFrame:
    """Per-document curation AUDIT manifest — the Dolma-attributes shape:
    one row per document carrying every cheap filter signal plus the
    final decision and the FIRST failing rule, so a pipeline can answer
    "why was this document dropped?" without re-running any stage.
    Production corpora ship exactly this artifact next to the data
    (Dolma's attributes files, RefinedWeb's judgment records).

    Signals (all already-oracled operators, composed by id joins):
    blocklist hits (:func:`blocklist_filter`, skipped when ``terms`` is
    None), exact-duplicate representative (``dedup.exact_dedup``),
    hashed quality score (:func:`quality_classifier`), and the Gopher
    rule conjunction (:func:`gopher_quality_flags`, parameterized by
    ``gopher_kwargs``). ``keep`` is their conjunction; ``reason`` is the
    first failure in the fixed precedence blocklist → exact_dup →
    quality → gopher, else ``'kept'``. ``dup_of`` is −1 for
    representatives/uniques (never NULL — driver-serializer-safe ints).
    NULL text is normalized to '' up front so every document gets a
    manifest row (a NULL md5 join key would silently drop exactly the
    degenerate documents the audit exists to explain); NULL-text docs
    therefore group as exact duplicates of each other and fail the
    quality rule.

    Scale shape: every signal is a per-row map or one uniform-key
    aggregate; the manifest is their join on the unique document id —
    4 shuffles total, none proportional to anything but corpus row
    count, no window over more than one document's data."""
    from .dedup import exact_dedup

    docs = docs.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    spine = docs.select(F.col(id_col).alias("__mid"), F.col(text_col).alias("__mtext"))
    if terms is not None:
        bl = blocklist_filter(docs, terms, text_col=text_col, id_col=id_col).select(
            F.col(id_col).alias("__mid"), F.col("n_hits").alias("n_blocklist_hits")
        )
    else:
        bl = spine.select("__mid", F.lit(0).cast("bigint").alias("n_blocklist_hits"))
    ed = exact_dedup(docs, text_col=text_col, id_col=id_col)
    dup = (
        spine.withColumn("__m", F.md5(F.col("__mtext")))
        .join(ed, F.col("__m") == ed["text_md5"])
        .select(
            "__mid",
            (F.col("__mid") != F.col("keep_id")).alias("is_exact_dup"),
            F.when(F.col("__mid") != F.col("keep_id"), F.col("keep_id"))
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("dup_of"),
        )
    )
    qc = quality_classifier(
        docs,
        text_col=text_col,
        id_col=id_col,
        threshold_micro=quality_threshold_micro,
    ).select(
        F.col(id_col).alias("__mid"), "score_micro", "quality_pass"
    )
    gq = gopher_quality_flags(
        docs, text_col=text_col, id_col=id_col, **(gopher_kwargs or {})
    ).select(F.col(id_col).alias("__mid"), F.col("keep").alias("gopher_pass"))
    m = (
        spine.select("__mid")
        .join(bl, "__mid")
        .join(dup, "__mid")
        .join(qc, "__mid")
        .join(gq, "__mid")
    )
    blocked = F.col("n_blocklist_hits") >= F.lit(int(blocklist_min_hits))
    keep = (
        ~blocked
        & ~F.col("is_exact_dup")
        & F.col("quality_pass")
        & F.col("gopher_pass")
    )
    reason = (
        F.when(blocked, F.lit("blocklist"))
        .when(F.col("is_exact_dup"), F.lit("exact_dup"))
        .when(~F.col("quality_pass"), F.lit("quality"))
        .when(~F.col("gopher_pass"), F.lit("gopher"))
        .otherwise(F.lit("kept"))
    )
    return m.select(
        F.col("__mid").alias(id_col),
        "n_blocklist_hits",
        "is_exact_dup",
        "dup_of",
        "score_micro",
        "quality_pass",
        "gopher_pass",
        keep.alias("keep"),
        reason.alias("reason"),
    )


def cdc_chunks_min(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_bits: int = 4,
    max_tokens: int = 64,
    min_tokens: int = 1,
    salt: str = "cdc",
) -> DataFrame:
    """FastCDC-style content-defined chunking WITH a minimum chunk size —
    the stateful twin of :func:`cdc_chunks`. A content boundary (token
    hash with low ``mask_bits`` bits zero) only takes effect once the
    current chunk holds at least ``min_tokens`` tokens; the hard
    ``max_tokens`` cut always applies. Suppressing a boundary shifts
    every later boundary, so the scan is inherently SEQUENTIAL per
    document — no window/aggregate rewrite exists (which is why
    :func:`cdc_chunks` documents this variant as out of scope for its
    exact-oracle path). With ``min_tokens=1`` no boundary is ever
    suppressed and the output equals :func:`cdc_chunks` exactly
    (pytest-pinned parity).

    Execution shape: tokens and per-token boundary flags are computed
    JVM-side (same md5 family as the window form); only the O(n) cut
    scan crosses into Python, as an Arrow-batched ``mapInPandas`` whose
    state never spans rows — each document is one row, so there is no
    grouping, no shuffle, and the operator remains a pure map over the
    corpus. Chunk hashes are computed back JVM-side (``F.md5``) on the
    emitted chunk text.

    Returns ``(id_col, chunk_idx, n_tokens, chunk_md5)`` — the schema of
    :func:`cdc_chunks`."""
    if not (1 <= min_tokens <= max_tokens):
        raise ValueError(
            f"need 1 <= min_tokens ({min_tokens}) <= max_tokens ({max_tokens})"
        )
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    mask = (1 << int(mask_bits)) - 1
    # NULL text coalesces to '' (empty token array → no chunks), matching
    # cdc_chunks's silent drop of NULL-text docs — without this, a NULL
    # array arrives in the Arrow scan as None and len(toks) raises
    prep = docs.select(
        F.col(id_col).alias("id"),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("toks"),
    ).withColumn(
        "cuts",
        F.transform(
            F.col("toks"),
            lambda t: md5_u60(F.concat(F.lit(salt + ":"), t)) % F.lit(mask + 1)
            == 0,
        ),
    )
    id_type = prep.schema["id"].dataType
    out_schema = StructType(
        [
            StructField("id", id_type),
            StructField("chunk_idx", LongType()),
            StructField("n_tokens", LongType()),
            StructField("chunk_text", StringType()),
        ]
    )
    mn, mx = int(min_tokens), int(max_tokens)

    def scan(batches):
        for pdf in batches:
            ids, idxs, lens, texts = [], [], [], []
            for did, toks, cuts in zip(pdf["id"], pdf["toks"], pdf["cuts"]):
                start, n, ci = 0, 0, 0
                for i in range(len(toks)):
                    n += 1
                    if (cuts[i] and n >= mn) or n == mx:
                        ids.append(did)
                        idxs.append(ci)
                        lens.append(n)
                        texts.append(" ".join(toks[start : i + 1]))
                        start, n, ci = i + 1, 0, ci + 1
                if n > 0:
                    ids.append(did)
                    idxs.append(ci)
                    lens.append(n)
                    texts.append(" ".join(toks[start:]))
            yield pd.DataFrame(
                {"id": ids, "chunk_idx": idxs, "n_tokens": lens, "chunk_text": texts}
            )

    return prep.mapInPandas(scan, out_schema).select(
        F.col("id").alias(id_col),
        "chunk_idx",
        "n_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


def cdc_dedup_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_bits: int = 4,
    max_tokens: int = 64,
) -> DataFrame:
    """Corpus-level chunk-dedup yield of :func:`cdc_chunks`: how much
    storage/compute chunk-level dedup would save. One extra hash
    aggregate over the chunk table. Returns a single row
    ``(n_chunks, n_unique_chunks, n_tokens, unique_tokens,
    dedup_ratio_ppm)`` — ratio = unique token mass over total token mass
    (integer ppm)."""
    ch = cdc_chunks(docs, text_col, id_col, mask_bits, max_tokens)
    per = ch.groupBy("chunk_md5").agg(
        F.count("*").alias("cnt"), F.first("n_tokens").alias("nt")
    )
    return per.agg(
        F.sum("cnt").cast("bigint").alias("n_chunks"),
        F.count("*").cast("bigint").alias("n_unique_chunks"),
        F.sum(F.col("cnt") * F.col("nt")).cast("bigint").alias("n_tokens"),
        F.sum("nt").cast("bigint").alias("unique_tokens"),
    ).select(
        "n_chunks",
        "n_unique_chunks",
        "n_tokens",
        "unique_tokens",
        F.expr("CAST(1000000 * unique_tokens div n_tokens AS BIGINT)").alias(
            "dedup_ratio_ppm"
        ),
    )


def contamination_drift(
    old_docs: DataFrame,
    new_docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source contamination DRIFT between two crawl snapshots — the
    between-versions regression check an eval-decontamination pipeline
    runs on every new crawl: compute :func:`contamination_report` against
    the same benchmark on both snapshots and flag sources whose
    benchmark-overlap rate is rising. Returns ``(group_col, old_n_docs,
    new_n_docs, old_rate_ppm, new_rate_ppm, delta_ppm, rising)`` with
    absent-side counts/rates coalesced to 0 (a source present in only one
    snapshot still reports) and ``rising = new_rate > old_rate``.

    Scale shape: two independent contamination_report passes (benchmark
    grams broadcast, corpus never shuffles, one map-side-combinable agg
    per pass) followed by a full-outer join on the source key — the
    source dimension is tiny (one row per crawl source), so the final
    join is a broadcast no-op at any corpus size."""
    ro = contamination_report(
        old_docs, benchmark, n=n, text_col=text_col,
        id_col=id_col, group_col=group_col,
    ).select(
        F.col(group_col).alias("_g_old"),
        F.col("n_docs").alias("old_n_docs"),
        F.col("rate_ppm").alias("old_rate_ppm"),
    )
    rn = contamination_report(
        new_docs, benchmark, n=n, text_col=text_col,
        id_col=id_col, group_col=group_col,
    ).select(
        F.col(group_col).alias("_g_new"),
        F.col("n_docs").alias("new_n_docs"),
        F.col("rate_ppm").alias("new_rate_ppm"),
    )
    j = ro.join(rn, ro["_g_old"] == rn["_g_new"], "full_outer")
    old_rate = F.coalesce("old_rate_ppm", F.lit(0).cast("bigint"))
    new_rate = F.coalesce("new_rate_ppm", F.lit(0).cast("bigint"))
    return j.select(
        F.coalesce("_g_old", "_g_new").alias(group_col),
        F.coalesce("old_n_docs", F.lit(0).cast("bigint")).alias("old_n_docs"),
        F.coalesce("new_n_docs", F.lit(0).cast("bigint")).alias("new_n_docs"),
        old_rate.alias("old_rate_ppm"),
        new_rate.alias("new_rate_ppm"),
        (new_rate - old_rate).cast("bigint").alias("delta_ppm"),
        (new_rate > old_rate).alias("rising"),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Train/val/test assignment at near-duplicate CLUSTER granularity —
    the split that closes the classic eval leak: with per-document
    hashing (:func:`assign_split`) two copies of the same document can
    land in train AND test, silently inflating eval scores; here the
    split is decided by hashing the cluster REPRESENTATIVE, so every
    member of a duplicate cluster inherits one split and no cluster
    straddles the boundary.

    ``pairs=None`` uses exact-duplicate clusters (rep = min id per
    ``md5(text)`` group — one uniform-key shuffle); pass near-dup pairs
    from any family (MinHash-LSH, SimHash, embedding) to resolve
    connected components instead (:func:`..dedup.resolve_clusters` —
    singletons keep themselves as rep). Assignment stays hash-based and
    engine-reproducible, the :func:`assign_split` contract.

    Returns ``(id_col, cluster_rep, split)``."""
    if pairs is not None:
        from .dedup import resolve_clusters

        base = resolve_clusters(pairs, docs=docs, id_col=id_col).select(
            id_col, "cluster_rep"
        )
    else:
        h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
        reps = (
            docs.select(F.col(id_col), h.alias("__h"))
            .groupBy("__h")
            .agg(F.min(id_col).alias("cluster_rep"))
        )
        base = (
            docs.select(F.col(id_col), h.alias("__h"))
            .join(reps, "__h")
            .select(id_col, "cluster_rep")
        )
    out = assign_split(base, id_col="cluster_rep", weights=weights, salt=salt)
    return out.select(id_col, "cluster_rep", "split")


def perplexity_buckets(
    docs: DataFrame,
    group_col: str = "source",
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing: score every
    document with the corpus-trained unigram LM
    (:func:`unigram_logprob_score`), rank WITHIN each ``group_col``
    slice by per-token surprisal ascending, and cut at exact rank
    boundaries into ``n_buckets`` equal buckets — bucket 0 is the most
    fluent "head" CCNet keeps outright, the last bucket the "tail" it
    drops or down-weights. Per-slice bucketing (per language/source) is
    the point: absolute perplexity is not comparable across languages,
    rank within the slice is.

    Exactness discipline: the ranking key is the INTEGER quantized
    per-token surprisal ``avg_q = nll_q div n_tokens`` (micro-bits;
    never a float division), ties broken on the id — deterministic and
    engine-identical, so the whole bucketing is oracle-able. Documents
    the scorer can't score (no tokens) are excluded, matching the
    scorer's own contract. ``bucket = (rank-1) * n_buckets div
    n_slice``.

    Returns ``(id_col, group_col, avg_q, slice_rank, slice_n, bucket)``.

    Scale shape: the scorer is two token-level aggregates (map-side
    combinable); the ranking is one window shuffle on the slice key —
    the many-moderate-slices shape (languages, sources), same caveat as
    :func:`stratified_exact_split` for a corpus-sized single slice."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    scores = unigram_logprob_score(docs, text_col=text_col, id_col=id_col)
    base = docs.select(F.col(id_col), F.col(group_col)).join(
        scores.select(
            F.col(id_col),
            F.expr("nll_q div n_tokens").cast("bigint").alias("avg_q"),
        ),
        id_col,
    )
    w = Window.partitionBy(group_col).orderBy("avg_q", id_col)
    wn = Window.partitionBy(group_col)
    ranked = base.select(
        F.col(id_col),
        F.col(group_col),
        F.col("avg_q"),
        F.row_number().over(w).cast("bigint").alias("slice_rank"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("slice_n"),
    )
    return ranked.withColumn(
        "bucket",
        F.expr(f"(slice_rank - 1) * {int(n_buckets)} div slice_n").cast(
            "bigint"
        ),
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    group_col: str | None = None,
    id_col: str = "doc_id",
    n: int = 100,
    salt: str = "prio",
) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement (sequential
    Poisson / priority sampling, Ohlsson 1998): each row draws the
    uniform hash ``u = md5_u60(salt || id) / 2^60`` and is ranked by
    priority ``u / w`` — the ``n`` smallest priorities per group win, so
    a row with twice the weight is (asymptotically) twice as likely to
    be kept. The weighted complement of :func:`sample_per_group`
    (uniform): quality-weighted corpus subsetting, importance-weighted
    eval carve-outs, upweighting rare domains WITHOUT the duplication
    :func:`mixture_sample` uses.

    Like every sampler in this module the draw is hash-deterministic —
    reproducible across runs, partitionings, engines; retried tasks
    cannot re-draw. Weights are milli-quantized to exact bigints
    (``floor(w·1000 + 0.5)``); rows with non-positive weight are
    EXCLUDED (weight 0 = never sampled). The priority compare divides
    two exact integers in double — identical on any IEEE engine — and
    ties (same hash AND weight) break on the id.

    For Horvitz-Thompson totals: with τ = the (n+1)-th smallest
    priority of a group, each kept row estimates its stratum mass with
    weight ``max(w_i, τ·...)`` — the caller keeps τ from rank n+1; this
    op emits the sample itself (``sample_rank`` 1-based).

    One window shuffle on the group key, constant per-row math —
    :func:`sample_per_group`'s exact cost. Ungrouped mode
    (``group_col=None``) is a single global window partition — fine for
    result sizes a driver would hold anyway, but shard by a stratum
    column when sampling a whole corpus. Returns the kept rows +
    ``w_milli`` + ``sample_rank``.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from .hashing import md5_u60

    w_milli = F.floor(
        F.col(weight_col).cast("double") * F.lit(1000) + F.lit(0.5)
    ).cast("bigint")
    u = md5_u60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    prio = u.cast("double") / F.col("w_milli").cast("double")
    keys = [group_col] if group_col else [F.lit(1)]
    win = Window.partitionBy(*keys).orderBy(
        prio.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("w_milli", w_milli)
        .where(F.col("w_milli") > 0)
        .withColumn("sample_rank", F.row_number().over(win))
        .where(F.col("sample_rank") <= n)
    )


#: JSON value-head classes for json_shape_profile: first character of the
#: raw captured value decides the type class — engine-neutral (the same
#: regex scan runs on Spark and DuckDB), no JSON parser in the loop
_JSON_KV_RE = (
    r'"([^"]+)"\s*:\s*'
    r'("(?:[^"\\]|\\.)*"|-?[0-9][0-9.eE+-]*|true|false|null|\{|\[)'
)


def json_shape_profile(
    df: DataFrame,
    json_col: str,
    id_col: str | None = None,
) -> DataFrame:
    """Schema/shape profile of a JSON string column — the ingestion QC
    pass a crawl/feed pipeline runs before committing to a parse
    schema: for every KEY (any nesting depth, flattened by name) the
    document count and the value-type class distribution. One row per
    (key, type class): ``(key, jtype, n, key_share_ppm)`` where jtype ∈
    ``string number bool null object array`` and ``key_share_ppm`` is
    this class's share of the key's occurrences.

    Mechanics: one regex scan captures every ``"key": <value-head>``
    pair (two aligned ``regexp_extract_all`` passes zipped — Catalyst
    evaluates the scan per array, no per-key re-parse), the value head's
    first character classifies the type. Deliberate contract: keys are
    flattened BY NAME across nesting (a shape report, not a parser) and
    string values containing ``":`` sequences are the documented false-
    positive edge — the full tree walk lives in ingest.json_to_quads;
    this is the cheap profiling complement. Scale shape: pure map +
    explode + ONE (key, jtype) hash aggregate with map-side combine."""
    cols = [F.col(id_col)] if id_col else []
    keys = F.regexp_extract_all(F.col(json_col), F.lit(_JSON_KV_RE), F.lit(1))
    vals = F.regexp_extract_all(F.col(json_col), F.lit(_JSON_KV_RE), F.lit(2))
    pairs = F.arrays_zip(keys.alias("k"), vals.alias("v"))
    ex = df.select(*cols, F.explode(pairs).alias("p")).select(
        F.col("p.k").alias("key"),
        F.substring(F.col("p.v"), 1, 1).alias("_h"),
    )
    jtype = (
        F.when(F.col("_h") == '"', "string")
        .when(F.col("_h") == "t", "bool")
        .when(F.col("_h") == "f", "bool")
        .when(F.col("_h") == "n", "null")
        .when(F.col("_h") == "{", "object")
        .when(F.col("_h") == "[", "array")
        .otherwise("number")
    )
    per = ex.select("key", jtype.alias("jtype")).groupBy("key", "jtype").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # per-key total as a window over the aggregated cells (r13): the
    # groupBy+join-back shape consumed `per` twice, re-running the JSON
    # pair-parse explode — the expensive stage — per consumer; the window
    # runs over the (key, jtype) cell table, which is
    # schema-sized, so the extra shuffle is negligible and the corpus
    # parse happens exactly once
    kt = F.sum("n").over(Window.partitionBy("key")).cast("bigint")
    return per.withColumn("_kt", kt).select(
        "key",
        "jtype",
        "n",
        F.expr("n * 1000000 div _kt").cast("bigint").alias("key_share_ppm"),
    )


def learning_curve_splits(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str | None = None,
    fractions_ppm: tuple[int, ...] = (100_000, 200_000, 400_000, 1_000_000),
) -> DataFrame:
    """Nested data-ablation subsets for learning-curve runs: fraction f
    of the corpus = the first ``ceil(f·N)`` documents in the
    reproducible md5 shuffle order, so the 10% subset is CONTAINED in
    the 20% which is contained in the 40% … (the nesting every
    scaling-law experiment needs: a bigger run reuses the smaller run's
    data plus strictly new documents). One row per fraction:
    ``(fraction_ppm, n_docs, n_tokens)`` cumulative at that fraction —
    the budget table a learning-curve sweep schedules from.

    Assignment is rank-exact, not hash-threshold: subset sizes are
    exactly ceil(f·N), not binomial draws. Scale shape: rank-exact
    subsets REQUIRE a total order, so this runs two global windows over
    (md5(id), id) — the deliberate md5-shuffle convention shared with
    mixture_sample / domain_frequency_cap (at 100 TB use a
    hash-threshold variant and accept binomial sizes); past the
    windows everything is fractions-sized, and the cut lookup is an
    equi-join on the exact cut rank."""
    from .hashing import md5_u60

    if not fractions_ppm or any(
        not 0 < int(f) <= 1_000_000 for f in fractions_ppm
    ):
        raise ValueError(f"bad fractions_ppm: {fractions_ppm}")
    fr = sorted({int(f) for f in fractions_ppm})
    tok = (
        F.col(token_col).cast("bigint")
        if token_col
        else F.lit(1).cast("bigint")
    )
    w = Window.orderBy("_h", "_id")
    ranked = (
        df.select(
            md5_u60(F.col(id_col).cast("string")).alias("_h"),
            F.col(id_col).alias("_id"),
            tok.alias("_tok"),
        )
        .select(
            F.row_number().over(w).cast("bigint").alias("_r"),
            F.sum("_tok")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint")
            .alias("_cum_tok"),
        )
    )
    n_tot = ranked.agg(F.max("_r").cast("bigint").alias("_n"))
    cuts = n_tot.select(
        F.explode(
            F.array(*[F.lit(f) for f in fr])
        ).alias("fraction_ppm"),
        F.col("_n"),
    ).select(
        F.col("fraction_ppm").cast("bigint").alias("fraction_ppm"),
        F.expr("(fraction_ppm * _n + 999999) div 1000000")
        .cast("bigint")
        .alias("_cut"),
    )
    return cuts.join(
        ranked, cuts["_cut"] == ranked["_r"], "left"
    ).select(
        "fraction_ppm",
        F.col("_cut").alias("n_docs"),
        F.coalesce("_cum_tok", F.lit(0)).cast("bigint").alias("n_tokens"),
    )


def shrunken_domain_quality(
    df: DataFrame,
    domain_col: str,
    pass_col: str,
    prior_strength: int = 100,
) -> DataFrame:
    """Per-domain quality pass-rate with empirical-Bayes shrinkage
    toward the corpus rate — the ranking a crawl-curation pipeline
    actually needs: a domain with 3/3 passes must NOT outrank one with
    9 500/10 000, so each domain's rate is a beta-binomial posterior
    mean with ``prior_strength`` pseudo-observations at the global
    rate: shrunk = (passes + m·g) / (n + m). Output one row per
    domain: ``(domain, n_docs, n_pass, raw_ppm, shrunk_ppm)``.

    Exactness: the global rate is quantized to ppm first
    (``g_ppm = P·10^6 div N``), then ``shrunk_ppm = (passes·10^6 +
    m·g_ppm) div (n + m)`` — two integer divisions, both engine-exact;
    the quantization displaces the result by < m/(n+m) ppm, and keeps
    every intermediate ≤ passes·10^6 (no n·N cross term), so the
    arithmetic never overflows regardless of corpus size.

    Scale shape: ONE map-combinable hash aggregate on the domain key
    (the fact table never shuffles raw rows), then a broadcast one-row
    global total joined onto the domain table — domain cardinality,
    not corpus size, bounds everything after the first aggregate."""
    m = int(prior_strength)
    if m < 0:
        raise ValueError("prior_strength must be >= 0")
    base = df.select(
        F.col(domain_col).alias("domain"),
        F.col(pass_col).cast("int").alias("_p"),
    ).where(F.col("domain").isNotNull() & F.col("_p").isNotNull())
    per = base.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_p").cast("bigint").alias("n_pass"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("_nn"), F.sum("n_pass").alias("_pp")
    ).select(
        F.expr("_pp * 1000000 div _nn").cast("bigint").alias("_gppm")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        "n_pass",
        F.expr("n_pass * 1000000 div n_docs").cast("bigint").alias("raw_ppm"),
        F.expr(
            f"(n_pass * 1000000 + {m} * _gppm) div (n_docs + {m})"
        )
        .cast("bigint")
        .alias("shrunk_ppm"),
    )


def compaction_plan(
    df: DataFrame,
    group_col: str,
    file_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-files compaction plan — the table-maintenance step every
    long-lived parquet corpus needs (a 100 TB table accreted from
    streaming/incremental writes degrades into millions of KB-scale
    files; scan cost is then per-FILE, not per-byte). Files are packed
    per directory/partition ``group_col`` in deterministic ``file_col``
    order by running-sum banding: a file starts a new output group when
    the bytes packed before it reach a multiple of ``target_bytes`` —
    one window pass, no driver-side bin packing, reproducible across
    runs (rewrite jobs can be diffed). Output one row per planned
    output file: ``(group, out_group, n_files, total_bytes,
    n_oversized)`` where ``n_oversized`` counts single files ≥
    ``target_bytes`` (they land alone-or-leading and should be left
    in place by the executor; the plan surfaces them instead of hiding
    them). Output groups can overshoot ``target_bytes`` by at most one
    file — the standard compaction contract (bin-packing exactly would
    serialize per group for a few percent of size balance).

    Scale shape: ONE hash partition by ``group_col`` feeding a window
    running sum, then a (group, out_group) hash aggregate — parallelism
    = number of directories, the same key the rewrite jobs shard on;
    nothing global, nothing collected."""
    t = int(target_bytes)
    if t <= 0:
        raise ValueError("target_bytes must be positive")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(file_col).alias("_f"),
        F.col(size_col).cast("bigint").alias("_sz"),
    ).where(F.col("grp").isNotNull() & F.col("_sz").isNotNull())
    w = (
        Window.partitionBy("grp")
        .orderBy("_f")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    banded = base.withColumn(
        "_before", F.coalesce(F.sum("_sz").over(w), F.lit(0)).cast("bigint")
    ).withColumn("out_group", F.expr(f"_before div {t}").cast("bigint"))
    return banded.groupBy("grp", "out_group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("_sz").cast("bigint").alias("total_bytes"),
        F.sum(F.when(F.col("_sz") >= t, 1).otherwise(0))
        .cast("bigint")
        .alias("n_oversized"),
    ).select(
        F.col("grp").alias("group"),
        "out_group",
        "n_files",
        "total_bytes",
        "n_oversized",
    )


def sequence_pack_plan(
    df: DataFrame,
    id_col: str,
    token_col: str,
    context_len: int,
) -> DataFrame:
    """Sequence-packing plan report — how efficiently the corpus packs
    into fixed ``context_len``-token training windows under greedy
    running-sum banding in the reproducible md5-shuffle order (the
    packing a pretraining dataloader actually performs; unpacked
    batches waste the padding fraction this report prices). A document
    starts a new bin when the tokens packed before it reach a multiple
    of ``context_len``; bins therefore overshoot by at most one
    document, and documents longer than the context are counted as
    overflow (the dataloader will split or truncate them — surfaced,
    not hidden). Output: one row per FILL DECILE (0..10, fill =
    bin tokens · 10 div context_len capped at 10):
    ``(fill_decile, n_bins, n_docs, n_tokens, n_overflow_docs)`` —
    bin population by fullness, 11 rows max regardless of corpus size.

    Scale shape: the global order window is the standing md5-shuffle
    convention (learning_curve_splits; hash-banded at 100 TB), then
    one (bin) aggregate and one (decile) aggregate — output bounded at
    11 rows."""
    from .hashing import md5_u60

    ln = int(context_len)
    if ln <= 0:
        raise ValueError("context_len must be positive")
    base = df.select(
        F.col(id_col).alias("_id"),
        md5_u60(F.col(id_col).cast("string")).alias("_h"),
        F.col(token_col).cast("bigint").alias("_tok"),
    ).where(F.col("_tok").isNotNull())
    w = Window.orderBy("_h", "_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    binned = base.withColumn(
        "_before", F.coalesce(F.sum("_tok").over(w), F.lit(0)).cast("bigint")
    ).withColumn("_bin", F.expr(f"_before div {ln}").cast("bigint"))
    per_bin = binned.groupBy("_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_tok").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("_tok") > ln, 1).otherwise(0))
        .cast("bigint")
        .alias("n_overflow_docs"),
    )
    decile = F.least(
        F.expr(f"n_tokens * 10 div {ln}"), F.lit(10)
    ).cast("bigint")
    return (
        per_bin.select(
            decile.alias("fill_decile"),
            "n_docs",
            "n_tokens",
            "n_overflow_docs",
        )
        .groupBy("fill_decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_overflow_docs")
            .cast("bigint")
            .alias("n_overflow_docs"),
        )
        .select(
            "fill_decile", "n_bins", "n_docs", "n_tokens", "n_overflow_docs"
        )
    )
