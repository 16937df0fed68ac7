"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (the point of these at 100 TB):

* ``exact_dedup`` — one hash-aggregate; the only shuffle is on the 32-hex
  md5 key, which is uniformly distributed → no skew.
* ``ngram_jaccard_pairs`` — shingle-inverted-index join: explode shingles,
  self-join on the shingle value, count shared shingles, compute Jaccard
  from exact set sizes. Hot shingles (stopword n-grams) create join skew →
  ``max_shingle_freq`` drops shingles appearing in more than N docs (they
  carry ~no signal and dominate cost), same idea as stopword pruning in
  inverted indexes. AQE skew-join handles the remainder.
* ``minhash_lsh_pairs`` — MinHash signatures (k permutations via
  ``xxhash64(token, seed)``) banded into LSH buckets; candidate pairs only
  join within a bucket → candidate generation is linear in bucket sizes,
  never all-pairs. This is the 100 TB path: bands bound the shuffle.
* ``simhash_pairs`` — 64-bit SimHash grouped by rotated prefix blocks
  (Hamming-ball blocking).

Everything is built-in Column expressions — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ckpt import CheckpointTracker
from .text import tokens


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (lowest id) per exact text; adds
    ``group_size``. Equality on md5(text) — collisions are negligible and
    the 32-byte key shuffles far cheaper than full documents."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> column
    (empty — never NULL — for NULL/short text). See
    :func:`..text.zip_kgrams` for why the zip construction matters."""
    from .text import zip_kgrams

    return F.array_distinct(zip_kgrams(tokens(text), n))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """All pairs (a < b) with Jaccard(shingles_a, shingles_b) ≥ threshold.

    Inverted-index self-join on shingles — never a cartesian product.
    Jaccard uses the TRUE set sizes even when ``max_shingle_freq`` prunes
    hot shingles from the index — so pruning UNDERESTIMATES the Jaccard of
    pairs whose overlap includes hot shingles, and pairs overlapping ONLY
    in hot shingles are lost entirely (see the module docstring's blind-
    spot note; ``exact_dedup`` / ``minhash_lsh_pairs`` cover that shape).

    ``max_shingle_freq`` defaults to 1000 as the skew guard: ONE shingle
    shared by k documents emits k² join rows on a single shuffle key —
    AQE skew-join can't split a single logical key, so an unguarded viral
    shingle (boilerplate header, stopword n-gram) is a 100×-scale
    straggler. Pass ``None`` only when the shingle-frequency distribution
    is known to be flat."""
    base = docs.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), n).alias("shingles")
    ).withColumn("set_size", F.size("shingles"))
    # join on xxhash64(shingle), not the shingle string: 8-byte fixed-width
    # shuffle keys instead of ~n-word strings (collision probability across
    # even billions of distinct shingles is negligible at 64 bits)
    flat = base.select(
        "id", "set_size", F.explode("shingles").alias("shingle")
    ).select("id", "set_size", F.xxhash64("shingle").alias("shingle"))
    if max_shingle_freq is not None:
        # document frequency via a window over the SAME shuffle the
        # self-join needs anyway (partition by shingle): no extra pass over
        # the corpus, no separate freq aggregate + anti-join — and both
        # join sides reuse the one exchange (ReusedExchange)
        w = Window.partitionBy("shingle")
        flat = flat.withColumn("df", F.count(F.lit(1)).over(w)).where(
            F.col("df") <= max_shingle_freq
        ).drop("df")
    a = flat.alias("a")
    b = flat.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("common")
    ).cast("double")
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# shared cross-engine hash primitives (also used by text.winnow_fingerprints)
from .hashing import MERSENNE31 as _MERSENNE31
from .hashing import md5_base as _md5_base


def _mh_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the universal hash family
    ``h_i(x) = (a_i * x + b_i) mod 2^31-1``. Shared verbatim with the SQL
    oracle generator — both engines evaluate the identical arithmetic."""
    out = []
    for i in range(num_hashes):
        a = (2654435761 * (i + 1)) % _MERSENNE31 or 1
        b = (972663749 * (i + 1) + 12345) % _MERSENNE31
        out.append((a, b))
    return out


def minhash_signature(
    text: Column, num_hashes: int = 32, hash_fn: str = "xxhash64"
) -> Column:
    """MinHash signature: per seed i, min over tokens of hash_i(token).
    Deterministic, JVM-side; length-``num_hashes`` array<bigint>.

    ``hash_fn``:
      * ``"xxhash64"`` (default) — ``xxhash64(token, seed=i)``, the cheap
        scale path.
      * ``"md5"`` — universal hash family over :func:`_md5_base`:
        one md5 per token, then integer multiply-adds per seed —
        bit-reproducible in any ANSI-SQL engine, which is what the
        cross-engine correctness oracle needs. Both are uniform hash
        families — same collision statistics.
    """
    tks = F.array_distinct(tokens(text))
    if hash_fn == "md5":
        coeffs = _mh_coeffs(num_hashes)

        def hashes_of(x: Column) -> Column:
            return F.array(*[(F.lit(a) * x + F.lit(b)) % _MERSENNE31 for a, b in coeffs])

        # one fold over the tokens: md5 evaluated ONCE per token, all
        # num_hashes mins updated via zip_with — vs num_hashes separate
        # array_min passes each recomputing the md5 transform
        sig = F.aggregate(
            F.transform(tks, _md5_base),
            F.array(*[F.lit(_MERSENNE31)] * num_hashes).cast("array<bigint>"),
            # F.least itself is varargs — PySpark rejects it as a
            # higher-order-function lambda; wrap in a binary lambda
            lambda acc, x: F.zip_with(acc, hashes_of(x), lambda a, b: F.least(a, b)),
        )
        return F.when(F.size(tks) > 0, sig)
    return F.array(
        *[F.array_min(F.transform(tks, lambda t: F.xxhash64(t, F.lit(i)))) for i in range(num_hashes)]
    )


def _signature_table(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    hash_fn: str,
    materialize: bool,
) -> DataFrame:
    """``(id, sig)`` MinHash signature table via explode → ONE
    min-aggregate: the document is tokenized once (vs num_hashes times if
    the signature were built as a per-row array expression — Catalyst
    does not eliminate the common tokenize+distinct subtree across array
    elements, a measured ~30× slowdown), and the mins combine map-side
    before the shuffle on id. Token-less docs never reach the aggregate
    (explode of an empty array). Materialization (localCheckpoint) is for
    multi-consumer plans — a signature is ``num_hashes × 8`` bytes per
    doc regardless of document size (sf-independent width)."""
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    if hash_fn == "md5":
        coeffs = _mh_coeffs(num_hashes)
        base = _md5_base(F.col("tok"))
        tok = tok.select("id", base.alias("hb"))
        hash_i = lambda i: (
            F.lit(coeffs[i][0]) * F.col("hb") + F.lit(coeffs[i][1])
        ) % _MERSENNE31
    else:
        hash_i = lambda i: F.xxhash64("tok", F.lit(i))
    agg = tok.groupBy("id").agg(
        *[F.min(hash_i(i)).alias(f"m{i}") for i in range(num_hashes)]
    )
    sig = agg.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )
    if materialize and not docs.isStreaming:
        sig = sig.localCheckpoint(eager=True)
    return sig


def _band_table(
    sig: DataFrame, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """``(id, band, bucket)`` banded-LSH bucket rows from a signature
    table. md5 mode buckets by md5 of the '|'-joined decimal strings
    (injective, reproducible in SQL via array_to_string); xxhash mode by
    ``F.hash`` of the band slice. Rows are NARROW (id, band, bucket) so a
    mega-bucket of k docs emits k² 16-byte candidate rows downstream, not
    k² signature pairs."""
    rows_per_band = num_hashes // bands
    if hash_fn == "md5":
        bucket_of = lambda bi: F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.slice("sig", bi * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
        )
    else:
        bucket_of = lambda bi: F.hash(
            F.slice("sig", bi * rows_per_band + 1, rows_per_band)
        )
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band"), bucket_of(bi).alias("bucket"))
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _sig_agreement(num_hashes: int):
    """Estimated Jaccard from two signature columns ``sig_a``/``sig_b``:
    one zip_with pass (vectorized, stays in whole-stage codegen; a flat
    32-term add-chain of array accesses measured 2× SLOWER — the giant
    expression tree falls out of codegen)."""
    return F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(float(num_hashes))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, with an exact
    estimated-similarity refinement.

    shingle→minhash→band→bucket-join (the classic MinHashLSH pipeline):
    docs sharing any band bucket become candidates; candidate pairs are
    scored by full-signature agreement (estimated Jaccard) and filtered.
    At scale: bucket join is an equi-shuffle on (band, bucket-hash);
    signatures are ``num_hashes × 8`` bytes per doc regardless of doc size.

    ``hash_fn="md5"`` selects the cross-engine-deterministic hash family
    (see :func:`minhash_signature`) so the whole pipeline — banding,
    candidate join, signature-agreement estimate — is verifiable against
    an ANSI-SQL oracle; the LSH machinery is identical in both modes.

    Refinement join strategy (evaluated r05, re-evaluated r14 — shuffle
    kept deliberately): broadcasting the signature table onto the raw
    candidate stream measured 7× SLOWER (r05: the tiny signature
    relation AQE-coalesces to one partition and the broadcast path
    inherits that layout for the whole refinement), and carrying the
    signature through the band join with an inline estimate measured
    4× slower (r14: the estimate becomes a JOIN-CONDITION predicate,
    where the higher-order zip_with runs interpreted per raw
    band-duplicate row — see the inline note below). Narrow-pairs-first
    + shuffle joins is also the only shape that works when signatures
    exceed executor memory, so the alternatives would diverge at scale
    anyway."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        # bands > num_hashes would make every band bucket a constant (one
        # global bucket -> O(N²) cross join); non-divisible values would
        # silently ignore trailing hashes and lower recall
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    # sig feeds THREE consumers (banding + both sides of the refinement
    # join); without materialization the tokenize→hash→32-way-min subtree —
    # the most expensive stage — re-executes each time. ``materialize=False``
    # keeps plan construction fully lazy (no job at build time) for callers
    # that only want the plan — same contract as ``construct(materialize=)``.
    sig = _signature_table(docs, text_col, id_col, num_hashes, hash_fn, materialize)
    banded = _band_table(sig, num_hashes, bands, hash_fn)
    # Candidate generation joins NARROW rows (id, band, bucket) only;
    # signatures are joined back after dedup, when the pair set is small.
    # (r14 re-measured the "carry the signature through the band join and
    # estimate inline" alternative: the estimate then references both join
    # sides, so Catalyst fuses it into the JOIN CONDITION, where the
    # higher-order zip_with is evaluated INTERPRETED once per RAW band-
    # duplicate candidate — 15.6M evaluations instead of a codegen'd
    # filter over 3.9M deduped pairs; 39-45 s vs 10 s at sf0.1. Declined;
    # guide §1.1's "the ideal plan is usually slower at first".)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand.join(
        sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    est = _sig_agreement(num_hashes)
    return (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    materialize: bool = True,
) -> DataFrame:
    """Admission control for a growing corpus: flag each document of a
    NEW ``batch`` that near-duplicates the EXISTING ``corpus`` (MinHash
    banded LSH, same machinery and parameters as
    :func:`minhash_lsh_pairs`). This is how dedup actually runs in a
    production ingestion pipeline — the 100 TB corpus is not re-paired
    against itself on every arrival; only the new batch is hashed and
    probed against the corpus's band index.

    Scale shape: the corpus side reduces to its ``(id, band, bucket)``
    index plus its ``(id, sig)`` table — in steady state BOTH are
    precomputed once at admission time and stored bucketed on their join
    keys (see ``layout.write_bucketed``), so admitting a batch shuffles
    ONLY batch-sized data: batch signatures (one aggregate over the
    batch), a probe join into the bucket index, and a signature
    refinement on the candidate pairs. Nothing in this plan scales with
    corpus size except the (pre-built, pruned-by-bucket) index probe.
    Batch-internal duplicates are NOT flagged here — run
    :func:`minhash_lsh_pairs` on the batch for that; the two compose.

    Returns one row per batch document:
    ``(id_col, n_dups, dup_of, est_jaccard, admitted)`` — ``dup_of`` the
    best-matching corpus id (highest agreement, ties to the smallest id),
    NULL when admitted; ``admitted`` = no corpus match ≥ ``threshold``."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    csig = _signature_table(corpus, text_col, id_col, num_hashes, hash_fn, materialize)
    bsig = _signature_table(batch, text_col, id_col, num_hashes, hash_fn, materialize)
    cband = _band_table(csig, num_hashes, bands, hash_fn)
    bband = _band_table(bsig, num_hashes, bands, hash_fn)
    return _probe_admission(
        batch, bband, bsig, cband, csig, num_hashes, threshold, id_col
    )


def _probe_admission(
    batch: DataFrame,
    bband: DataFrame,
    bsig: DataFrame,
    cband: DataFrame,
    csig: DataFrame,
    num_hashes: int,
    threshold: float,
    id_col: str,
) -> DataFrame:
    """Shared probe of :func:`incremental_dedup` /
    :func:`incremental_dedup_steady`: band-bucket candidate join, signature
    refinement, best-match pick, batch-spine left join."""
    cand = (
        bband.alias("b")
        .join(
            cband.alias("c"),
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("b.id").alias("batch_id"), F.col("c.id").alias("corpus_id")
        )
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    scored = (
        cand.join(
            bsig.select(F.col("id").alias("batch_id"), F.col("sig").alias("sig_a")),
            "batch_id",
        )
        .join(
            csig.select(F.col("id").alias("corpus_id"), F.col("sig").alias("sig_b")),
            "corpus_id",
        )
        .withColumn("est_jaccard", F.round(_sig_agreement(num_hashes), 6))
        .where(F.col("est_jaccard") >= threshold)
    )
    w = Window.partitionBy("batch_id").orderBy(
        F.col("est_jaccard").desc(), F.col("corpus_id").asc()
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(Window.partitionBy("batch_id")))
        .where(F.col("__rn") == 1)
        .select(
            "batch_id",
            F.col("__n").cast("bigint").alias("n_dups"),
            F.col("corpus_id").alias("dup_of"),
            F.col("est_jaccard"),
        )
    )
    spine = batch.select(F.col(id_col).alias("batch_id"))
    return spine.join(best, "batch_id", "left").select(
        F.col("batch_id").alias(id_col),
        F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
        "dup_of",
        "est_jaccard",
        F.col("dup_of").isNull().alias("admitted"),
    )


#: auto-sizing target for build_dedup_index(num_buckets=None): one bucket
#: per ~250k corpus rows, so probe-join parallelism scales with the
#: corpus instead of being capped by a fixed bucket count. Measured at
#: the r11 100× spot-check (BASELINE.md): a fixed 16 made the steady
#: probe superlinear (12.7×/decade); rebucketing to corpus size (128 at
#: 10× data) restored sublinear 6.4×/decade with identical output.
TARGET_ROWS_PER_BUCKET = 250_000


def _auto_num_buckets(rows: int, target: int = TARGET_ROWS_PER_BUCKET) -> int:
    """Corpus-sized bucket count: at least 16, one bucket per ``target``
    rows, rounded UP to a power of two (even hash routing; co-bucketed
    append compatibility only needs the count to match the table's)."""
    need = max(16, -(-int(rows) // int(target)))
    p = 16
    while p < need:
        p *= 2
    return p


def build_dedup_index(
    corpus: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
    num_buckets: int | None = None,
    mode: str = "overwrite",
) -> tuple[str, str]:
    """One-time admission-index build for :func:`incremental_dedup_steady`:
    persist the corpus's ``(id, band, bucket)`` band index — BUCKETED on
    ``(band, bucket)``, the probe join's key — and its ``(id, sig)``
    signature table, bucketed on ``id``, as managed tables
    ``{table_prefix}_bands`` / ``{table_prefix}_sigs``.

    This is the steady-state half of the 100 TB admission-control story
    (``incremental_dedup`` docstring): the corpus is hashed ONCE at this
    write, and every subsequent batch admission shuffles only batch-sized
    data — the bucketed scan IS the corpus side's exchange, so the probe
    join plans with no Exchange over the corpus index (plan-pinned in
    tests/test_selection_linkpred.py::
    test_incremental_steady_corpus_side_is_bucketed_scan). After
    admitting a batch, append its
    band/sig rows to these tables (saveAsTable append preserves the
    bucket spec) so the index tracks the corpus.

    ``num_buckets=None`` (the default since r12) sizes the bucket count
    to the corpus — ``max(16, rows / TARGET_ROWS_PER_BUCKET)`` rounded
    up to a power of two — because a fixed count caps probe parallelism
    as the corpus grows (measured superlinear at the r11 100×
    spot-check). The count is recorded in the metastore's bucket spec,
    so probes and :func:`append_to_dedup_index` inherit it without
    being told; the row count is read from the already-materialized
    signature table, so auto-sizing adds no extra corpus scan. Pass an
    int to pin it (the bench fixture pins 16 for bar comparability)."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    from .layout import write_bucketed

    # materialize: sig feeds BOTH writes — without it the tokenize→min
    # subtree (the expensive stage) runs twice, once per saveAsTable
    sig = _signature_table(corpus, text_col, id_col, num_hashes, hash_fn, True)
    if num_buckets is None:
        # sig is localCheckpointed here, so the count is a cheap
        # metadata-ish pass over materialized partitions, not a rescan
        num_buckets = _auto_num_buckets(sig.count())
    band = _band_table(sig, num_hashes, bands, hash_fn)
    bands_table, sigs_table = f"{table_prefix}_bands", f"{table_prefix}_sigs"
    write_bucketed(band, bands_table, ["band", "bucket"], num_buckets, mode=mode)
    write_bucketed(sig.select("id", "sig"), sigs_table, ["id"], num_buckets, mode=mode)
    return bands_table, sigs_table


def _table_num_buckets(spark, table: str) -> int:
    """Bucket count recorded in the metastore for ``table`` (DESCRIBE
    EXTENDED's ``Num Buckets`` row) — how probes/appends inherit the
    build-time auto-sizing without being told it."""
    for row in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
        if row[0] and row[0].strip() == "Num Buckets":
            return int(row[1])
    raise ValueError(f"{table} has no bucket spec in the metastore")


def append_to_dedup_index(
    admitted: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
    num_buckets: int | None = None,
) -> None:
    """Admit a batch into the steady-state index: append the ADMITTED
    documents' band/signature rows to the tables
    :func:`build_dedup_index` wrote. The append restates the bucket spec
    (Spark requires it and rejects a mismatch against the existing
    table's metadata — the guard that keeps the index consistent), so
    new rows hash-route into the same bucket scheme and the index keeps
    its zero-shuffle probe property as the corpus grows. This is the
    write half of each steady-state admission cycle: probe → filter to
    ``admitted`` → append. Hash parameters must match the build call
    (the tables carry no hash metadata; a mismatch silently degrades
    recall — pass the same constants); ``num_buckets`` IS checked by the
    metastore, and the default (None) reads the build-time count from
    it, so auto-sized indexes append correctly with no caller
    plumbing."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    if num_buckets is None:
        num_buckets = _table_num_buckets(
            admitted.sparkSession, f"{table_prefix}_bands"
        )
    sig = _signature_table(admitted, text_col, id_col, num_hashes, hash_fn, True)
    band = _band_table(sig, num_hashes, bands, hash_fn)
    band.write.mode("append").format("parquet").bucketBy(
        int(num_buckets), "band", "bucket"
    ).saveAsTable(f"{table_prefix}_bands")
    sig.select("id", "sig").write.mode("append").format("parquet").bucketBy(
        int(num_buckets), "id"
    ).saveAsTable(f"{table_prefix}_sigs")


def incremental_dedup_steady(
    batch: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    materialize: bool = True,
) -> DataFrame:
    """Steady-state batch admission against a PREBUILT corpus index
    (:func:`build_dedup_index`): hash only the batch, probe the bucketed
    band index, refine against the stored signatures. Semantically
    identical to :func:`incremental_dedup` on the same corpus/parameters
    (pytest-pinned equivalence); the difference is the plan — the corpus
    is never re-tokenized or re-shuffled, only its pre-bucketed index is
    scanned."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    spark = batch.sparkSession
    cband = spark.table(f"{table_prefix}_bands")
    csig = spark.table(f"{table_prefix}_sigs")
    bsig = _signature_table(batch, text_col, id_col, num_hashes, hash_fn, materialize)
    bband = _band_table(bsig, num_hashes, bands, hash_fn)
    return _probe_admission(
        batch, bband, bsig, cband, csig, num_hashes, threshold, id_col
    )


def cross_snapshot_neardup(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    statuses: tuple[str, ...] = ("added", "changed"),
    materialize: bool = True,
) -> DataFrame:
    """Cross-snapshot FUZZY dedup — the temporal member of the MinHash
    family: how much of a crawl's "new" content is actually recycled
    from the previous snapshot. :func:`~.changelog.snapshot_diff` finds
    the delta ids (exact content hashing answers only byte-identity —
    a boilerplate reshuffle or appended footer looks "changed"/"added"
    to it); this operator then MinHash-band-probes the delta documents
    against the WHOLE old snapshot, so a renamed/near-copied document is
    caught no matter which id it reappears under.

    Returns one row per delta document (``status`` ∈ ``statuses``):
    ``(id, status, n_dups, dup_of, est_jaccard, genuinely_new)`` —
    ``dup_of`` the best old-side match at ``threshold`` (ties to the
    smallest old id), ``n_dups`` how many old documents matched, and
    ``genuinely_new`` true iff nothing matched (the rows a crawl
    pipeline actually wants to keep).

    Scale shape: the diff is one full-outer join on (id, md5); the
    probe reuses :func:`incremental_dedup`'s banded machinery — the
    delta side is hashed delta-sized, the old side corpus-sized but
    NARROW (band rows are (id, band, bucket)), candidates come only
    from bucket collisions (never all-pairs), and the signature
    refinement joins candidate-sized tables. For repeated snapshot
    cadences, build the old side once with :func:`build_dedup_index`
    and probe via :func:`incremental_dedup_steady` instead; this
    two-snapshot form is the index-free one-shot."""
    from .changelog import snapshot_diff

    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    diff = snapshot_diff(old, new, id_col, text_col)
    delta_ids = diff.where(F.col("status").isin(*statuses)).select(
        F.col(id_col), "status"
    )
    if materialize and not new.isStreaming:
        # delta_ids feeds THREE consumers (the delta semi-join, the probe
        # and the final status join): unmaterialized, the snapshot_diff
        # full-outer join — two corpus exchanges plus an md5 over the
        # full text of BOTH snapshots — re-executes per consumer
        # (measured 3× in the sf0.1 plan, r13). The checkpoint is
        # delta-sized narrow rows (id, status), and its known size lets
        # the planner broadcast the downstream joins instead of
        # sort-merging corpus-keyed exchanges.
        delta_ids = delta_ids.localCheckpoint(eager=True)
    # No broadcast hint: the delta scales with crawl churn (a full
    # re-crawl makes it corpus-sized), so pinning a broadcast here would
    # build a corpus-proportional table on the driver at volume. AQE
    # broadcasts it at runtime when it is actually small.
    delta = new.join(delta_ids.select(id_col), id_col, "left_semi")
    bsig = _signature_table(delta, text_col, id_col, num_hashes, hash_fn, materialize)
    bband = _band_table(bsig, num_hashes, bands, hash_fn)
    csig = _signature_table(old, text_col, id_col, num_hashes, hash_fn, materialize)
    cband = _band_table(csig, num_hashes, bands, hash_fn)
    probe = _probe_admission(
        delta, bband, bsig, cband, csig, num_hashes, threshold, id_col
    )
    return probe.join(delta_ids, id_col).select(
        id_col,
        "status",
        "n_dups",
        "dup_of",
        "est_jaccard",
        F.col("admitted").alias("genuinely_new"),
    )


def resolve_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    max_iter: int = 30,
    pairs_canonical: bool = False,
) -> DataFrame:
    """Resolve near-duplicate *pairs* into per-document keep/drop decisions:
    distributed connected components over the pair graph, emitting one row
    per document with its ``cluster_rep`` (the minimum doc id reachable
    through near-dup edges — the canonical "keep" representative) and the
    ``cluster_size``. Documents in no pair are singleton clusters of
    themselves when ``docs`` supplies the full corpus.

    This is the step a training-data pipeline runs after
    :func:`minhash_lsh_pairs` / :func:`simhash_pairs` /
    ``similarity.cosine_neardup_lsh``: pairs say "these two are dups",
    components say "keep exactly one per group" — transitively, so
    A~B, B~C drops both B and C even though A~C was never emitted.

    Algorithm: iterative **hash-min label propagation with pointer
    jumping** (no GraphFrames dependency):

    * each node starts labeled with itself;
    * per round, every node takes the min of its label and its neighbors'
      labels (one equi-join edges⋈labels + a min-aggregate — map-side
      partial mins, shuffle on the uniform node id);
    * then one **pointer-jumping** step relabels through the PREVIOUS
      round's label table (``label ← min(label, prev_label(label))``),
      contracting star chains so long paths converge in O(log diameter)
      rounds instead of O(diameter). Jumping through the previous table
      (not the just-computed one) keeps the whole round a single plan
      with the neighbor-min subtree referenced once — no mid-round
      materialization — at the cost of the jump lagging one round, which
      only shifts convergence by ≤1 round on path-like graphs;
    * convergence is detected by the per-round sum of labels (labels are
      non-negative and monotonically non-increasing per node, so the sum
      strictly decreases iff any label changed). The sum aggregate IS the
      action that materializes the round's ``persist()`` — ONE Spark job
      per round, not separate checkpoint + convergence jobs (measured 3×
      on the bench entry, where per-job overhead dominated the tiny
      label table).

    Scale posture: the edge list is symmetrized, deduped, and checkpointed
    ONCE (it is static across rounds — re-deriving it would re-run the
    upstream LSH pipeline every round); labels are 16 bytes/node,
    lazily checkpointed per round (plan severed immediately — each round
    references the table three times, so an unsevered plan would triple
    in size per round — while materialization rides the convergence
    action); each round is 3 bounded shuffles in one job. Near-dup components are
    overwhelmingly dense (LSH emits most intra-cluster edges), so real
    convergence is 2-4 rounds; ``max_iter`` merely bounds adversarial
    path graphs, and hitting it raises rather than silently emitting
    unconverged labels.

    ``pairs_canonical=True`` is the caller's promise that the pairs are
    unique with ``a < b`` (as :func:`minhash_lsh_pairs` emits them); it
    skips the self-loop filter and the edge ``distinct``. Breaking the
    promise degrades silently rather than failing: the clusters stay
    correct (min-label propagation is idempotent), but the checkpointed
    edge RDD and every first-round shuffle grow with the duplicates, so
    the contract can only be checked at the call site.
    """
    a_col, b_col = pair_cols
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if not pairs_canonical:
        edges = edges.where(F.col("u") != F.col("v")).distinct()
    # pairs_canonical=True: the caller guarantees pairs are UNIQUE with a
    # strict order on (a, b) — e.g. minhash_lsh_pairs' dropDuplicates +
    # id_a < id_b — so the symmetrized union is loop-free and
    # duplicate-free by construction and the pair-graph-sized dedup
    # shuffle before the edge checkpoint is skipped (r14, guide §2.4:
    # "a distinct on data that is already unique").
    if docs is not None:
        nodes = docs.select(F.col(id_col).alias("node")).distinct()
    else:
        nodes = edges.select(F.col("u").alias("node")).distinct()
    # static across rounds; checkpoint severs the (possibly expensive)
    # upstream pair-generation lineage so it executes exactly once
    edges = edges.localCheckpoint(eager=True)
    # LAZY localCheckpoint: the plan is severed to a LogicalRDD immediately
    # (each round references labels three times — without severing, the
    # plan tree would TRIPLE per round, exponential in rounds), but the
    # RDD materializes during the convergence-sum action below, so each
    # round still costs exactly one Spark job. The FIRST propagation round
    # is fused into initialization (identity labels make neighbor-min just
    # min(neighbor id), no labels join needed) — the mandatory init job
    # does a full round's work instead of summing an identity table.
    first = edges.groupBy("u").agg(F.min("v").alias("nbr0"))
    labels = (
        nodes.join(first, nodes["node"] == first["u"], "left")
        .select(
            nodes["node"],
            F.least(nodes["node"], F.coalesce(first["nbr0"], nodes["node"])).alias(
                "label"
            ),
        )
        .localCheckpoint(eager=False)
    )
    # labels are node ids (non-negative longs); decimal sum is overflow-proof
    _sum = lambda df: df.agg(
        F.sum(F.col("label").cast("decimal(38,0)"))
    ).collect()[0][0]
    prev_sum = _sum(labels)  # this action also materializes the checkpoint
    # Checkpoint lifecycle: round-i artifacts are referenced by round-i+1's
    # un-materialized lazy plans, which materialize in round i+2's action —
    # so superseded checkpoints are released with a 2-round lag, and
    # everything except the returned labels table on exit. Without this,
    # every round's label table + contracted edge list stays pinned in
    # block storage for the life of the session (BENCH_r04: 26 s solo →
    # 44 s mid-sequence from exactly this retention).
    tracker = CheckpointTracker(lag=2)
    tracker.add(edges, labels)
    tracker.round_done()
    converged = False
    cur_edges = edges
    for _ in range(max_iter):
        nbr = (
            cur_edges.join(labels, cur_edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr"))
        )
        upd = labels.join(nbr, labels["node"] == nbr["u"], "left").select(
            labels["node"],
            F.least(
                labels["label"], F.coalesce(nbr["nbr"], labels["label"])
            ).alias("label"),
        )
        # pointer jump through the PREVIOUS round's (cached) table — upd is
        # referenced once, so the whole round stays one un-materialized plan
        jump = labels.select(
            F.col("node").alias("jn"), F.col("label").alias("jl")
        )
        nxt = (
            upd.join(jump, upd["label"] == jump["jn"], "left")
            .select(
                upd["node"],
                F.least(upd["label"], F.coalesce(jump["jl"], upd["label"])).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=False)
        )
        # Contract the edge list through the new labels (distinct
        # (label(u), label(v)), self-loops dropped): near-dup components
        # are dense cliques (3.2 M pairs over 5 k docs at sf0.1), and one
        # round of hash-min turns each clique into a star — so round 2+
        # joins a relation the size of the REPRESENTATIVE graph, not the
        # raw pair graph. Lazy checkpoint: materializes inside the NEXT
        # round's convergence job, keeping one Spark job per round; if
        # the loop converges first, the unused plan never executes.
        lu = nxt.select(F.col("node").alias("u"), F.col("label").alias("lu"))
        lv = nxt.select(F.col("node").alias("v"), F.col("label").alias("lv"))
        cur_edges = (
            cur_edges.join(lu, "u")
            .join(lv, "v")
            .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        tracker.add(nxt, cur_edges)
        cur_sum = _sum(nxt)  # one job: materializes the round AND checks it
        tracker.round_done()  # release the round now 2 rounds stale
        labels = nxt
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        tracker.release_all(keep=labels)
        raise RuntimeError(
            f"resolve_clusters did not converge within max_iter={max_iter} rounds"
        )
    tracker.release_all(keep=labels)
    out = labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_rep")
    )
    w = Window.partitionBy("cluster_rep")
    return out.withColumn("cluster_size", F.count(F.lit(1)).over(w))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs via block-permutation candidate generation:
    the 64-bit hash is carried as ``blocks`` 16-bit segments; by pigeonhole,
    any pair within ``max_hamming < blocks`` matches exactly on at least one
    segment → join on (block_index, segment). Never all-pairs; Hamming
    distance = Σ ``bit_count(xor(seg))`` — everything bitwise on int,
    whole-stage codegen throughout.

    ``hash_fn="md5"`` selects the cross-engine-deterministic token hash
    (see :func:`..text.simhash_segments_table`) used by the correctness
    oracle; the blocking/scoring machinery is identical in both modes."""
    if max_hamming >= blocks:
        # the pigeonhole guarantee (some segment matches exactly) requires
        # max_hamming < blocks; beyond it qualifying pairs are silently lost
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < blocks ({blocks}) for the "
            "pigeonhole candidate generation to be complete"
        )
    from .text import simhash_segments_table

    sh = simhash_segments_table(
        docs, text_col=text_col, id_col=id_col, blocks=blocks, hash_fn=hash_fn
    )
    # NOTE: deliberately NOT checkpointed — both sides of the blocked
    # self-join consume the identical aggregate subtree, which Catalyst
    # serves from one exchange (ReusedExchange); an eager checkpoint here
    # measured ~2× slower by breaking that reuse (unlike minhash_lsh_pairs,
    # whose signature table has consumers on both sides of a groupBy
    # boundary where exchange reuse cannot apply).
    seg_cols = [f"seg{k}" for k in range(blocks)]
    blocked = sh.select(
        "id",
        *seg_cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("blk"), F.col(f"seg{bi}").alias("segv"))
                    for bi in range(blocks)
                ]
            )
        ).alias("b"),
    ).select("id", *seg_cols, "b.blk", "b.segv")
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.segv") == F.col("b.segv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.seg{k}").alias(f"a{k}") for k in range(blocks)],
            *[F.col(f"b.seg{k}").alias(f"b{k}") for k in range(blocks)],
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = None
    for k in range(blocks):
        piece = F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"b{k}")))
        ham = piece if ham is None else ham + piece
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def prefix_duplicate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_tokens: int = 5,
) -> DataFrame:
    """Truncation-duplicate pairs: ``(id_a, id_b)`` where document a's
    token sequence is a prefix of document b's — the "same page,
    re-crawled and cut off" duplicate class that MinHash under-scores
    (Jaccard of a truncation is len_a/len_b, often below threshold) and
    exact dedup misses entirely. ``relation`` distinguishes proper
    prefixes (``'prefix'``, n_a < n_b) from full-text equality
    (``'exact'``, emitted once with id_a < id_b).

    Plan: an inverted-index equi-join on the md5 of each document's first
    ``anchor_tokens`` tokens (a prefix pair MUST agree on its first k
    tokens, so candidates are anchor-blocked, never all-pairs), then a
    single token-slice comparison per candidate. Documents shorter than
    ``anchor_tokens`` are excluded (their anchor would be a different
    key length; at k=5 that excludes only degenerate snippets).

    Scale shape: one shuffle on the anchor hash (boilerplate openings make
    hot anchors — the candidate payload per row is (id, n, tokens), and a
    pathological anchor can be salted or capped like the n-gram inverted
    index); the verify compare is a row-local expression. All JVM-side."""
    tks = tokens(F.col(text_col))
    base = (
        docs.select(F.col(id_col).alias("id"), tks.alias("t"))
        .withColumn("n", F.size("t"))
        .where(F.col("n") >= anchor_tokens)
        .withColumn(
            "anchor",
            F.md5(F.concat_ws(" ", F.slice("t", 1, anchor_tokens))),
        )
    )
    a = base.select(
        F.col("id").alias("id_a"),
        F.col("t").alias("ta"),
        F.col("n").alias("na"),
        "anchor",
    )
    b = base.select(
        F.col("id").alias("id_b"),
        F.col("t").alias("tb"),
        F.col("n").alias("nb"),
        "anchor",
    )
    cand = a.join(b, "anchor").where(
        (F.col("na") < F.col("nb"))
        | ((F.col("na") == F.col("nb")) & (F.col("id_a") < F.col("id_b")))
    )
    hit = cand.where(
        F.concat_ws(" ", F.slice(F.col("tb"), F.lit(1), F.col("na")))
        == F.concat_ws(" ", F.col("ta"))
    )
    return hit.select(
        "id_a",
        "id_b",
        F.col("na").cast("bigint").alias("n_tokens_a"),
        F.col("nb").cast("bigint").alias("n_tokens_b"),
        F.when(F.col("na") < F.col("nb"), F.lit("prefix"))
        .otherwise(F.lit("exact"))
        .alias("relation"),
    )


def corpus_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """End-to-end fuzzy corpus deduplication — the single call a training
    pipeline makes: MinHash+LSH near-dup pairs → transitive connected
    components → one keep decision per document. Returns one row per
    corpus document: ``(id, cluster_rep, cluster_size, is_kept)`` where
    ``is_kept`` marks the cluster's canonical representative (minimum doc
    id — deterministic, so re-runs keep the same documents). Filter
    ``is_kept`` to materialize the deduplicated corpus; keep the full
    output as the dedup audit table.

    Pure composition of :func:`minhash_lsh_pairs` (banded LSH — never
    all-pairs) and :func:`resolve_clusters` (hash-min + pointer-jumping
    components, one job per round, superseded checkpoints released), so
    its scale posture is exactly theirs."""
    pairs = minhash_lsh_pairs(
        docs,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        hash_fn=hash_fn,
    )
    # minhash_lsh_pairs output is deduped with id_a < id_b — canonical
    resolved = resolve_clusters(
        pairs, docs=docs, id_col=id_col, pairs_canonical=True
    )
    return resolved.withColumn(
        "is_kept", F.col(id_col) == F.col("cluster_rep")
    )


def neardup_verify_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    prefix_chars: int = 120,
    max_lev_permille: int = 200,
) -> DataFrame:
    """Edit-distance VERIFICATION of near-dup candidate pairs — the
    second stage of the standard two-stage fuzzy-dedup shape (LSH
    generates candidates cheaply and approximately; an exact character
    metric confirms before anything is dropped). Joins candidate pairs
    back to their texts and keeps pairs whose Levenshtein distance over
    the first ``prefix_chars`` characters is ≤ ``max_lev_permille`` of
    the longer prefix (integer ‰ — exact cross-engine, no float ratio).

    ``prefix_chars`` bounds the O(len²) DP per pair — full-document
    Levenshtein at 100 TB is infeasible and unnecessary: truncation to a
    few hundred chars preserves verdicts for the boilerplate/near-copy
    duplicates LSH surfaces (a pair differing only past the prefix is a
    prefix-duplicate — :func:`prefix_duplicate_pairs` territory).

    Scale shape: two hash joins on the uniform doc id (candidates ⋈ texts
    twice — only candidate rows carry text, the corpus never self-joins),
    then a row-local JVM levenshtein. Returns
    ``(id_a, id_b, lev, lev_permille)``."""
    a_col, b_col = pair_cols
    t = docs.select(
        F.col(id_col).alias("__vid"),
        F.substring(F.col(text_col), 1, prefix_chars).alias("__vtext"),
    )
    j = (
        pairs.select(F.col(a_col).alias("id_a"), F.col(b_col).alias("id_b"))
        .join(
            t.select(
                F.col("__vid").alias("id_a"), F.col("__vtext").alias("__ta")
            ),
            "id_a",
        )
        .join(
            t.select(
                F.col("__vid").alias("id_b"), F.col("__vtext").alias("__tb")
            ),
            "id_b",
        )
    )
    scored = j.select(
        "id_a",
        "id_b",
        F.levenshtein("__ta", "__tb").cast("bigint").alias("lev"),
        F.greatest(F.length("__ta"), F.length("__tb"))
        .cast("bigint")
        .alias("__mx"),
    ).select(
        "id_a",
        "id_b",
        "lev",
        F.when(F.col("__mx") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("(1000 * lev) div __mx"))
        .alias("lev_permille"),
    )
    return scored.where(F.col("lev_permille") <= max_lev_permille)


def exact_softweight(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Count-aware SOFT deduplication — the keep-but-downweight
    alternative to dropping duplicates (the standard trade when exact
    copies carry signal about content importance but repeating them at
    full weight overtrains): every document keeps a training weight of
    ``1e6 div n_copies`` ppm, so each exact-content group contributes
    ~one document's worth of mass regardless of its multiplicity.
    Returns ``(id_col, content_md5, n_copies, weight_ppm,
    is_canonical)`` — ``is_canonical`` marks the minimum-id copy (the
    row hard dedup would keep), NULL text hashes as ''.

    Scale shape: ONE shuffle on the content hash (uniform key) for the
    group aggregate, then a same-key join back — map-side combinable on
    the count, no window, no driver state. Integer ppm weights are
    exact cross-engine (a float 1/n is not)."""
    h = docs.select(
        F.col(id_col),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("content_md5"),
    )
    g = h.groupBy("content_md5").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.min(id_col).alias("__rep"),
    )
    return h.join(g, "content_md5").select(
        F.col(id_col),
        "content_md5",
        "n_copies",
        F.expr("CAST(1000000 div n_copies AS BIGINT)").alias("weight_ppm"),
        (F.col(id_col) == F.col("__rep")).alias("is_canonical"),
    )


def pair_eval(
    candidates: DataFrame,
    truth: DataFrame,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Pair-level precision/recall of an approximate near-dup method
    against exact ground truth — the dedup twin of
    :func:`..similarity.recall_at_k` ("measure, don't guess"): LSH
    banding parameters (bands × rows-per-band) trade recall against
    candidate volume, and this operator is what turns that trade into
    numbers. Inputs are two pair tables (e.g.
    :func:`minhash_lsh_pairs` candidates vs :func:`ngram_jaccard_pairs`
    exact pairs at the same threshold). Returns ONE row:
    ``(n_candidates, n_truth, n_hits, recall_ppm, precision_ppm)`` —
    integer parts-per-million (NULL when the denominator is 0), exactly
    oracle-able.

    Scale shape: both inputs are already bounded pair sets (banded /
    blocked, never all-pairs); one FULL OUTER join on the normalized
    (min, max) pair key carries presence flags for both sides, so all
    three counts come out of a single aggregate — each input pipeline
    appears ONCE in the plan. (r13: the previous left-semi + three
    crossJoined count aggregates consumed ``candidates`` and ``truth``
    twice each, re-executing the full LSH and exact-Jaccard pipelines —
    dedup_lsh_eval's plan showed 8 parquet scans / 50 Exchanges for
    what is structurally a 2-pipeline intersection. Both sides are
    deduplicated on the join key, so the join is 1:1 and the flag
    counts equal the old per-side counts exactly.)"""
    a_col, b_col = pair_cols

    def norm(df: DataFrame) -> DataFrame:
        lo = F.least(F.col(a_col), F.col(b_col))
        hi = F.greatest(F.col(a_col), F.col(b_col))
        return df.select(lo.alias("id_a"), hi.alias("id_b")).dropDuplicates()

    c = norm(candidates).withColumn("__c", F.lit(1))
    t = norm(truth).withColumn("__t", F.lit(1))
    both = c.join(t, ["id_a", "id_b"], "full_outer")
    counts = both.agg(
        F.count("__c").alias("n_candidates"),
        F.count("__t").alias("n_truth"),
        F.count(F.when(F.col("__c").isNotNull() & F.col("__t").isNotNull(), 1)).alias(
            "n_hits"
        ),
    )
    return counts.select(
        F.col("n_candidates").cast("bigint"),
        F.col("n_truth").cast("bigint"),
        F.col("n_hits").cast("bigint"),
        F.expr(
            "CASE WHEN n_truth > 0 THEN n_hits * 1000000 div n_truth END"
        ).cast("bigint").alias("recall_ppm"),
        F.expr(
            "CASE WHEN n_candidates > 0 "
            "THEN n_hits * 1000000 div n_candidates END"
        ).cast("bigint").alias("precision_ppm"),
    )


def setsim_prefix_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the
    AllPairs / PPJoin candidate-generation shape, Bayardo et al. WWW'07 /
    Xiao et al. WWW'08): all pairs (a < b) with
    Jaccard(shingles_a, shingles_b) >= threshold — same answer as
    :func:`ngram_jaccard_pairs`, asymptotically cheaper index.

    Why a second exact-Jaccard operator: ``ngram_jaccard_pairs`` indexes
    EVERY shingle, so its self-join cost is sum over shingles of df² —
    dominated by common shingles. Prefix filtering indexes only each
    document's ``|s| - ceil(t·|s|) + 1`` RAREST shingles (global
    document-frequency order), which is both a (1-t)× smaller index and
    one whose join keys are rare by construction — the frequent-shingle
    skew that ``ngram_jaccard_pairs`` needs ``max_shingle_freq`` to cut
    never enters the index. At t=0.8 the index is ~5× smaller and the
    candidate set shrinks far more (only pairs sharing a RARE shingle).

    Correctness of the filter (no recall loss): with the symmetric length
    filter ``t·max(|a|,|b|) <= min(|a|,|b|)`` (pairs failing it cannot
    reach Jaccard t), Jaccard >= t implies overlap >= ceil(t·max(|a|,|b|)),
    and the prefix-filtering lemma then guarantees the two prefixes share
    at least one token. Candidates are verified with the TRUE Jaccard.

    Plan shape at 100 TB: one shingle explode; document frequency via a
    window over the SAME partition-by-token shuffle the prefix join
    reuses; per-doc rarity sort is a window partitioned by doc_id (narrow,
    ~50 rows each); candidate join on 8-byte xxhash64 keys; verification
    re-joins the candidate pairs to the full posting lists by doc id —
    id-equi joins touching only candidate documents, never arrays shipped
    through a shuffle. No step is quadratic in the corpus.

    Returns ``(id_a, id_b, size_a, size_b, jaccard)``.
    """
    # parallelism guard: the shingle expression is the CPU-heavy stage
    # and the plan derives it once per self-join branch (4x here). A
    # small/compacted input (one parquet file) would run it on one core
    # per branch; spreading the raw (id, text) rows first costs one tiny
    # text shuffle and parallelizes every derivation. At production
    # scale input splits already provide parallelism and the guard is a
    # no-op.
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.select(F.col(id_col), F.col(text_col)).repartition(
            sc.defaultParallelism
        )
    base = (
        docs.select(
            F.col(id_col).alias("id"),
            word_shingles(F.col(text_col), n).alias("sh"),
        )
        .withColumn("sz", F.size("sh"))
        .where(F.col("sz") > 0)
    )
    flat0 = base.select("id", "sz", F.explode("sh").alias("tok"))
    # global document frequency per shingle = rarity order. Window over
    # partitionBy(tok) — the same exchange the prefix self-join shuffles
    # on, so Catalyst can reuse it (cf. ngram_jaccard_pairs).
    flat = flat0.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    # canonical total order: (df asc, tok asc) — deterministic, identical
    # on both join sides and in the oracle. row_number is unambiguous
    # because shingles are distinct within a document.
    pos = flat.withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("id").orderBy("df", "tok")),
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    pref = pos.where(F.col("pos") <= prefix_len).select("id", "sz", "tok")
    a, b = pref.alias("a"), pref.alias("b")
    t = F.lit(threshold)
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            # symmetric length filter: min >= t * max
            & (F.col("a.sz") * t <= F.col("b.sz"))
            & (F.col("b.sz") * t <= F.col("a.sz")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates()
    )
    # exact verification: true set intersection for candidate pairs only,
    # via two id-equi joins back to the per-doc shingle ARRAYS. The
    # candidate set is prefix-bounded (tiny), so Spark broadcasts it and
    # the corpus-side arrays are fetched for candidate docs only — two
    # joins, zero posting-list shuffles, no re-aggregation. (The
    # explode-and-count alternative costs two posting shuffles plus a
    # groupBy; at sf0.1 both are overhead-bound and time equal, at scale
    # the array path touches strictly less data.)
    sa = base.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
        F.col("sz").alias("size_a"),
    )
    sb = base.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
        F.col("sz").alias("size_b"),
    )
    common = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .select("id_a", "id_b", "size_a", "size_b", "common")
    )
    jac = F.round(
        F.col("common").cast("double")
        / (F.col("size_a") + F.col("size_b") - F.col("common")).cast("double"),
        6,
    )
    return (
        common.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "size_a", "size_b", "jaccard")
    )


def edit1_pairs(
    vocab: DataFrame,
    word_col: str = "word",
    min_len: int = 4,
) -> DataFrame:
    """All pairs of vocabulary words within Levenshtein distance 1 — the
    FastSS / SymSpell deletion-neighborhood join, the character-level
    member of the dedup family (the token-level ops — minhash, simhash,
    n-gram Jaccard — cannot see typo variants: 'recieve'/'receive' share
    few shingles but are edit distance 2... and 'color'/'colour' distance
    1). The standard use is query/vocab normalization and OCR-noise
    clustering before token-level dedup runs.

    Candidate generation is exact by the deletion-neighborhood theorem:
    ed(a, b) <= 1 implies D(a) ∩ D(b) != ∅ where D(w) = {w} ∪
    {single-character deletions of w} — so candidates come from an
    EQUI-join on deletion variants (never all-pairs), and a final exact
    ``levenshtein() <= 1`` filter removes the false positives the
    shared-variant test admits (e.g. 'ab'/'ba' share variants at
    distance 2). Both engines ship the same Wagner-Fischer levenshtein,
    so the verify step is exactly oracle-able.

    Scale shape: per-word fan-out is ``len(word) + 1`` variant rows; the
    join key is the variant string. ``min_len`` (default 4) keeps the
    hottest short variants out of the index — the skew guard: a 1-char
    variant key would collect every 2-char word in one reducer. One
    distinct pass over the vocabulary, one variant equi-join, exact
    verification inside the join projection. Returns ``(word_a, word_b,
    dist)`` with ``word_a < word_b``, set semantics.
    """
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    w = (
        vocab.select(F.col(word_col).cast("string").alias("w"))
        .where(F.length("w") >= min_len)
        .distinct()
    )
    variants = F.concat(
        F.array(F.col("w")),
        F.expr(
            "transform(sequence(1, length(w)), i -> "
            "concat(substring(w, 1, i - 1), "
            "substring(w, i + 1, length(w))))"
        ),
    )
    ex = w.select("w", F.explode(variants).alias("v"))
    # self-join via alias of the SAME plan (not two differently-projected
    # copies): both sides then shuffle the byte-identical subtree and
    # Catalyst serves the second from a ReusedExchange — the
    # distinct+explode runs once, not twice (r13; same rationale as the
    # simhash_pairs NOTE — the word_a/word_b renames moved after the join)
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, F.col("a.v") == F.col("b.v"))
        .where(F.col("a.w") < F.col("b.w"))
        .select(F.col("a.w").alias("word_a"), F.col("b.w").alias("word_b"))
        .distinct()
        .withColumn(
            "dist", F.levenshtein(F.col("word_a"), F.col("word_b"))
        )
        .where(F.col("dist") <= 1)
    )


def canonical_url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-URL exact dedup — the crawl-frontier step BEFORE any
    content-based dedup: collapse the cosmetic URL variants of one page
    (case, default ports, trailing slashes, tracking params, param
    order, fragments — text.canonicalize_url) and elect one keeper per
    canonical key. One row per input row: ``(id, url, canonical_url,
    group_size, is_canonical)`` with the keeper = minimum id of the
    group (the stable arbitrary-choice rule every dedup op here uses).

    Composes with text.url_features (quality signals on the canonical
    form) and exact_dedup (content dedup on the survivors).

    Scale shape: one projection + ONE hash aggregate on the canonical
    key + one co-partitioned join back (both sides hash-partitioned by
    the same key, so AQE plans a shuffle the aggregate already paid
    for). Canonical keys are ~corpus-sized: no broadcast anywhere, no
    window over a global order, map-side partial combine on the
    aggregate. Skewed mega-groups (one URL crawled millions of times)
    stay safe: the aggregate pre-combines per partition."""
    from .text import canonicalize_url

    canon = df.select(
        F.col(id_col),
        F.col(url_col).alias("url"),
        canonicalize_url(F.col(url_col)).alias("canonical_url"),
    )
    groups = canon.groupBy("canonical_url").agg(
        F.min(id_col).cast("bigint").alias("_keep_id"),
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
    )
    return canon.join(groups, "canonical_url").select(
        F.col(id_col),
        "url",
        "canonical_url",
        "group_size",
        (F.col(id_col) == F.col("_keep_id")).alias("is_canonical"),
    )


def _fold_pow(base: Column, exponent: Column) -> Column:
    """``base ** exponent`` (integer exponent ≥ 1) by LEFT-TO-RIGHT
    repeated multiplication, NOT ``F.pow``: IEEE multiply is exactly
    specified, so the fold is bit-identical on every engine, while
    ``pow``/``Math.pow`` is only ≤1-ulp and a 1-ulp difference under a
    later ``floor`` would flip an oracle bit. DuckDB twin:
    ``list_reduce(list_transform(generate_series(1, r), x -> s),
    (a, v) -> a * v)`` (same sequence: init*s, then r-1 multiplies)."""
    return F.aggregate(
        F.array_repeat(base, exponent.cast("int")),
        F.lit(1.0),
        lambda acc, v: acc * v,
    )


def minhash_operating_point(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    target_jaccard_ppm: int = 800_000,
    sample_mod: int = 8,
) -> DataFrame:
    """MinHash (bands, rows) operating-point tuner: evaluate the LSH
    S-curve ``P(s) = 1 − (1 − s^r)^b`` for every factorization
    ``b·r = num_hashes`` against the EMPIRICAL pair-similarity mass of
    a deterministic corpus sample, and rank the candidates by expected
    misclassification mass around the target threshold — the r02
    hand-tuning episode (bands picked by eyeballing collision counts)
    as an operator. Per candidate:

    * ``fp_micro`` — Σ P(s) over sampled pairs BELOW the target
      (expected false-positive candidate mass, micro units);
    * ``fn_micro`` — Σ (1 − P(s)) over pairs AT/ABOVE it;
    * ``cost_micro`` = fp + fn, ``rank`` = 1 is the operating point.

    Exactness: pair Jaccard is exact integer ppm (intersection/union
    counts); the S-curve runs in doubles but ONLY via fold-multiply
    (:func:`_fold_pow` — every step exactly-rounded IEEE, bit-identical
    cross-engine) and lands in integer micro units per pair before the
    order-independent integer SUM.

    Scale shape: the sample is 1-in-``sample_mod`` BY ID (bounded,
    operator knob); pairs come from the token inverted index of the
    sample (never corpus all-pairs — pairs sharing no token have
    P(0) = 0 and contribute nothing, so the index is lossless for the
    curve); candidates are the ≤ d(num_hashes) divisor pairs,
    broadcast. The heavy join is sample²-bounded; at 100 TB you tune on
    a fixed-size sample, not the corpus."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if not 0 < target_jaccard_ppm <= 1_000_000:
        raise ValueError(
            f"target_jaccard_ppm must be in (0, 1e6], got {target_jaccard_ppm}"
        )
    spark = docs.sparkSession
    sample = docs.where((F.col(id_col) % sample_mod) == 0).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(tokens(F.col(text_col))).alias("_toks"),
    )
    sizes = sample.select("_id", F.size("_toks").alias("_n"))
    tok = sample.select("_id", F.explode("_toks").alias("_t"))
    inter = (
        tok.alias("a")
        .join(tok.alias("b"), "_t")
        .where(F.col("a._id") < F.col("b._id"))
        .groupBy(
            F.col("a._id").alias("_ia"), F.col("b._id").alias("_ib")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("_inter"))
    )
    pairs = (
        inter.join(sizes.withColumnRenamed("_id", "_ia").withColumnRenamed("_n", "_na"), "_ia")
        .join(sizes.withColumnRenamed("_id", "_ib").withColumnRenamed("_n", "_nb"), "_ib")
        .select(
            F.expr("_inter * 1000000 div (_na + _nb - _inter)").alias("s_ppm")
        )
    )
    cands = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]
    cdf = spark.createDataFrame(cands, "bands int, rows_per_band int")
    s = F.col("s_ppm").cast("double") / F.lit(1000000.0)
    p_collide = F.lit(1.0) - _fold_pow(
        F.lit(1.0) - _fold_pow(s, F.col("rows_per_band")), F.col("bands")
    )
    scored = pairs.crossJoin(F.broadcast(cdf)).select(
        "bands",
        "rows_per_band",
        "s_ppm",
        F.floor(p_collide * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("p_micro"),
    )
    t = F.lit(int(target_jaccard_ppm))
    agg = scored.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("s_ppm") >= t, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos_pairs"),
        F.sum(F.when(F.col("s_ppm") < t, F.col("p_micro")).otherwise(0))
        .cast("bigint")
        .alias("fp_micro"),
        F.sum(
            F.when(
                F.col("s_ppm") >= t, F.lit(1_000_000) - F.col("p_micro")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("fn_micro"),
    )
    w = Window.orderBy(
        (F.col("fp_micro") + F.col("fn_micro")).asc(), F.col("bands").asc()
    )
    return agg.select(
        "bands",
        "rows_per_band",
        "n_pairs",
        "n_pos_pairs",
        "fp_micro",
        "fn_micro",
        (F.col("fp_micro") + F.col("fn_micro")).alias("cost_micro"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    )
