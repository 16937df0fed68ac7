"""Streaming near-duplicate detection — cross-batch MinHash bucket
memory.

The batch dedup operators (:mod:`..extensions.dedup`) answer "which
pairs in THIS corpus are near-dups"; an ingest pipeline needs the online
question: "is this INCOMING document a near-dup of anything seen
before". That is stateful by nature — the stream must remember what it
has seen — and the classic bounded-state answer is the LSH bucket map:
remember, per (band, bucket), the FIRST document that landed there (id +
signature, ``num_hashes × 8`` bytes); every later arrival in the bucket
is a candidate, confirmed by signature agreement against the remembered
first. State is O(distinct buckets), not O(documents²), and each bucket
group is independent — ``applyInPandasWithState`` keyed by
(band, bucket) shards it across executors.

Semantics contract (stream == batch): feeding micro-batches in ascending
id order produces exactly :func:`flag_neardups`' batch output, where
"first" is the minimum id in the bucket — the parity standard used by
the other streaming operators (sessionize, anomaly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extensions.dedup import minhash_signature


def _banded_signatures(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    hash_fn: str,
) -> DataFrame:
    """(id, band, bucket, sig) — one row per document per band; bucket is
    the md5 of the band's signature slice (same formula as
    ``extensions.dedup.minhash_lsh_pairs``, so buckets agree across the
    batch and streaming operators).

    Signature path is mode-dependent but VALUE-identical: batch uses the
    explode→min-aggregate form (tokenizes each document once — the
    per-row array fold re-walks the token array per hash seed, measured
    ~4× slower on the bench corpus); streams use the per-row
    :func:`..extensions.dedup.minhash_signature` expression, the only
    form legal without a pre-state aggregation."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    rpb = num_hashes // bands
    if docs.isStreaming:
        sig = docs.select(
            F.col(id_col).alias("id"),
            minhash_signature(
                F.col(text_col), num_hashes=num_hashes, hash_fn=hash_fn
            ).alias("sig"),
        ).where(F.col("sig").isNotNull())
    else:
        from ..extensions.dedup import _MERSENNE31, _mh_coeffs
        from ..extensions.hashing import md5_base
        from ..extensions.text import tokens

        tok = docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
        )
        if hash_fn == "md5":
            coeffs = _mh_coeffs(num_hashes)
            tok = tok.select("id", md5_base(F.col("tok")).alias("hb"))
            hash_i = lambda i: (
                F.lit(coeffs[i][0]) * F.col("hb") + F.lit(coeffs[i][1])
            ) % _MERSENNE31
        else:
            hash_i = lambda i: F.xxhash64("tok", F.lit(i))
        agg = tok.groupBy("id").agg(
            *[F.min(hash_i(i)).alias(f"m{i}") for i in range(num_hashes)]
        )
        sig = agg.select(
            "id",
            F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig"),
        )
    bucket_of = lambda bi: F.md5(
        F.concat_ws(
            "|",
            F.transform(
                F.slice("sig", bi * rpb + 1, rpb), lambda x: x.cast("string")
            ),
        )
    )
    return sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"), bucket_of(bi).alias("bucket")
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def flag_neardups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 4,
    threshold: float = 0.8,
    hash_fn: str = "md5",
) -> DataFrame:
    """→ ``(doc_id, dup_of, est_jaccard)``: documents flagged as
    near-dups of an EARLIER document (the minimum id sharing one of
    their LSH buckets, batch mode; the first arrival, streaming mode),
    confirmed by full-signature agreement ≥ ``threshold``. A document
    matching several buckets with different firsts emits one row per
    distinct (doc, first) pair.

    Batch plan: banded signatures → per-bucket min-id (map-side
    combinable) → candidates join the bucket-first — all shuffles on the
    uniform (band, bucket) / id keys, never all-pairs. The signature
    table is materialized ONCE and shared (r13: the previous shape
    derived ``first``, the candidate side, and both refinement signature
    lookups from the un-materialized banded subtree, re-running the
    tokenize→hash→min aggregation — the expensive stage — four times;
    the plan showed 4 full document scans). Streaming plan: per-bucket
    state (first id + signature) via ``applyInPandasWithState``; state
    grows with distinct buckets (bound it upstream by windowing/TTL
    re-keying when a stream is unbounded)."""
    if not docs.isStreaming:
        from ..extensions.dedup import _band_table, _signature_table

        if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
            raise ValueError(
                f"bands ({bands}) must divide num_hashes ({num_hashes})"
            )
        # same formulas as _banded_signatures (shared with the streaming
        # path), but the (id, sig) table is checkpointed so every
        # consumer reads it instead of recomputing it
        sig = _signature_table(docs, text_col, id_col, num_hashes, hash_fn)
        banded = _band_table(sig, num_hashes, bands, hash_fn)
        first = banded.groupBy("band", "bucket").agg(
            F.min("id").alias("dup_of")
        )
        cand = (
            banded.join(first, ["band", "bucket"])
            .where(F.col("id") != F.col("dup_of"))
            .select("id", "dup_of")
            .distinct()
        )
        est = F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double") / F.lit(float(num_hashes))
        return (
            cand.join(
                sig.select(F.col("id"), F.col("sig").alias("sig_a")), "id"
            )
            .join(
                sig.select(
                    F.col("id").alias("dup_of"), F.col("sig").alias("sig_b")
                ),
                "dup_of",
            )
            .withColumn("est_jaccard", F.round(est, 6))
            .where(F.col("est_jaccard") >= threshold)
            .select(F.col("id").alias(id_col), "dup_of", "est_jaccard")
            .distinct()
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    banded = _banded_signatures(
        docs, text_col, id_col, num_hashes, bands, hash_fn
    )
    id_dtype = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_dtype}, dup_of {id_dtype}, est_jaccard double"
    nh = num_hashes
    thr = float(threshold)

    def update(key, pdfs, state):
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        first = state.get if state.exists else None  # (id, [sig...])
        rows = []
        for pdf in pdfs:
            for _, r in pdf.sort_values("id").iterrows():
                # plain Python ints: numpy scalars in the state tuple break
                # the JVM-side state (un)pickler
                rid = int(r["id"])
                rsig = [int(x) for x in r["sig"]]
                if first is None:
                    first = (rid, rsig)
                    continue
                if rid == first[0]:
                    continue
                agree = sum(1 for x, y in zip(rsig, first[1]) if x == y)
                est = round(agree / nh, 6)
                if est >= thr:
                    rows.append((rid, first[0], est))
        state.update((first[0], list(first[1])))
        if rows:
            yield pd.DataFrame(rows, columns=[id_col, "dup_of", "est_jaccard"])

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=f"first_id {id_dtype}, first_sig array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
