"""MinHash + LSH band-bucket near-duplicate detection.

Pipeline: shingle → n-hash MinHash signature per doc → split signature into
bands → groupBy (band_idx, band_hash) buckets → candidate pairs within buckets
→ (optional) exact-Jaccard verify of candidates only.

The md5-based hash family (functions/text.py) keeps signatures deterministic
and engine-portable.  Scale notes: candidate generation never computes the
cross product — the only joins are on band-hash buckets; a bucket-size cap
guards against degenerate buckets (boilerplate docs) the way common-shingle
caps do in the exact path.  At 100 TB: signatures are ~n_hashes*32 bytes/doc
(tiny vs the corpus), so the band shuffle moves ~0.1% of input bytes.

Candidate pairs come from a sort-merge/hash self-join on (band_idx,
band_hash) with the signature array RIDING ALONG both sides — so the
estimated-Jaccard verify needs no re-join against the signature relation.
(A collect_list + nested-transform in-bucket pair expansion was measured
equal warm but pays ~25 s of one-shot Catalyst/codegen latency for the
deeply nested lambda tree — the flat join plan wins for anything but a
long-lived service reusing the compiled plan.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    char_shingle_stream,
    minhash_signature_aggs,
    minhash_signature_longs,
)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """One row per doc: id + mh0..mh{n-1} min-hash signature columns
    (md5-slice family, functions/text.minhash_signature_aggs)."""
    sh = char_shingle_stream(docs, id_col, text_col, shingle_k)
    return sh.groupBy("doc").agg(*minhash_signature_aggs("s", n_hashes)).select(
        "doc", *minhash_signature_longs(n_hashes)
    )


def _banded_signatures(signatures: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """(doc, sig array, band_idx, band_hash) — one row per doc per band."""
    rows_per_band = n_hashes // n_bands
    # one pass: band array -> explode (vs n_bands unioned scans of the
    # signature relation)
    band_structs = []
    for b in range(n_bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        # band bucket key: md5-of-concat (the oracle replicates it in SQL)
        bh = F.md5(F.concat_ws("|", *cols))
        band_structs.append(F.struct(F.lit(b).alias("band_idx"), bh.alias("band_hash")))
    return signatures.select(
        "doc",
        F.array(*[F.col(f"mh{i}") for i in range(n_hashes)]).alias("sig"),
        F.explode(F.array(*band_structs)).alias("_b"),
    ).select("doc", "sig", F.col("_b.band_idx").alias("band_idx"), F.col("_b.band_hash").alias("band_hash"))


def _bucket_pairs(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """(doc_a, doc_b, sig_a, sig_b) per in-bucket pair, deduped across buckets.

    Bucket self-join on the band key; Σ bucket_size² pair work is inherent to
    LSH, and ``max_bucket_size`` drops the degenerate mega-buckets (which only
    ever connect non-near-dups) before the quadratic step.
    """
    if max_bucket_size is not None:
        ok = (
            banded.groupBy("band_idx", "band_hash")
            .count()
            .filter(F.col("count") <= max_bucket_size)
            .select("band_idx", "band_hash")
        )
        banded = banded.join(ok, ["band_idx", "band_hash"], "left_semi")
    a = banded.select(
        "band_idx", "band_hash", F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    b = banded.select(
        "band_idx", "band_hash", F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_hashes: int = 8,
    n_bands: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs sharing at least one LSH band."""
    # banded is scanned 3x (bucket-size cap, join side a, join side b) —
    # materialize it so the shingle->signature pipeline runs once.  It is
    # n_bands rows x ~100 bytes per doc: ~0.1% of corpus size at any scale.
    # localCheckpoint, not cache(): blocks auto-release via ContextCleaner
    # when the result is dropped, where CacheManager entries live forever.
    banded = _banded_signatures(signatures, n_hashes, n_bands).localCheckpoint(eager=True)
    return _bucket_pairs(banded, max_bucket_size).select("doc_a", "doc_b")


def minhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup candidates with their estimated (signature-agreement) Jaccard.

    Signatures ride along through the band explode and self-join, so the
    estimate is computed inline on each candidate pair — no signature
    re-join, no cache.  The interpreted zip_with/aggregate agreement count
    only runs on the (small) candidate-pair stream, never on the corpus.
    """
    sigs = minhash_signatures(docs, id_col, text_col, n_hashes, shingle_k)
    # banded feeds the bucket-size cap and both self-join sides; see
    # lsh_candidate_pairs for the localCheckpoint-over-cache rationale
    banded = _banded_signatures(sigs, n_hashes, n_bands).localCheckpoint(eager=True)
    pairs = _bucket_pairs(banded, max_bucket_size)
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: F.when(a == b, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return pairs.select("doc_a", "doc_b", (agree / F.lit(float(n_hashes))).alias("est_jaccard"))
