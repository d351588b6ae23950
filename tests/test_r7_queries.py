"""Round-7 property tests: the shared co-purchase edge builder, the
footer-stats pack guard, the batched multimodal kernels, and the SimHash
recall eval — checks the DuckDB oracle gate cannot express."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
from tests.conftest import SF_SMOKE

_load_all()


def test_copurchase_edges_match_bruteforce(spark):
    """The codegen self-join edge builder equals the brute-force distinct
    pair count at every support level."""
    from acousticbrainz_server_spark.operators.graph import copurchase_edges

    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey") % 7 == 0)
    )
    pdf = li.toPandas().drop_duplicates()
    from collections import Counter

    cnt: Counter = Counter()
    for _, grp in pdf.groupby("l_orderkey"):
        parts = sorted(set(grp["l_partkey"]))
        for i, u in enumerate(parts):
            for v in parts[i + 1 :]:
                cnt[(u, v)] += 1
    for support in (1, 2, 3):
        got = {
            (r["u"], r["v"]): r["c"]
            for r in copurchase_edges(li, min_support=support, with_count=True)
            .collect()
        }
        want = {k: c for k, c in cnt.items() if c >= support}
        assert got == want, f"support={support}"


def test_parquet_column_max_matches_scan(spark):
    from acousticbrainz_server_spark.sources.tables import parquet_column_max

    mx = parquet_column_max(SF_SMOKE, "lineitem", "l_partkey")
    actual = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").agg(F.max("l_partkey")).collect()[0][0]
    )
    assert mx == actual
    assert parquet_column_max(SF_SMOKE, "lineitem", "no_such_column") is None


def test_pgm_kernel_batched_matches_per_record(spark):
    """Mixed shapes in ONE Arrow batch: the grouped integral-image kernel must
    reproduce the definitional per-record block-loop bit for bit."""
    from acousticbrainz_server_spark.operators.multimodal import (
        decode_pgm,
        encode_pgm,
        pgm_image_features,
    )

    rng_payloads = []
    shapes = [(16, 16), (8, 8), (16, 16), (5, 3), (24, 8), (8, 8)]
    for mid, (w, h) in enumerate(shapes):
        pixels = [(mid * 37 + i * 101) % 256 for i in range(w * h)]
        rng_payloads.append((mid, encode_pgm(pixels, w, h)))

    def reference(mid, payload):
        w, h, raster = decode_pgm(payload)
        n = w * h
        img = [[raster[y * w + x] for x in range(w)] for y in range(h)]
        mean = sum(map(sum, img)) / n
        bw, bh = max(w // 8, 1), max(h // 8, 1)
        bits = 0
        for by in range(8):
            for bx in range(8):
                cells = [
                    img[y][x]
                    for y in range(by * bh, min((by + 1) * bh, h))
                    for x in range(bx * bw, min((bx + 1) * bw, w))
                ]
                if cells and sum(cells) / len(cells) > mean:
                    bits |= 1 << (by * 8 + bx)
        return (mid, w, h, mean, bits - (1 << 64) if bits >= (1 << 63) else bits)

    media = spark.createDataFrame(rng_payloads, "media_id long, payload binary").coalesce(1)
    got = {
        r["media_id"]: (r["media_id"], r["width"], r["height"], r["mean_luma"], r["ahash"])
        for r in pgm_image_features(media).collect()
    }
    for mid, payload in rng_payloads:
        assert got[mid] == reference(mid, payload), f"media_id={mid}"


def test_wav_kernel_no_cross_record_zero_cross(spark):
    """Segment edges between concatenated records must not count as
    zero-crossings, and RMS must be per-record exact."""
    import math

    from acousticbrainz_server_spark.operators.multimodal import (
        encode_wav_pcm16,
        wav_audio_features,
    )

    clips = {
        0: [-5, -4, -3],  # all negative
        1: [7, 8],  # all positive: a 0->1 boundary would fake a crossing
        2: [-1, 1, -1, 1],  # 3 genuine crossings
        3: [0],  # single sample: no crossing possible
        4: [],  # empty data chunk
    }
    rows = [(mid, encode_wav_pcm16(s, 8000)) for mid, s in clips.items()]
    media = spark.createDataFrame(rows, "media_id long, payload binary").coalesce(1)
    got = {r["media_id"]: r for r in wav_audio_features(media).collect()}
    for mid, s in clips.items():
        r = got[mid]
        assert r["n_samples"] == len(s)
        want_rms = math.sqrt(sum(x * x for x in s) / len(s)) if s else 0.0
        assert r["rms"] == pytest.approx(want_rms, abs=1e-12)
        neg = [x < 0 for x in s]
        want_zc = sum(1 for i in range(1, len(s)) if neg[i] != neg[i - 1])
        assert r["n_zero_cross"] == want_zc, f"media_id={mid}"


def test_simhash_recall_eval_counts_recompute(spark):
    """n_true / n_pred / n_hit recompute from first principles (brute-force
    token-set Jaccard and bandless hamming) on the sampled universe."""
    row = QUERIES["simhash_recall_eval"].spark_fn(spark, SF_SMOKE).collect()[0]

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .toPandas()
    )
    toks = {r.doc_id: set(str(r.text).strip().split()) for r in docs.itertuples()}
    ids = sorted(toks)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(toks[a] & toks[b])
            union = len(toks[a] | toks[b])
            if union and 10 * inter >= 9 * union:
                truth.add((a, b))
    from acousticbrainz_server_spark.dedup.simhash import simhash

    d = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id") % 3 == 0)
    )
    fps = {r["doc"]: r["simhash"] for r in simhash(d).collect()}
    pred = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(fps[a] ^ fps[b]).count("1") <= 3:
                pred.add((a, b))
    assert row["n_true"] == len(truth)
    assert row["n_pred"] == len(pred)
    assert row["n_hit"] == len(truth & pred)
