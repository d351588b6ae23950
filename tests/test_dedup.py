"""Behavioral tests for the dedup family: known duplicates must be found."""

from __future__ import annotations

from pyspark.sql import functions as F

from acousticbrainz_server_spark.dedup.exact import dedup_exact, drop_exact_duplicates
from acousticbrainz_server_spark.dedup.minhash import lsh_candidate_pairs, minhash_neardup_pairs, minhash_signatures
from acousticbrainz_server_spark.dedup.ngram import ngram_jaccard_pairs
from acousticbrainz_server_spark.dedup.simhash import simhash, simhash_neardup_pairs
from acousticbrainz_server_spark.dedup.embedding import brute_force_knn, embedding_neardup_pairs

BASE = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
NEAR = "the quick brown fox jumps over the lazy dog and runs far away home today"
OTHER = "completely different words about spark query engines and distributed shuffles everywhere"


def _docs(spark):
    rows = [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    d = _docs(spark)
    groups = {r["canonical_id"]: r["n_copies"] for r in dedup_exact(d, "text", "doc_id").collect()}
    assert groups[1] == 2  # docs 1,2 identical
    kept = sorted(r["doc_id"] for r in drop_exact_duplicates(d, "text", "doc_id").collect())
    assert kept == [1, 3, 4]


def test_ngram_jaccard_finds_neardup(spark):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.7
    assert (1, 4) not in pairs


def test_minhash_signature_identical_for_identical_docs(spark):
    sigs = {r["doc"]: (r["mh0"], r["mh1"]) for r in minhash_signatures(_docs(spark), n_hashes=2).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_minhash_lsh_pipeline(spark):
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in minhash_neardup_pairs(_docs(spark), n_hashes=8, n_bands=4).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) not in pairs or pairs[(1, 4)] < 0.5


def test_lsh_bucket_cap(spark):
    sigs = minhash_signatures(_docs(spark), n_hashes=8)
    assert lsh_candidate_pairs(sigs, 8, 4, max_bucket_size=1).count() == 0


def test_simhash(spark):
    d = _docs(spark)
    sh = {r["doc"]: r["simhash"] for r in simhash(d).collect()}
    assert sh[1] == sh[2]
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_neardup_pairs(d, max_hamming=6).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # near-dup within hamming 6


def test_simhash_band_join_is_lossless_for_hamming3(spark, sf_dir):
    """The 4-byte pigeonhole banding must return EXACTLY the hamming<=3 pairs
    a bandless all-pairs sweep finds (on real corpus data, not toys)."""
    from acousticbrainz_server_spark.dedup.simhash import hamming_distance
    from acousticbrainz_server_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    banded = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(d, max_hamming=3).collect()
    }
    sig = simhash(d)
    a = sig.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming_distance(F.col("sa"), F.col("sb")).alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute


def test_connected_components_shapes(spark):
    """Path, triangle, and isolated vertices all label to the component min."""
    from acousticbrainz_server_spark.dedup.components import connected_components, neardup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(1, 11)], "id long")
    # path 1-2-3-4-5 (diameter forces multiple rounds), triangle 6-7-8; 9,10 isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7), (7, 8), (8, 6)], "src long, dst long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6, 8: 6, 9: 9, 10: 10}

    docs = nodes.select(F.col("id").alias("doc_id"))
    pairs = edges.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    cl = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in neardup_clusters(docs, pairs).collect()}
    assert cl[3] == (1, 5) and cl[8] == (6, 3) and cl[9] == (9, 1)


def test_connected_components_edges_with_multiplicity(spark):
    """A raw pair stream with multiplicity (each edge repeated, both
    orientations) labels identically to the deduped one, and the explode
    symmetrization covers edges given in EITHER orientation."""
    from acousticbrainz_server_spark.dedup.components import connected_components, neardup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    base = [(1, 2), (2, 3), (5, 4), (6, 7)]  # note 5->4: reversed orientation
    raw = base * 3 + [(b, a) for a, b in base]  # 3x multiplicity + flipped copies
    edges_raw = spark.createDataFrame(raw, "src long, dst long")
    edges_clean = spark.createDataFrame(base, "src long, dst long")
    a = {r["id"]: r["component"] for r in connected_components(nodes, edges_raw).collect()}
    b = {r["id"]: r["component"] for r in connected_components(nodes, edges_clean).collect()}
    assert a == b == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 8}

    docs = nodes.select(F.col("id").alias("doc_id"))
    pairs_raw = edges_raw.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    cl = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in neardup_clusters(docs, pairs_raw).collect()
    }
    assert cl[3] == (1, 3) and cl[5] == (4, 2) and cl[8] == (8, 1)


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_embedding_neardup_and_knn(spark):
    v = _vecs(spark)
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(v, threshold=0.99).collect()}
    assert pairs == {(1, 2)}
    knn = brute_force_knn(v, v.filter(F.col("vec_id") == 1), k=2)
    got = [(r["neighbor_id"], r["neighbor_rank"]) for r in knn.orderBy("neighbor_rank").collect()]
    assert got == [(2, 1), (3, 2)]


def test_embedding_lsh_buckets_agree_for_near_identical(spark):
    v = _vecs(spark)
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(v, threshold=0.99, use_lsh=True, dim=3).collect()}
    assert pairs == {(1, 2)}  # near-identical vectors share all hyperplane signs


def test_shingle_join_doc_freq_cap(spark):
    """The df cap must drop ONLY boilerplate shingles: near-dup pairs at
    threshold 0.4 are identical with and without the cap when the capped
    shingles are cross-group boilerplate."""
    from acousticbrainz_server_spark.dedup.ngram import _jaccard_shingle_join
    from acousticbrainz_server_spark.functions.text import word_bigrams

    boiler = "all rights reserved by the site owner"
    rows = []
    for g in range(3):
        base = f"group {g} unique content words alpha{g} beta{g} gamma{g} delta{g} epsilon{g} zeta{g}"
        rows.append((2 * g + 1, base + " " + boiler))
        rows.append((2 * g + 2, base + " extra " + boiler))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = docs.select(F.col("doc_id").alias("doc"), F.explode(word_bigrams(F.col("text"))).alias("s"))

    capped = {(r["doc_a"], r["doc_b"]) for r in _jaccard_shingle_join(sh, 0.4, max_doc_freq=5).collect()}
    uncapped = {(r["doc_a"], r["doc_b"]) for r in _jaccard_shingle_join(sh, 0.4, max_doc_freq=None).collect()}
    assert capped == uncapped == {(1, 2), (3, 4), (5, 6)}


def test_connected_components_falls_back_to_star_on_nonconvergence(spark):
    from acousticbrainz_server_spark.dedup.components import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    # path graph 1-2-...-8; max_iter=1 cannot converge in the hook+jump loop,
    # so the large-star/small-star fallback must produce the labels instead
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], "src long, dst long")
    comp = {r["id"]: r["component"] for r in connected_components(nodes, edges, max_iter=1).collect()}
    assert comp == {i: 1 for i in range(1, 9)}


def test_star_matches_hook_and_jump_on_random_graphs(spark):
    import random

    from acousticbrainz_server_spark.dedup.components import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        ids = list(range(1, n + 1))
        edges = [
            (rng.choice(ids), rng.choice(ids)) for _ in range(rng.randint(10, 40))
        ]
        nodes_df = spark.createDataFrame([(i,) for i in ids], "id long")
        edges_df = spark.createDataFrame(edges, "src long, dst long")
        a = {r["id"]: r["component"] for r in connected_components(nodes_df, edges_df).collect()}
        b = {r["id"]: r["component"] for r in connected_components_star(nodes_df, edges_df).collect()}
        assert a == b, f"trial {trial}: label mismatch"


def test_star_on_long_path_and_singletons(spark):
    from acousticbrainz_server_spark.dedup.components import connected_components_star

    # 120-node path with scrambled ids (worst case for label propagation),
    # plus isolated vertices that must come back as singleton components
    import random

    rng = random.Random(13)
    perm = list(range(1, 121))
    rng.shuffle(perm)
    edges = [(perm[i], perm[i + 1]) for i in range(len(perm) - 1)]
    nodes = [(i,) for i in range(1, 131)]  # 121..130 isolated
    comp = {
        r["id"]: r["component"]
        for r in connected_components_star(
            spark.createDataFrame(nodes, "id long"),
            spark.createDataFrame(edges, "src long, dst long"),
        ).collect()
    }
    assert len(comp) == 130
    assert {comp[p] for p in perm} == {1}
    for i in range(121, 131):
        assert comp[i] == i


def test_dense_matmul_tiling_route_equivalence(spark):
    """Round-5 verdict item: B-side tiling.  The tiled dense path (tile budget
    forced down so B spans multiple tiles), the single-tile dense path, and
    the exact shingle join must produce identical pair sets and identical
    jaccard values."""
    from acousticbrainz_server_spark.dedup.ngram import _jaccard_dense_matmul, _jaccard_shingle_join
    from acousticbrainz_server_spark.functions.text import word_bigrams

    import random

    rng = random.Random(7)
    vocab_words = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(1, 26):
        words = [rng.choice(vocab_words) for _ in range(12)]
        rows.append((i, " ".join(words)))
        if i % 5 == 0:  # a near-dup partner: one word changed
            words2 = list(words)
            words2[3] = rng.choice(vocab_words)
            rows.append((100 + i, " ".join(words2)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles():
        return docs.select(F.col("doc_id").alias("doc"), F.explode(word_bigrams(F.col("text"))).alias("s"))

    def as_map(df):
        return {(r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_a"], r["n_b"], r["jaccard"]) for r in df.collect()}

    exact = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_a"], r["n_b"], r["jaccard"])
        for r in _jaccard_shingle_join(shingles(), 0.3, max_doc_freq=None).collect()
    }
    untiled = as_map(_jaccard_dense_matmul(shingles(), 0.3))
    # tiny per-tile cell budget -> many tiles (vocab ~ hundreds of bigram
    # shingles, so 2000 cells ≈ a handful of docs per tile)
    tiled = as_map(_jaccard_dense_matmul(shingles(), 0.3, max_tile_cells=2000))
    assert set(tiled) == set(untiled) == set(exact)
    for k in exact:
        assert tiled[k] == untiled[k] == exact[k]


def test_semdedup_gemm_matches_brute_force_reference(spark, tmp_path):
    # the applyInPandas per-cluster gemm must reproduce a direct python
    # reference (assign -> within-cell pairwise rounded cosine -> max over
    # earlier ids) on a random corpus with planted near-duplicates
    import math
    import os
    import random

    import numpy as np

    from acousticbrainz_server_spark.plans.metric_queries import AB_FIXTURE_DIR
    from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
    from acousticbrainz_server_spark.similarity.kmeans import load_centroids

    _load_all()
    rng = random.Random(7)
    vecs = {}
    for i in range(60):
        vecs[i] = [rng.gauss(0, 1) for _ in range(64)]
    # planted near-dups: tiny perturbations of earlier vectors (sigma small
    # relative to the fixture centroids' ~0.005 assignment margins, so the
    # copies stay in their base's cell)
    for j, base in [(60, 3), (61, 17), (62, 3)]:
        vecs[j] = [x + rng.gauss(0, 1e-4) for x in vecs[base]]
    rows = [(i, [float(x) for x in v], "x") for i, v in sorted(vecs.items())]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    got = {
        r["vec_id"]: r
        for r in QUERIES["semdedup_prune"].spark_fn(spark, str(tmp_path)).collect()
    }

    cents = load_centroids(spark, os.path.join(AB_FIXTURE_DIR, "kmeans_centroids.parquet"))

    def assign(v):
        scores = [
            sum(a * b for a, b in zip(v, c)) - 0.5 * sum(b * b for b in c) for c in cents
        ]
        best = max(scores)
        return min(i for i, s in enumerate(scores) if s == best)

    def cos4(a, b):
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        c = sum(x * y for x, y in zip(a, b)) / den if den else 0.0
        return np.floor(c * 1e4 + 0.5) / 1e4

    cells = {i: assign(v) for i, v in vecs.items()}
    for i, v in vecs.items():
        earlier = [j for j in vecs if j < i and cells[j] == cells[i]]
        want = max((cos4(v, vecs[j]) for j in earlier), default=None)
        r = got[i]
        assert r["cell"] == cells[i]
        if want is None:
            assert r["max_prior_sim"] is None and r["kept"] is True
        else:
            assert abs(r["max_prior_sim"] - want) < 1e-9
            assert r["kept"] == (want < 0.4)
    # the planted duplicates were caught (guard against the test going
    # vacuous: each copy that shares its base's cell must be flagged, and
    # at least two of the three must have been co-located)
    caught = 0
    for j, base in [(60, 3), (61, 17), (62, 3)]:
        if cells[j] == cells[base]:
            assert got[j]["kept"] is False and got[j]["max_prior_sim"] > 0.99
            caught += 1
    assert caught >= 2


def test_char_shingle_stream_matches_substring_reference(spark):
    """The r13 let-binding shingle build (split once, k element_at lookups per
    position) must emit EXACTLY the multiset the former explode+substring
    formulation emitted — including short docs (< k), exactly-k docs, empty
    text, and multi-byte (non-ASCII) chars, where byte-offset shortcuts would
    diverge from char semantics."""
    from acousticbrainz_server_spark.functions.text import char_shingle_stream

    rows = [
        (1, "abcdefgh"),          # normal
        (2, "abcd"),              # len < k: one truncated shingle
        (3, "abcde"),             # len == k: exactly one shingle
        (4, ""),                  # empty: one empty shingle
        (5, "naïve café über"),   # multi-byte chars at interior positions
        (6, "ααββγγδδεε"),        # fully non-ASCII
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc"], r["s"]) for r in char_shingle_stream(d, "doc_id", "text", 5).collect()
    )
    ref = sorted(
        (r["doc"], r["s"])
        for r in d.select(
            F.col("doc_id").alias("doc"),
            F.col("text").alias("_t"),
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text") - 4, F.lit(1)))
            ).alias("_i"),
        )
        .select("doc", F.expr("substring(_t, _i, 5)").alias("s"))
        .collect()
    )
    assert got == ref


def test_cdc_cuts_expr_matches_per_position_hash(spark):
    """The r13 one-expression boundary build (codes array bound as a lambda
    variable, 8 O(1) lookups per position) must select EXACTLY the positions
    the former 8 x ascii(substr(text, i+j, 1)) stream selected — char
    semantics, multi-byte chars included."""
    from acousticbrainz_server_spark.plans.dedup_queries import (
        _CDC_DIV,
        _CDC_P,
        _CDC_W,
        _cdc_cuts_expr,
    )

    rows = [(i, f"doc {i} " + "the quick brown fox jümps över the lazy dög " * 7)
            for i in range(40)] + [(99, "exactly8")]
    d = (
        spark.createDataFrame(rows, "doc_id long, text string")
        .select("doc_id", "text", F.length("text").alias("len"))
        .filter(F.col("len") >= _CDC_W)
    )
    got = sorted(
        (r["doc_id"], r["i"])
        for r in d.select("doc_id", F.explode(F.expr(_cdc_cuts_expr())).alias("i")).collect()
    )
    h = F.lit(0).cast("long")
    for j in range(_CDC_W):
        h = h + F.ascii(F.substr(F.col("text"), F.col("i") + F.lit(j), F.lit(1))).cast(
            "long"
        ) * F.lit(31 ** (_CDC_W - 1 - j))
    ref = sorted(
        (r["doc_id"], r["i"])
        for r in d.select(
            "doc_id", "text", F.explode(F.sequence(F.lit(1), F.col("len") - _CDC_W + 1)).alias("i")
        )
        .filter(h % F.lit(_CDC_P) % _CDC_DIV == 0)
        .select("doc_id", "i")
        .collect()
    )
    assert got == ref and len(got) > 0
