"""Vector / similarity queries (SURVEY.md §2.9 V-family, §2.8 F7-F11, A7).

These are the engine's analytics core: normalization-stats aggregation, exact
k-NN (the correctness baseline the reference's Annoy index approximates),
pairwise angular distance, and circular embeddings — all as native column
expressions over ``array<double>``, no UDFs.

Scale path: exact k-NN here is query-set × corpus (broadcast the query set, no
shuffle on the corpus side).  For all-pairs at 100 TB the LSH-bucketed variant
in dedup/embedding.py replaces the cross join; the exact form remains the
oracle.  Cosines are rounded half-up to 4 digits BEFORE ranking so both engines
rank identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import round_half_up, sql_round_half_up
from ..functions.vector import angular_distance, cosine
from ..sources.tables import load_table, local_frame
from .metric_queries import AB_FIXTURE_DIR
from .registry import query

_COS = "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))


# --------------------------------------------------------------------------------------
# A7/V2 — per-dimension normalization stats + z-score (db/similarity_stats.py:27-61)
# --------------------------------------------------------------------------------------
@query(
    "vector_zscore",
    family="A7,V2,F7",
    doc="Per-dimension mean/stddev over the corpus, then z-score normalize — "
    "the similarity normalization-stats pipeline (db/similarity_stats.py:27-61, "
    "similarity/metrics.py:33-45) via posexplode + grouped agg + broadcast-join.",
    oracle=f"""
        WITH e AS (
          SELECT vec_id,
                 CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim_idx,
                 unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings
        ),
        s AS (SELECT dim_idx, avg(x) AS m, stddev_pop(x) AS sd FROM e GROUP BY dim_idx)
        SELECT e.vec_id, e.dim_idx, {sql_round_half_up('(e.x - s.m) / s.sd', 4)} AS z
        FROM e JOIN s USING (dim_idx) WHERE e.vec_id < 20
    """,
)
def vector_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    e = v.select("vec_id", F.posexplode("v").alias("dim_idx", "x"))
    stats = e.groupBy("dim_idx").agg(F.avg("x").alias("m"), F.stddev_pop("x").alias("sd"))
    return (
        e.filter(F.col("vec_id") < 20)
        .join(F.broadcast(stats), "dim_idx")
        .select("vec_id", "dim_idx", round_half_up((F.col("x") - F.col("m")) / F.col("sd"), 4).alias("z"))
    )


# --------------------------------------------------------------------------------------
# V4/O4 — exact k-NN top-k by cosine (index_model.py:149-224 semantics, exact)
# --------------------------------------------------------------------------------------
@query(
    "knn_exact_topk",
    family="V4,O4,W3",
    doc="Exact k-NN: top-5 cosine neighbors for each query vector — the "
    "deterministic semantics the reference's Annoy index (similarity/"
    "index_model.py:149-224) approximates.  Query set broadcast; rank on "
    "rounded cosine with id tie-break.",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pairs AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 {sql_round_half_up(_COS, 4)} AS cosine_sim
          FROM v a, v b
          WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
        )
        SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INTEGER) AS neighbor_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
          FROM pairs
        ) WHERE rn <= 5
    """,
)
def knn_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    pairs = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            round_half_up(cosine(F.col("qv"), F.col("v")), 4).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("neighbor_rank", F.row_number().over(w))
        .filter(F.col("neighbor_rank") <= 5)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("neighbor_rank").cast("int").alias("neighbor_rank"))
    )


# --------------------------------------------------------------------------------------
# V5 — pairwise angular distance (index_model.py:226-244)
# --------------------------------------------------------------------------------------
@query(
    "pairwise_angular_distance",
    family="V5",
    doc="Annoy angular distance sqrt(2-2cos) between consecutive-id vector "
    "pairs (similarity/index_model.py:226-244).",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {sql_round_half_up(f'sqrt(greatest(0.0, 2.0 - 2.0 * ({_COS})))', 4)} AS angular_dist
        FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id < 40
    """,
)
def pairwise_angular_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    a = v.filter(F.col("vec_id") < 40).select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b", round_half_up(angular_distance(F.col("va"), F.col("vb")), 4).alias("angular_dist"))
    )


# --------------------------------------------------------------------------------------
# F9/F11 — circular (octave-invariant) embedding of a tempo-like scalar
# --------------------------------------------------------------------------------------
@query(
    "bpm_circle_embedding",
    family="F9,F11",
    doc="BPM circle embedding [cos(2*pi*log2(v)), sin(2*pi*log2(v))] — "
    "octave-invariant tempo metric (similarity/metrics.py:89-96, 120-140).",
    oracle=f"""
        SELECT event_id,
               {sql_round_half_up('cos(2 * pi() * log2(value))', 6)} AS bpm_cos,
               {sql_round_half_up('sin(2 * pi() * log2(value))', 6)} AS bpm_sin
        FROM events WHERE event_id < 1000 AND value > 0
    """,
)
def bpm_circle_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = load_table(spark, sf_dir, "events").filter((F.col("event_id") < 1000) & (F.col("value") > 0))
    angle = F.lit(2.0 * math.pi) * F.log2("value")
    return ev.select(
        "event_id",
        round_half_up(F.cos(angle), 6).alias("bpm_cos"),
        round_half_up(F.sin(angle), 6).alias("bpm_sin"),
    )


# --------------------------------------------------------------------------------------
# F8 — geometric decay weights 0.95**i (similarity/metrics.py:48-58)
# --------------------------------------------------------------------------------------
@query(
    "decay_weighted_vector",
    family="F8",
    doc="Elementwise geometric decay weighting x[i] * 0.95**i — the weighted "
    "MFCC/GFCC metric transform (similarity/metrics.py:48-58) as a native "
    "posexplode + pow expression, no UDF.",
    oracle=f"""
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim_idx,
               {sql_round_half_up('unnest(CAST(embedding AS DOUBLE[])) * 0.95 ** (generate_subscripts(embedding, 1) - 1)', 6)} AS wx
        FROM embeddings WHERE vec_id < 25
    """,
)
def decay_weighted_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir).filter(F.col("vec_id") < 25)
    e = v.select("vec_id", F.posexplode("v").alias("dim_idx", "x"))
    return e.select(
        "vec_id",
        "dim_idx",
        round_half_up(F.col("x") * F.pow(F.lit(0.95), F.col("dim_idx")), 6).alias("wx"),
    )


# --------------------------------------------------------------------------------------
# F10/F9 — categorical key -> circle position -> [cos, sin] embedding
# --------------------------------------------------------------------------------------
_EVENT_CIRCLE_POSITIONS = {"click": 0, "error": 1, "purchase": 2, "signup": 3, "view": 4}


@query(
    "circle_of_fifths_embedding",
    family="F10,F9",
    doc="Categorical value -> circle position via a literal lookup map, then "
    "[cos(2*pi*p/N), sin(2*pi*p/N)] — the key/scale circle-of-fifths embedding "
    "(similarity/metrics.py:99-117) with event_type standing in for key_key.",
    oracle=f"""
        WITH m AS (
          SELECT event_id,
                 CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
                      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 WHEN 'view' THEN 4 END AS pos
          FROM events WHERE event_id < 1500
        )
        SELECT event_id, pos,
               {sql_round_half_up('cos(2 * pi() * pos / 5.0)', 6)} AS circle_cos,
               {sql_round_half_up('sin(2 * pi() * pos / 5.0)', 6)} AS circle_sin
        FROM m
    """,
)
def circle_of_fifths_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    from itertools import chain

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1500)
    pos_map = F.create_map(*[F.lit(x) for x in chain.from_iterable(_EVENT_CIRCLE_POSITIONS.items())])
    pos = F.element_at(pos_map, F.col("event_type"))
    angle = F.lit(2.0 * math.pi) * pos / F.lit(5.0)
    return ev.select(
        "event_id",
        pos.alias("pos"),
        round_half_up(F.cos(angle), 6).alias("circle_cos"),
        round_half_up(F.sin(angle), 6).alias("circle_sin"),
    )


# --------------------------------------------------------------------------------------
# F12 — classifier-probabilities -> ordered fixed-dim vector (zeros for missing)
# --------------------------------------------------------------------------------------
_CLASS_ORDER = ["click", "error", "purchase", "signup", "view"]  # sorted class names


@query(
    "probability_vector",
    family="F12,A6",
    doc="Per-entity {class -> probability} map flattened to a fixed-dim vector "
    "ordered by sorted class name, zeros for missing classes — the "
    "BinaryCollectiveMetric/SingleClassifierMetric transform "
    "(similarity/metrics.py:151-237) as conditional aggregates.",
    oracle=f"""
        SELECT user_id,
               {", ".join(sql_round_half_up(f"coalesce(avg(CASE WHEN event_type = '{c}' THEN value END), 0.0)", 4) + f" AS p_{c}" for c in _CLASS_ORDER)}
        FROM events WHERE user_id < 150
        GROUP BY user_id
    """,
)
def probability_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 150)
    aggs = [
        round_half_up(
            F.coalesce(F.avg(F.when(F.col("event_type") == c, F.col("value"))), F.lit(0.0)), 4
        ).alias(f"p_{c}")
        for c in _CLASS_ORDER
    ]
    return ev.groupBy("user_id").agg(*aggs)


# --------------------------------------------------------------------------------------
# V6/P7 — neighbor post-processing: threshold + dedup mode + deterministic sort
# --------------------------------------------------------------------------------------
@query(
    "knn_postprocess",
    family="V6,P7,W3,O5",
    doc="The similarity API's neighbor post-processing "
    "(webserver/views/api/v1/similarity.py:16-67): distance threshold "
    "(clamped to [0,1]), remove_dups='all' (keep the closest submission per "
    "recording), deterministic (distance, mbid, offset) ordering — over the "
    "bpm circle metric of the AB fixture documents (unit vectors, so "
    "angular distances span [0,2] and the threshold does real work); id "
    "maps to (recording_mbid=id//3, offset=id%3) so recordings have "
    "multiple submissions and the dedup window prunes.",
    oracle=f"""
        WITH v AS (
          SELECT id,
                 [cos(2 * pi() * log2(data['rhythm']['bpm'])),
                  sin(2 * pi() * log2(data['rhythm']['bpm']))] AS v
          FROM read_parquet('{AB_FIXTURE_DIR}/lowlevel_json.parquet')
          WHERE data['rhythm']['bpm'] IS NOT NULL AND data['rhythm']['bpm'] <> 0
        ),
        q AS (SELECT id AS query_id, v AS qv FROM v WHERE id < 8),
        pairs AS (
          SELECT q.query_id,
                 v.id // 3 AS recording_mbid,
                 CAST(v.id % 3 AS INTEGER) AS "offset",
                 {sql_round_half_up(f'sqrt(greatest(0.0, 2.0 - 2.0 * ({_COS.replace("a.v", "qv").replace("b.v", "v.v")})))', 4)} AS distance
          FROM v JOIN q ON v.id <> q.query_id
        ),
        thr AS (SELECT * FROM pairs WHERE distance <= 0.5),
        dd AS (
          SELECT *, row_number() OVER (
            PARTITION BY query_id, recording_mbid ORDER BY distance, "offset") AS rn
          FROM thr
        )
        SELECT query_id, recording_mbid, "offset", distance FROM dd WHERE rn = 1
    """,
)
def knn_postprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..similarity.knn import postprocess_neighbors

    llj = spark.read.parquet(f"{AB_FIXTURE_DIR}/lowlevel_json.parquet")
    bpm = F.col("data.rhythm.bpm")
    angle = F.lit(2.0 * math.pi) * F.log2(bpm)
    v = llj.filter(bpm.isNotNull() & (bpm != 0)).select(
        "id", F.array(F.cos(angle), F.sin(angle)).alias("v")
    )
    q = v.filter(F.col("id") < 8).select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
    pairs = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            (F.col("id") / 3).cast("long").alias("recording_mbid"),
            (F.col("id") % 3).cast("int").alias("offset"),
            round_half_up(angular_distance(F.col("qv"), F.col("v")), 4).alias("distance"),
        )
    )
    return postprocess_neighbors(pairs, threshold=0.5, remove_dups="all")


# --------------------------------------------------------------------------------------
# V3/V4 scale path — IVF (inverted-file) approximate k-NN, deterministic + oracle-checked
# --------------------------------------------------------------------------------------
@query(
    "ann_ivf_topk",
    family="V3,V4,O4",
    doc="IVF approximate k-NN: partition the corpus into coarse cells (label as "
    "the cell assignment), compute per-cell centroids, route each query to its "
    "nprobe=2 nearest centroids by cosine, and search only those cells — the "
    "deterministic inverted-file analogue of the reference's Annoy index "
    "(similarity/index_model.py:13-92).  At 100 TB the cell column prunes the "
    "scan (partition pruning on `label`); centroids are a broadcast dimension.",
    oracle=f"""
        WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        e AS (SELECT vec_id, label, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM v),
        cd AS (SELECT label, d, avg(x) AS m FROM e GROUP BY label, d),
        cent AS (SELECT label, list(m ORDER BY d) AS c FROM cd GROUP BY label),
        q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
        qc AS (
          SELECT query_id,
                 cent.label,
                 {sql_round_half_up('list_dot_product(q.qv, cent.c) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.c, cent.c)))', 4)} AS cell_cos
          FROM q, cent
        ),
        probe AS (
          SELECT query_id, label FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cell_cos DESC, label) AS rn FROM qc
          ) WHERE rn <= 2
        ),
        cand AS (
          SELECT p.query_id, v.vec_id AS neighbor_id,
                 {sql_round_half_up('list_dot_product(q.qv, v.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(v.v, v.v)))', 4)} AS cosine_sim
          FROM probe p
          JOIN v ON v.label = p.label
          JOIN q ON q.query_id = p.query_id
          WHERE v.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INTEGER) AS neighbor_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
          FROM cand
        ) WHERE rn <= 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..similarity.ann import ivf_topk

    v = _vectors(spark, sf_dir)
    return ivf_topk(
        v,
        v.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=2,
        id_col="vec_id",
        vec_col="v",
        cell_col="label",
    )


# --------------------------------------------------------------------------------------
# V3/V4 — IVF with a TRAINED coarse quantizer (distributed Lloyd's k-means)
# --------------------------------------------------------------------------------------
@query(
    "ann_ivf_kmeans_topk",
    family="V3,V4",
    doc="IVF k-NN over k-means-trained cells: deterministic farthest-point "
    "seeding + 3 Lloyd's iterations (assign = one sgemm per Arrow batch via "
    "mapInPandas, update = grouped avg per dimension) train an 8-cell coarse "
    "quantizer, then each query probes its nprobe=2 nearest cells — the "
    "trained-quantizer form of the reference's Annoy index "
    "(similarity/index_model.py:13-92).  The quantizer is the COMMITTED "
    "model (tools/gen_kmeans_fixture.py, trained once at sf0.01 — shipped "
    "like any deployed index), read identically by both engines, so the "
    "query is sf-INDEPENDENT; the deterministic fit itself is pytest-gated "
    "bit-for-bit against the fixture.  Recall vs knn_exact_topk is "
    "additionally pytest-asserted (tests/test_jobs_lookup_ann.py).",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        km AS (SELECT cell, centroid FROM read_parquet('{AB_FIXTURE_DIR}/kmeans_centroids.parquet')),
        sc AS (
          SELECT v.vec_id, km.cell,
                 list_dot_product(v.v, km.centroid)
                   - 0.5 * list_dot_product(km.centroid, km.centroid) AS score
          FROM v, km
        ),
        asg AS (
          SELECT vec_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
            FROM sc
          ) WHERE rn = 1
        ),
        e AS (SELECT a.cell, generate_subscripts(v.v, 1) AS d, unnest(v.v) AS x
              FROM asg a JOIN v USING (vec_id)),
        cd AS (SELECT cell, d, avg(x) AS m FROM e GROUP BY cell, d),
        cent AS (SELECT cell, list(m ORDER BY d) AS c FROM cd GROUP BY cell),
        q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
        qc AS (
          SELECT query_id, cent.cell,
                 {sql_round_half_up('list_dot_product(q.qv, cent.c) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.c, cent.c)))', 4)} AS cell_cos
          FROM q, cent
        ),
        probe AS (
          SELECT query_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cell_cos DESC, cell) AS rn FROM qc
          ) WHERE rn <= 2
        ),
        cand AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 {sql_round_half_up('list_dot_product(q.qv, v.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(v.v, v.v)))', 4)} AS cosine_sim
          FROM probe p
          JOIN asg a ON a.cell = p.cell
          JOIN v ON v.vec_id = a.vec_id
          JOIN q ON q.query_id = p.query_id
          WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INTEGER) AS neighbor_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
          FROM cand
        ) WHERE rn <= 5
    """,
)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..similarity.ann import ivf_topk
    from ..similarity.kmeans import kmeans_assign, load_centroids

    v = _vectors(spark, sf_dir).select("vec_id", "v")
    # the committed model, not a live fit: quantizers are trained once on a
    # sample and shipped (round-4 advice — the live fit only reproduced the
    # fixture at the gate's sf, so fitting here made the query sf-coupled;
    # the fit itself is pytest-gated bit-for-bit against this fixture)
    centroids = load_centroids(spark, os.path.join(AB_FIXTURE_DIR, "kmeans_centroids.parquet"))
    cells = kmeans_assign(v, centroids, id_col="vec_id", vec_col="v")
    return ivf_topk(
        cells,
        v.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=2,
        id_col="vec_id",
        vec_col="v",
        cell_col="cell",
        dim=64,
    )


# --------------------------------------------------------------------------------------
# V3 — LSH approximate k-NN, oracle-gated: the seeded plane matrix is a committed
# fixture parquet (tests/fixtures/ab/lsh_planes.parquet) read by BOTH engines, so
# the bucketing floor(<v,p>/(||v||*bl)) is plain SQL in DuckDB.
# --------------------------------------------------------------------------------------
_LSH_QCOS = (
    "list_dot_product(q.v, n.v)"
    " / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))"
)


@query(
    "ann_lsh_topk",
    family="V3,V4",
    doc="Random-projection LSH k-NN over unit-normalized vectors "
    "(euclidean==angular on the unit sphere) — the Annoy-index scale path "
    "(similarity/index_model.py:13-92).  The seeded Gaussian plane matrix is a "
    "committed fixture parquet shared with the oracle, so candidate generation "
    "(vectors sharing >=1 (table, bucket) with the query) and the exact angular "
    "re-rank are verified cross-engine end-to-end; recall vs knn_exact_topk is "
    "additionally pytest-asserted (tests/test_jobs_lookup_ann.py).",
    oracle=f"""
        WITH nz AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nv
          FROM embeddings
          WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
        ),
        planes AS (
          SELECT table_idx, plane FROM read_parquet('{AB_FIXTURE_DIR}/lsh_planes.parquet')
        ),
        b AS (
          SELECT nz.vec_id, nz.v, p.table_idx,
                 CAST(floor(list_dot_product(nz.v, p.plane) / (nz.nv * 0.5)) AS BIGINT) AS bucket
          FROM nz, planes p
        ),
        cand AS (
          SELECT DISTINCT qb.vec_id AS query_id, b.vec_id AS neighbor_id
          FROM (SELECT * FROM b WHERE vec_id < 10) qb
          JOIN b ON b.table_idx = qb.table_idx AND b.bucket = qb.bucket
          WHERE b.vec_id <> qb.vec_id
        ),
        scored AS (
          SELECT c.query_id, c.neighbor_id,
                 {sql_round_half_up(f'sqrt(greatest(0.0, 2.0 - 2.0 * ({_LSH_QCOS})))', 4)} AS angular_dist
          FROM cand c
          JOIN nz q ON q.vec_id = c.query_id
          JOIN nz n ON n.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, angular_dist, CAST(rn AS INTEGER) AS neighbor_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY angular_dist ASC, neighbor_id) AS rn
          FROM scored
        ) WHERE rn <= 5
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..similarity.ann import fit_lsh_index, knn_lsh

    emb = _vectors(spark, sf_dir).select("vec_id", "v")
    model, indexed = fit_lsh_index(emb, id_col="vec_id", vec_col="v", dim=64)
    queries = emb.filter(F.col("vec_id") < 10)
    nn = knn_lsh(model, indexed, queries, k=5, id_col="vec_id", vec_col="v", round_digits=4)
    return nn.select(
        F.col("query_id"),
        F.col("neighbor_id"),
        F.col("distance").alias("angular_dist"),
        F.col("neighbor_rank").cast("int").alias("neighbor_rank"),
    )


# --------------------------------------------------------------------------------------
# V4 scale baseline — brute-force cosine top-k as a blocked matmul (the GPU-shaped plan)
# --------------------------------------------------------------------------------------
@query(
    "ann_brute_cosine_topk",
    family="V4,O4",
    doc="Brute-force cosine top-10 as a BLOCKED MATMUL: the query matrix "
    "(10 x 64, L2-normalized) broadcasts once per executor; each Arrow batch "
    "of corpus vectors computes all its cosines in one float64 gemm and emits "
    "only its LOCAL top-k per query, so the global shuffle carries "
    "k x queries x batches rows instead of corpus x queries (exactness "
    "preserved: global top-k of unioned local top-ks).  This is the dense "
    "baseline ann_ivf/lsh approximate — and the plan shape that ports "
    "directly to GPU gemm at 100 TB.  Rounding half-up to 4 BEFORE ranking "
    "keeps cross-engine rank parity.",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pairs AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 {sql_round_half_up(_COS, 4)} AS cosine_sim
          FROM v a, v b
          WHERE a.vec_id >= 10 AND a.vec_id < 20 AND b.vec_id <> a.vec_id
        )
        SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INTEGER) AS neighbor_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
          FROM pairs
        ) WHERE rn <= 10
    """,
)
def ann_brute_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    k = 10
    v = _vectors(spark, sf_dir).select("vec_id", "v")
    q_rows = (
        v.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
        .orderBy("vec_id")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.asarray([list(r["v"]) for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    q_unit = q_mat / np.where(q_norm == 0.0, 1.0, q_norm)[:, None]
    bc = spark.sparkContext.broadcast((q_ids, q_unit, q_norm == 0.0))

    def block_topk(batches):
        import pandas as pd

        bq_ids, bq_unit, bq_zero = bc.value
        nq = len(bq_ids)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            nrm = np.sqrt((m * m).sum(axis=1))
            unit = m / np.where(nrm == 0.0, 1.0, nrm)[:, None]
            cos = unit @ bq_unit.T  # (n, nq) gemm
            # zero-norm rows/queries -> cosine 0.0 (functions.vector.cosine)
            cos[nrm == 0.0, :] = 0.0
            cos[:, bq_zero] = 0.0
            # round half-up BEFORE ranking — the cross-engine rank contract
            cos = np.floor(cos * 1e4 + 0.5) / 1e4
            out_q, out_n, out_c = [], [], []
            for j in range(nq):
                cj = cos[:, j].copy()
                mask = ids == bq_ids[j]
                cj[mask] = -np.inf  # exclude self
                # local exact top-k by (cos desc, id asc)
                order = np.lexsort((ids, -cj))[: min(k, n)]
                order = order[np.isfinite(cj[order])]
                out_q.append(np.full(len(order), bq_ids[j]))
                out_n.append(ids[order])
                out_c.append(cj[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine_sim": np.concatenate(out_c),
                }
            )

    cand = v.mapInPandas(block_topk, "query_id LONG, neighbor_id LONG, cosine_sim DOUBLE")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("neighbor_rank", F.row_number().over(w))
        .filter(F.col("neighbor_rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("neighbor_rank").cast("int").alias("neighbor_rank"))
    )


# --------------------------------------------------------------------------------------
# V3 — k-means cluster assignment as a standalone operator (the IVF cell column)
# --------------------------------------------------------------------------------------
@query(
    "embedding_kmeans_assign",
    family="V3,SKETCH",
    doc="Deterministic k-means cell assignment over the embedding corpus "
    "under the COMMITTED k=8 centroid model (trained once at sf0.01 by "
    "kmeans_fit — md5-seeded sample, maxmin init, 3 Lloyd's rounds — and "
    "shipped; the fit is pytest-gated bit-for-bit against the fixture): one "
    "sgemm-per-Arrow-batch assignment pass labels every vector, and the "
    "argmin(||v-c||²) = argmax(v·c - ||c||²/2) assignment (ties to lowest "
    "cell) is plain SQL.  At 100 TB the cell "
    "column is the partition key IVF probing prunes on; assignment is "
    "shuffle-free.",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        km AS (SELECT cell, centroid FROM read_parquet('{AB_FIXTURE_DIR}/kmeans_centroids.parquet')),
        sc AS (
          SELECT v.vec_id, km.cell,
                 list_dot_product(v.v, km.centroid)
                   - 0.5 * list_dot_product(km.centroid, km.centroid) AS score
          FROM v, km
        )
        SELECT vec_id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
          FROM sc
        ) WHERE rn = 1
    """,
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..similarity.kmeans import kmeans_assign, load_centroids

    v = _vectors(spark, sf_dir).select("vec_id", "v")
    # committed model, not a live fit — see ann_ivf_kmeans_topk
    centroids = load_centroids(spark, os.path.join(AB_FIXTURE_DIR, "kmeans_centroids.parquet"))
    return kmeans_assign(v, centroids, id_col="vec_id", vec_col="v").select("vec_id", "cell")


# --------------------------------------------------------------------------------------
# V3 scale path — int8 scalar quantization of the embedding corpus
# --------------------------------------------------------------------------------------
@query(
    "embedding_quantize_int8",
    family="V3,SKETCH",
    doc="Per-dimension affine int8 quantization of the embedding corpus: "
    "global min/max per dimension (one grouped agg over posexplode, exact "
    "because min/max are order-insensitive), scale=(max-min)/255, "
    "q=floor((x-min)/scale+0.5) clamped to [0,255] — the standard 4x memory "
    "cut applied before ANN serving at corpus scale (quantized vectors + a "
    "256-double dequant table per metric).  Stats are a broadcast dimension; "
    "quantization itself is a shuffle-free projection.  Constant dimensions "
    "(scale=0) quantize to 0 by convention.",
    oracle="""
        WITH e AS (
          SELECT vec_id,
                 CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim_idx,
                 unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings
        ),
        s AS (
          SELECT dim_idx, min(x) AS lo, max(x) AS hi,
                 (max(x) - min(x)) / 255.0 AS scale
          FROM e GROUP BY dim_idx
        )
        SELECT e.vec_id, e.dim_idx,
               CAST(CASE WHEN s.scale = 0 THEN 0
                    ELSE least(255, greatest(0, floor((e.x - s.lo) / s.scale + 0.5)))
               END AS INTEGER) AS q
        FROM e JOIN s USING (dim_idx)
        WHERE e.vec_id < 30
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    e = v.select("vec_id", F.posexplode("v").alias("dim_idx", "x"))
    stats = e.groupBy("dim_idx").agg(
        F.min("x").alias("lo"), ((F.max("x") - F.min("x")) / F.lit(255.0)).alias("scale")
    )
    q = F.when(F.col("scale") == 0.0, F.lit(0)).otherwise(
        F.least(
            F.lit(255),
            F.greatest(F.lit(0), F.floor((F.col("x") - F.col("lo")) / F.col("scale") + F.lit(0.5))),
        )
    )
    return (
        e.filter(F.col("vec_id") < 30)
        .join(F.broadcast(stats), "dim_idx")
        .select("vec_id", "dim_idx", q.cast("int").alias("q"))
    )


# --------------------------------------------------------------------------------------
# V3/V4 scale path — product quantization: 4-bit codes + ADC top-k
# --------------------------------------------------------------------------------------
_PQ_M, _PQ_K, _PQ_SUB = 8, 16, 8


@query(
    "ann_pq_adc_topk",
    family="V3,V4,SKETCH",
    doc="Product-quantization ANN (Jégou et al., TPAMI 2011): every vector "
    "compressed to 8 four-bit sub-codes under the COMMITTED per-subspace "
    "codebooks (tools/gen_pq_fixture.py — trained once, shipped like any "
    "index artifact; min assignment margin 2.1e-5 audited at gen time), "
    "then each query ranks the whole corpus by Asymmetric Distance "
    "Computation — sum of 8 table lookups per candidate, the 128x-memory-cut "
    "serving path that composes with IVF cells at corpus scale.  Assignment "
    "and ADC are Arrow-batched table-lookup kernels emitting only per-batch "
    "top-k; the oracle replays assignment and ADC in plain SQL over the "
    "exploded codebook parquet.",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cb AS (SELECT s, c, o, w FROM read_parquet('{AB_FIXTURE_DIR}/pq_codebooks.parquet')),
        ve AS (
          SELECT vec_id,
                 CAST((generate_subscripts(v, 1) - 1) // {_PQ_SUB} AS INTEGER) AS s,
                 CAST((generate_subscripts(v, 1) - 1) % {_PQ_SUB} AS INTEGER) AS o,
                 unnest(v) AS x
          FROM v
        ),
        dist AS (
          SELECT ve.vec_id, ve.s, cb.c, sum((ve.x - cb.w) * (ve.x - cb.w)) AS d
          FROM ve JOIN cb ON ve.s = cb.s AND ve.o = cb.o
          GROUP BY ve.vec_id, ve.s, cb.c
        ),
        codes AS (
          SELECT vec_id, s, c FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn FROM dist
          ) WHERE rn = 1
        ),
        qtab AS (SELECT vec_id AS query_id, s, c, d FROM dist WHERE vec_id < 10),
        adc AS (
          SELECT q.query_id, cd.vec_id AS neighbor_id,
                 {sql_round_half_up("sum(q.d)", 4)} AS adc_dist
          FROM codes cd
          JOIN qtab q ON q.s = cd.s AND q.c = cd.c
          WHERE cd.vec_id <> q.query_id
          GROUP BY q.query_id, cd.vec_id
        )
        SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INTEGER) AS neighbor_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
          FROM adc
        ) WHERE rn <= 5
    """,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..similarity.pq import load_codebooks, pq_adc_topk, pq_assign

    books = load_codebooks(
        spark, os.path.join(AB_FIXTURE_DIR, "pq_codebooks.parquet"), _PQ_M, _PQ_K, _PQ_SUB
    )
    v = _vectors(spark, sf_dir).select("vec_id", "v")
    codes = pq_assign(v, books, id_col="vec_id", vec_col="v")
    return pq_adc_topk(
        codes, v.filter(F.col("vec_id") < 10), books, topk=5, id_col="vec_id", vec_col="v"
    )


# --------------------------------------------------------------------------------------
# V3/V4 scale path — the composed IVF-PQ index (probe cells, ADC within them)
# --------------------------------------------------------------------------------------
@query(
    "ann_ivf_pq_topk",
    family="V3,V4,SKETCH",
    doc="The full FAISS-style IVF-PQ serving index composed from the two "
    "committed artifacts: each query probes its nprobe=2 nearest k-means "
    "cells (committed coarse quantizer), then ranks ONLY the probed cells' "
    "vectors by PQ Asymmetric Distance (committed codebooks) — the plan "
    "that scans codes for ~nprobe/k of the corpus and reads 4 bytes per "
    "candidate instead of 512.  Spark side is fully native: the query "
    "distance tables are a 1,280-row broadcast dimension and ADC is a "
    "posexplode + join + sum — no UDF in the serving path.",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        km AS (SELECT cell, centroid FROM read_parquet('{AB_FIXTURE_DIR}/kmeans_centroids.parquet')),
        cb AS (SELECT s, c, o, w FROM read_parquet('{AB_FIXTURE_DIR}/pq_codebooks.parquet')),
        -- coarse assignment under the committed quantizer
        sc AS (
          SELECT v.vec_id, km.cell,
                 list_dot_product(v.v, km.centroid)
                   - 0.5 * list_dot_product(km.centroid, km.centroid) AS score
          FROM v, km
        ),
        asg AS (
          SELECT vec_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
            FROM sc
          ) WHERE rn = 1
        ),
        -- PQ codes under the committed codebooks
        ve AS (
          SELECT vec_id,
                 CAST((generate_subscripts(v, 1) - 1) // {_PQ_SUB} AS INTEGER) AS s,
                 CAST((generate_subscripts(v, 1) - 1) % {_PQ_SUB} AS INTEGER) AS o,
                 unnest(v) AS x
          FROM v
        ),
        dist AS (
          SELECT ve.vec_id, ve.s, cb.c, sum((ve.x - cb.w) * (ve.x - cb.w)) AS d
          FROM ve JOIN cb ON ve.s = cb.s AND ve.o = cb.o
          GROUP BY ve.vec_id, ve.s, cb.c
        ),
        codes AS (
          SELECT vec_id, s, c FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn FROM dist
          ) WHERE rn = 1
        ),
        -- probe: top-2 cells per query by cosine to the committed centroid
        q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
        qc AS (
          SELECT query_id, km.cell,
                 {sql_round_half_up('list_dot_product(q.qv, km.centroid) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(km.centroid, km.centroid)))', 4)} AS cell_cos
          FROM q, km
        ),
        probe AS (
          SELECT query_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cell_cos DESC, cell) AS rn FROM qc
          ) WHERE rn <= 2
        ),
        qtab AS (SELECT vec_id AS query_id, s, c, d FROM dist WHERE vec_id < 10),
        adc AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 {sql_round_half_up("sum(qt.d)", 4)} AS adc_dist
          FROM probe p
          JOIN asg a ON a.cell = p.cell
          JOIN codes cd ON cd.vec_id = a.vec_id
          JOIN qtab qt ON qt.query_id = p.query_id AND qt.s = cd.s AND qt.c = cd.c
          WHERE a.vec_id <> p.query_id
          GROUP BY p.query_id, a.vec_id
        )
        SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INTEGER) AS neighbor_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
          FROM adc
        ) WHERE rn <= 5
    """,
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..similarity.kmeans import kmeans_assign, load_centroids
    from ..similarity.pq import _dist_tables, load_codebooks, pq_assign

    centroids = load_centroids(spark, os.path.join(AB_FIXTURE_DIR, "kmeans_centroids.parquet"))
    books = load_codebooks(
        spark, os.path.join(AB_FIXTURE_DIR, "pq_codebooks.parquet"), _PQ_M, _PQ_K, _PQ_SUB
    )
    v = _vectors(spark, sf_dir).select("vec_id", "v")
    cells = kmeans_assign(v, centroids, id_col="vec_id", vec_col="v")
    codes = pq_assign(v, books, id_col="vec_id", vec_col="v")

    # query-side driver work is 10 rows: exact vectors -> (a) cell probes by
    # cosine to the committed centroids, (b) the (q x M x K) ADC tables as a
    # 1,280-row broadcast dimension
    q_rows = v.filter(F.col("vec_id") < 10).collect()
    qx = np.asarray([list(r["v"]) for r in q_rows], dtype=np.float64)
    q_ids = [int(r["vec_id"]) for r in q_rows]
    cent = np.asarray(centroids, dtype=np.float64)
    cos = (qx @ cent.T) / (
        np.linalg.norm(qx, axis=1)[:, None] * np.linalg.norm(cent, axis=1)[None, :]
    )
    probe_rows = []
    for qi, qid in enumerate(q_ids):
        # rank on the ROUNDED cosine with cell tie-break, like the oracle
        order = sorted(
            range(len(centroids)), key=lambda c: (-float(np.floor(cos[qi, c] * 1e4 + 0.5) / 1e4), c)
        )[:2]
        probe_rows.extend((qid, c) for c in order)
    probe = local_frame(spark, probe_rows, "query_id LONG, cell INT")

    qtab = _dist_tables(qx, books)  # q x m x k
    qtab_rows = [
        (qid, s, c, float(qtab[qi, s, c]))
        for qi, qid in enumerate(q_ids)
        for s in range(_PQ_M)
        for c in range(_PQ_K)
    ]
    qtab_df = local_frame(spark, qtab_rows, "query_id LONG, s INT, c INT, d DOUBLE")

    cand = (
        cells.select("vec_id", "cell")
        .join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(codes, "vec_id")
    )
    adc = (
        cand.select("query_id", "vec_id", F.posexplode("codes").alias("s", "c"))
        .join(F.broadcast(qtab_df), ["query_id", "s", "c"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(round_half_up(F.sum("d"), 4).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("neighbor_rank", F.row_number().over(w))
        .filter(F.col("neighbor_rank") <= 5)
        .select("query_id", "neighbor_id", "adc_dist", F.col("neighbor_rank").cast("int").alias("neighbor_rank"))
    )


# --------------------------------------------------------------------------------------
# SemDeDup — semantic dedup within coarse-quantizer cells (Abbas et al. 2023,
# arXiv:2303.09540): cluster the embedding corpus, then inside each cluster
# drop every item whose cosine to an already-kept (earlier-id) item exceeds
# the dedup threshold.  The reference has no semantic dedup; this is the
# LLM-pipeline extension surface (task brief) built from the same committed
# k-means model the IVF queries ship.
# --------------------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.4


@query(
    "semdedup_prune",
    family="V3,DEDUP",
    doc="SemDeDup pruning pass: assign every embedding to its committed "
    "k-means cell (one gemm per Arrow batch, shuffle-free), then ONE "
    "normalized gemm per cluster (applyInPandas grouped on the cell key — "
    "never a corpus cross product; the paper's own per-cluster pair matrix) "
    "computes each item's max cosine to any LOWER-id item in the same "
    "cell; items at or above tau=0.4 are dropped, cluster-firsts and "
    "low-similarity items kept.  At 100 TB the cell count scales with the "
    "corpus (k ~ n / target_cell_size) so the per-cell matrix stays "
    "bounded and the single shuffle is on a uniform high-cardinality key; "
    "rounding half-up to 4 before the max keeps cross-engine parity.",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        km AS (SELECT cell, centroid FROM read_parquet('{AB_FIXTURE_DIR}/kmeans_centroids.parquet')),
        sc AS (
          SELECT v.vec_id, km.cell,
                 list_dot_product(v.v, km.centroid)
                   - 0.5 * list_dot_product(km.centroid, km.centroid) AS score
          FROM v, km
        ),
        asg AS (
          SELECT vec_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
            FROM sc
          ) WHERE rn = 1
        ),
        cv AS (SELECT asg.cell, v.vec_id, v.v FROM asg JOIN v USING (vec_id)),
        mx AS (
          SELECT a.vec_id, max({sql_round_half_up(_COS, 4)}) AS max_prior_sim
          FROM cv a JOIN cv b ON a.cell = b.cell AND b.vec_id < a.vec_id
          GROUP BY a.vec_id
        )
        SELECT cv.vec_id, cv.cell, mx.max_prior_sim,
               coalesce(mx.max_prior_sim < {_SEMDEDUP_TAU}, TRUE) AS kept
        FROM cv LEFT JOIN mx USING (vec_id)
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..similarity.kmeans import kmeans_assign, load_centroids

    v = _vectors(spark, sf_dir).select("vec_id", "v")
    centroids = load_centroids(spark, os.path.join(AB_FIXTURE_DIR, "kmeans_centroids.parquet"))
    cells = kmeans_assign(v, centroids, id_col="vec_id", vec_col="v")

    # SemDeDup's actual kernel: ONE normalized gemm per cluster (the paper
    # computes the within-cluster pair matrix the same way), instead of a
    # 3-fold-per-pair expression join — c x c work either way, but the gemm
    # runs at BLAS speed.  Memory is c^2 doubles per cluster; at 100 TB the
    # coarse k scales with the corpus (k ~ n / target_cell_size) precisely
    # so c stays bounded, which caps both this matrix and the paper's.
    # Rounding half-up to 4 happens per pair BEFORE the max, matching the
    # oracle's max(round(cos, 4)).
    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        m = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        nrm = np.sqrt((m * m).sum(axis=1))
        unit = m / np.where(nrm == 0.0, 1.0, nrm)[:, None]
        cos = unit @ unit.T
        cos[nrm == 0.0, :] = 0.0
        cos[:, nrm == 0.0] = 0.0
        cos = np.floor(cos * 1e4 + 0.5) / 1e4
        # max over strictly-earlier ids = row-wise max of the strict lower
        # triangle; the cluster-first row has no prior -> NULL
        cos[np.triu_indices(len(ids))] = -np.inf
        mx = cos.max(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].to_numpy()[order],
                "max_prior_sim": np.where(np.isfinite(mx), mx, np.nan),
            }
        )

    per = cells.groupBy("cell").applyInPandas(
        per_cell, "vec_id LONG, cell INT, max_prior_sim DOUBLE"
    )
    return per.select(
        "vec_id",
        "cell",
        "max_prior_sim",
        F.coalesce(F.col("max_prior_sim") < F.lit(_SEMDEDUP_TAU), F.lit(True)).alias("kept"),
    )


# --------------------------------------------------------------------------------------
# Index-quality evaluation: recall@k of the IVF probe against the exact top-k
# — the measurement loop every ANN deployment runs (FAISS's own eval shape).
# --------------------------------------------------------------------------------------
@query(
    "ivf_recall_eval",
    family="V3,V4",
    doc="Recall@5 of the committed-model IVF index (nprobe=2) vs the exact "
    "brute-force top-5, per query — the index-quality measurement the "
    "reference's Annoy wrapper exposes as its accuracy check "
    "(similarity/index_model.py:149-224 n_trees/search_k trade-off).  Both "
    "rankings use rounded-cosine + id tie-break so the sets are "
    "deterministic; the join of the two 50-row result sets is trivial — the "
    "cost profile is the two underlying scans, which share the corpus scan.",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY {sql_round_half_up('list_dot_product(q.qv, b.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.v, b.v)))', 4)} DESC,
                              b.vec_id
                   ) AS rn
            FROM q, v b WHERE b.vec_id <> q.query_id
          ) WHERE rn <= 5
        ),
        km AS (SELECT cell, centroid FROM read_parquet('{AB_FIXTURE_DIR}/kmeans_centroids.parquet')),
        sc AS (
          SELECT v.vec_id, km.cell,
                 list_dot_product(v.v, km.centroid)
                   - 0.5 * list_dot_product(km.centroid, km.centroid) AS score
          FROM v, km
        ),
        asg AS (
          SELECT vec_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
            FROM sc
          ) WHERE rn = 1
        ),
        e2 AS (SELECT a.cell, generate_subscripts(v.v, 1) AS d, unnest(v.v) AS x
               FROM asg a JOIN v USING (vec_id)),
        cd AS (SELECT cell, d, avg(x) AS m FROM e2 GROUP BY cell, d),
        cent AS (SELECT cell, list(m ORDER BY d) AS c FROM cd GROUP BY cell),
        qc AS (
          SELECT query_id, cent.cell,
                 {sql_round_half_up('list_dot_product(q.qv, cent.c) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.c, cent.c)))', 4)} AS cell_cos
          FROM q, cent
        ),
        probe AS (
          SELECT query_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cell_cos DESC, cell) AS rn FROM qc
          ) WHERE rn <= 2
        ),
        ivf AS (
          SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY p.query_id
                     ORDER BY {sql_round_half_up('list_dot_product(q.qv, v.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(v.v, v.v)))', 4)} DESC,
                              a.vec_id
                   ) AS rn
            FROM probe p
            JOIN asg a ON a.cell = p.cell
            JOIN v ON v.vec_id = a.vec_id
            JOIN q ON q.query_id = p.query_id
            WHERE a.vec_id <> p.query_id
          ) WHERE rn <= 5
        )
        SELECT e.query_id,
               CAST(count(i.neighbor_id) AS INTEGER) AS n_hits,
               {sql_round_half_up('count(i.neighbor_id) / 5.0', 4)} AS recall_at_5
        FROM exact e
        LEFT JOIN ivf i ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """,
)
def ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..similarity.ann import ivf_topk
    from ..similarity.kmeans import kmeans_assign, load_centroids

    v = _vectors(spark, sf_dir).select("vec_id", "v")
    q = v.filter(F.col("vec_id") < 10)
    # exact top-5: broadcast the 10-row query set against the corpus
    pairs = (
        F.broadcast(q.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")))
        .join(v.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")), on=F.expr("neighbor_id <> query_id"))
        .select("query_id", "neighbor_id", round_half_up(cosine(F.col("qv"), F.col("nv")), 4).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    exact = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5).select("query_id", "neighbor_id")

    centroids = load_centroids(spark, os.path.join(AB_FIXTURE_DIR, "kmeans_centroids.parquet"))
    cells = kmeans_assign(v, centroids, id_col="vec_id", vec_col="v")
    ivf = ivf_topk(cells, q, k=5, nprobe=2, id_col="vec_id", vec_col="v", cell_col="cell", dim=64).select(
        "query_id", "neighbor_id"
    )
    hits = ivf.select(F.col("query_id").alias("h_qid"), F.col("neighbor_id").alias("hit_id"))
    return (
        exact.join(
            hits,
            (F.col("query_id") == F.col("h_qid")) & (F.col("neighbor_id") == F.col("hit_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("hit_id").cast("int").alias("n_hits"),
            round_half_up(F.count("hit_id") / F.lit(5.0), 4).alias("recall_at_5"),
        )
    )


# --------------------------------------------------------------------------------------
# V4/DEDUP — reciprocal best match within quantizer cells
# --------------------------------------------------------------------------------------
@query(
    "reciprocal_best_match",
    family="V4,DEDUP",
    doc="Mutual-nearest-neighbor pairs within committed k-means cells: each "
    "vector's best cosine match inside its cell (rounded-cosine rank, id "
    "tiebreak), kept only when the choice is RECIPROCAL — the classic "
    "high-precision duplicate/alignment signal (mutual-NN is the "
    "bitext-mining filter of Artetxe & Schwenk 2019).  The pair join is "
    "an equi-join on the cell key (never all-pairs); the mutual check is "
    "a self-join of the tiny (vec, best) relation on the reversed key.  "
    "Cells come from the committed quantizer fixture, so the query is "
    "sf-independent like ann_ivf_kmeans_topk.",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        km AS (SELECT cell, centroid FROM read_parquet('{AB_FIXTURE_DIR}/kmeans_centroids.parquet')),
        sc AS (
          SELECT v.vec_id, km.cell,
                 list_dot_product(v.v, km.centroid)
                   - 0.5 * list_dot_product(km.centroid, km.centroid) AS score
          FROM v, km
        ),
        asg AS (
          SELECT vec_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
            FROM sc
          ) WHERE rn = 1
        ),
        vc AS (SELECT a.vec_id, a.cell, v.v FROM asg a JOIN v USING (vec_id)),
        pairs AS (
          SELECT a.vec_id AS src, b.vec_id AS dst,
                 {sql_round_half_up(_COS, 4)} AS cos
          FROM vc a JOIN vc b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ),
        best AS (
          SELECT src, dst, cos FROM (
            SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
            FROM pairs
          ) WHERE rn = 1
        )
        SELECT x.src AS vec_a, x.dst AS vec_b, x.cos AS cosine_sim
        FROM best x JOIN best y ON y.src = x.dst AND y.dst = x.src
        WHERE x.src < x.dst
    """,
)
def reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..similarity.kmeans import kmeans_assign, load_centroids

    v = _vectors(spark, sf_dir).select("vec_id", "v")
    centroids = load_centroids(spark, os.path.join(AB_FIXTURE_DIR, "kmeans_centroids.parquet"))
    cells = kmeans_assign(v, centroids, id_col="vec_id", vec_col="v")

    # the within-cell best match is ONE normalized gemm per cell (the
    # semdedup_prune kernel shape) — a pair-expression join computed the
    # same c^2 cosines through interpreted array HOFs at ~10x the cost
    # (measured 25s -> 4s at sf0.1).  argmax over id-sorted columns
    # reproduces the (cos desc, dst asc) tie-break exactly.
    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        m = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        nrm = np.sqrt((m * m).sum(axis=1))
        unit = m / np.where(nrm == 0.0, 1.0, nrm)[:, None]
        cos = unit @ unit.T
        cos[nrm == 0.0, :] = 0.0
        cos[:, nrm == 0.0] = 0.0
        cos = np.floor(cos * 1e4 + 0.5) / 1e4
        np.fill_diagonal(cos, -np.inf)
        if len(ids) < 2:
            return pd.DataFrame({"src": ids[:0], "dst": ids[:0], "cos": np.array([])})
        best = cos.argmax(axis=1)  # first (= smallest id) among ties
        return pd.DataFrame(
            {"src": ids, "dst": ids[best], "cos": cos[np.arange(len(ids)), best]}
        )

    best = (
        cells.groupBy("cell")
        .applyInPandas(per_cell, "src LONG, dst LONG, cos DOUBLE")
        .localCheckpoint(eager=False)
    )
    rev = best.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    return (
        best.join(rev, ["src", "dst"], "left_semi")
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("vec_a"), F.col("dst").alias("vec_b"), F.col("cos").alias("cosine_sim"))
    )


# --------------------------------------------------------------------------------------
# V2/ML — per-class centroid prototypes
# --------------------------------------------------------------------------------------
@query(
    "class_centroids",
    family="V2,M5",
    doc="Per-label centroid of the embedding space — the nearest-class-mean "
    "prototype build (and the M-step of the committed k-means).  One "
    "posexplode + (label, dim) aggregate: the explode multiplies rows by "
    "the dimension count but partial aggregation reduces every partition "
    "to |labels| x dim cells before the exchange, so the shuffle carries "
    "only the centroid matrix.  Per-label support counts ride the same "
    "aggregate.",
    oracle=f"""
        WITH e AS (
          SELECT label, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS dim,
                 unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings
        )
        SELECT label, CAST(dim - 1 AS INTEGER) AS dim,
               {sql_round_half_up('avg(x)', 6)} AS mean,
               count(*) AS n
        FROM e GROUP BY label, dim
    """,
)
def class_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    return e.groupBy("label", "dim").agg(
        round_half_up(F.avg("x"), 6).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------------------
# V2/SRC — Arrow-native batch kernel (mapInArrow)
# --------------------------------------------------------------------------------------
@query(
    "arrow_vector_norms",
    family="V2",
    doc="L2 norm + first unit-vector component per embedding via "
    "``mapInArrow`` — the Arrow-NATIVE batch API: the kernel receives "
    "pyarrow RecordBatches and reshapes the list column to a (rows, dim) "
    "float matrix with zero pandas materialization, one numpy pass per "
    "batch.  The engine's third python-kernel tier after pandas UDFs and "
    "applyInPandas — for kernels that are pure array math, Arrow in/out "
    "skips the pandas conversion entirely.  Rounding inside the kernel "
    "uses the shared floor(x*1e6+0.5) form.",
    oracle="""
        SELECT vec_id,
               floor(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * 1000000 + 0.5) / 1000000 AS l2_norm,
               floor(CAST(embedding[1] AS DOUBLE) / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * 1000000 + 0.5) / 1000000 AS unit_first
        FROM embeddings
    """,
)
def arrow_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column("vec_id").to_numpy()
            lists = b.column("embedding")
            dim = len(lists[0])
            m = lists.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            m = m.reshape(len(ids), dim)
            norm = np.sqrt((m * m).sum(axis=1))
            unit_first = m[:, 0] / norm
            rnd = lambda x: np.floor(x * 1e6 + 0.5) / 1e6
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(rnd(norm)), pa.array(rnd(unit_first))],
                names=["vec_id", "l2_norm", "unit_first"],
            )

    return emb.mapInArrow(kernel, "vec_id LONG, l2_norm DOUBLE, unit_first DOUBLE")


# --------------------------------------------------------------------------------------
# V4/EVAL — Matryoshka truncation quality: recall@k of prefix-dim cosine search
# --------------------------------------------------------------------------------------
_MRL_DIMS = 16  # prefix dims retained (of 64)
_MRL_K = 10


@query(
    "matryoshka_recall_eval",
    family="V4,EVAL",
    doc=f"Matryoshka-embedding eval: recall@{_MRL_K} of brute-force cosine "
    f"search over the first {_MRL_DIMS} dims against the full-dimension "
    "ground truth, per query — the standard measurement before committing "
    "to truncated (cheaper) vectors at corpus scale (Kusupati et al. "
    "2022).  ONE broadcast-query pass computes BOTH similarities per "
    "corpus row (full and prefix cosine share the scan); two per-query "
    "rank windows pick the top-k sets; the intersection count is a "
    "per-query join on (query, neighbor).  Ranking uses the ROUNDED "
    "cosine with neighbor-id tie-break in both engines, so the k-boundary "
    "is cross-engine stable.  At 100 TB the same plan runs on a sampled "
    "query set; the corpus side stays one scan.",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pf AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {sql_round_half_up("list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))", 6)} AS cf,
                 {sql_round_half_up(f"list_dot_product(q.v[1:{_MRL_DIMS}], c.v[1:{_MRL_DIMS}]) / (sqrt(list_dot_product(q.v[1:{_MRL_DIMS}], q.v[1:{_MRL_DIMS}])) * sqrt(list_dot_product(c.v[1:{_MRL_DIMS}], c.v[1:{_MRL_DIMS}])))", 6)} AS ct
          FROM v q JOIN v c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 10
        ),
        rf AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id ORDER BY cf DESC, neighbor_id) AS r
               FROM pf),
        rt AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id ORDER BY ct DESC, neighbor_id) AS r
               FROM pf),
        f AS (SELECT query_id, neighbor_id FROM rf WHERE r <= {_MRL_K}),
        t AS (SELECT query_id, neighbor_id FROM rt WHERE r <= {_MRL_K})
        SELECT f.query_id, CAST(count(t.neighbor_id) AS BIGINT) AS n_common,
               {sql_round_half_up(f"count(t.neighbor_id) * 1.0 / {_MRL_K}", 4)} AS recall_at_k
        FROM f LEFT JOIN t ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
        GROUP BY f.query_id
    """,
)
def matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    tr = lambda c: F.slice(c, 1, _MRL_DIMS)  # noqa: E731
    pairs = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            round_half_up(cosine(F.col("qv"), F.col("v")), 6).alias("cf"),
            round_half_up(cosine(tr(F.col("qv")), tr(F.col("v"))), 6).alias("ct"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("cf"), F.asc("neighbor_id"))
    wt = Window.partitionBy("query_id").orderBy(F.desc("ct"), F.asc("neighbor_id"))
    full = (
        pairs.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= _MRL_K)
        .select("query_id", "neighbor_id")
    )
    trunc = (
        pairs.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= _MRL_K)
        .select("query_id", F.col("neighbor_id").alias("t_neighbor"))
    )
    j = full.join(
        trunc,
        (full.query_id == trunc.query_id) & (full.neighbor_id == trunc.t_neighbor),
        "left",
    ).select(full.query_id.alias("qid"), "t_neighbor")
    return j.groupBy(F.col("qid").alias("query_id")).agg(
        F.count("t_neighbor").alias("n_common"),
        round_half_up(F.count("t_neighbor") / F.lit(float(_MRL_K)), 4).alias("recall_at_k"),
    )
