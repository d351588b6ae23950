"""Corpus-curation queries — the data-mixture / repetition-filter /
incremental-dedup operations a large-scale pretraining pipeline runs over a
document corpus (task-brief scope beyond the reference's own surface; public
heuristics: Gopher repetition rules, Rae et al. 2021, arXiv:2112.11446 §A1.1).

All native column expressions over the driver ``documents`` table; every
query has a DuckDB oracle.

Scale notes: each query is one or two shuffles on (doc) or (source, lang) —
uniform high-cardinality or tiny-cardinality keys respectively.  The
cross-snapshot dedup joins the NEW slice (small) against the existing corpus
on content hash and on minhash band keys — both bucketed equi-joins, never a
cross product; at 100 TB the existing side stays parquet-partitioned on the
band key and the new batch broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import round_half_up, sql_round_half_up
from ..functions.text import (
    minhash_signature_aggs,
    minhash_signature_longs,
    repartition_if_narrow,
    sql_minhash_exprs,
    tokens,
)
from ..sources.tables import load_table, local_frame
from .registry import query


# --------------------------------------------------------------------------------------
# Gopher-style repetition filter
# --------------------------------------------------------------------------------------
_TOP_TOK_MAX = 0.20  # max fraction of tokens that may be one token type
_DUP_BIGRAM_MAX = 0.90  # max fraction of bigram occurrences that are repeats


@query(
    "gopher_repetition_filter",
    family="TXT,QUALITY",
    doc="Repetition-based quality gate (Gopher rules A1.1, arXiv:2112.11446): "
    "per doc, the most-frequent-token fraction and the duplicate-bigram "
    "fraction (1 - distinct/total); docs above either threshold are flagged "
    "for removal.  Two grouped aggs over the token/bigram streams — the "
    "max-per-group and countDistinct shapes every repetition rule reduces to.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
          FROM documents
        ),
        tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
        uni AS (
          SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok, count(*) AS n_types
          FROM tf GROUP BY doc_id
        ),
        big AS (
          SELECT doc_id, toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1] AS bg
          FROM (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
                   unnest(range(1, len(regexp_split_to_array(trim(text), '\\s+')))) AS i
            FROM documents
          )
        ),
        bstat AS (
          SELECT doc_id, count(*) AS n_big, count(DISTINCT bg) AS n_big_distinct
          FROM big GROUP BY doc_id
        )
        SELECT u.doc_id,
               {sql_round_half_up("u.top_c * 1.0 / u.n_tok", 4)} AS top_token_frac,
               {sql_round_half_up("1.0 - b.n_big_distinct * 1.0 / b.n_big", 4)} AS dup_bigram_frac,
               (u.top_c * 1.0 / u.n_tok > {_TOP_TOK_MAX}
                OR 1.0 - b.n_big_distinct * 1.0 / b.n_big > {_DUP_BIGRAM_MAX}) AS flagged
        FROM uni u JOIN bstat b USING (doc_id)
    """,
)
def gopher_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    tok = d.select("doc_id", F.explode(toks).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    uni = tf.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_tok"), F.count(F.lit(1)).alias("n_types")
    )
    bigram = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    big = d.select("doc_id", F.explode(bigram).alias("bg"))
    bstat = big.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_big"), F.countDistinct("bg").alias("n_big_distinct")
    )
    top_frac = F.col("top_c") * 1.0 / F.col("n_tok")
    dup_frac = 1.0 - F.col("n_big_distinct") * 1.0 / F.col("n_big")
    return uni.join(bstat, "doc_id").select(
        "doc_id",
        round_half_up(top_frac, 4).alias("top_token_frac"),
        round_half_up(dup_frac, 4).alias("dup_bigram_frac"),
        ((top_frac > _TOP_TOK_MAX) | (dup_frac > _DUP_BIGRAM_MAX)).alias("flagged"),
    )


# --------------------------------------------------------------------------------------
# Data-mixture report: the per-(source, lang) composition table
# --------------------------------------------------------------------------------------
@query(
    "corpus_mixture_report",
    family="A2,A9,TXT",
    doc="The data-mixture table every pretraining run is configured from: per "
    "(source, lang) document count, token total, and corpus share — one "
    "grouped agg plus a window share; the (source, lang) key is tiny so the "
    "final shuffle is a few rows regardless of corpus size.",
    oracle=f"""
        WITH d AS (
          SELECT source, lang,
                 len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
          FROM documents
        ),
        g AS (
          SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS n_tokens
          FROM d GROUP BY source, lang
        )
        SELECT source, lang, n_docs, n_tokens,
               {sql_round_half_up("n_tokens * 1.0 / (SELECT sum(n_tokens) FROM g)", 6)} AS token_share
        FROM g
    """,
)
def corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    g = d.select("source", "lang", F.size(tokens(F.col("text"))).alias("n_tok")).groupBy(
        "source", "lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    total = F.sum("n_tokens").over(Window.partitionBy())
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        round_half_up(F.col("n_tokens") * 1.0 / total, 6).alias("token_share"),
    )


# --------------------------------------------------------------------------------------
# Token-length histogram (log2 buckets) per language
# --------------------------------------------------------------------------------------
@query(
    "doc_length_buckets",
    family="A9,TXT",
    doc="Per-language document-length histogram in log2 token buckets — the "
    "shape packing/truncation budgets are tuned from.  floor(log2(n)) bucket "
    "key, one grouped agg.",
    oracle="""
        SELECT lang,
               CAST(floor(log2(greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1))) AS INTEGER) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents
        GROUP BY 1, 2
    """,
)
def doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.greatest(F.size(tokens(F.col("text"))), F.lit(1))
    bucket = F.floor(F.log2(n_tok)).cast("int")
    return d.groupBy("lang", bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------------------
# Cross-snapshot (incremental) dedup: new batch vs existing corpus
# --------------------------------------------------------------------------------------
_XS_HASHES = 4
_XS_BANDS = 2


def _xs_oracle() -> str:
    rows_per_band = _XS_HASHES // _XS_BANDS
    bands = []
    for b in range(_XS_BANDS):
        cols = " || '|' || ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        bands.append(f"SELECT doc, {b} AS band_idx, md5({cols}) AS band_hash FROM sig")
    return f"""
        WITH sh AS (
          SELECT doc_id AS doc, substr(text, CAST(i AS INTEGER), 5) AS s
          FROM (SELECT doc_id, text,
                       unnest(range(1, greatest(len(text) - 4, 1) + 1)) AS i
                FROM documents)
        ),
        sig AS (SELECT doc, {", ".join(sql_minhash_exprs("s", _XS_HASHES))} FROM sh GROUP BY doc),
        banded AS ({" UNION ALL ".join(bands)}),
        newb AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0),
        oldb AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 0),
        exact AS (
          SELECT DISTINCT n.doc_id FROM newb n JOIN oldb o ON n.h = o.h
        ),
        near AS (
          SELECT DISTINCT a.doc AS doc_id
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
          WHERE a.doc % 10 = 0 AND b.doc % 10 <> 0
        )
        SELECT n.doc_id,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'kept' END AS disposition
        FROM newb n
        LEFT JOIN exact e ON n.doc_id = e.doc_id
        LEFT JOIN near nr ON n.doc_id = nr.doc_id
    """


@query(
    "cross_snapshot_dedup",
    family="DEDUP,E2,J4",
    doc="Incremental corpus dedup: a NEW batch (doc_id % 10 = 0 slice) is "
    "checked against the EXISTING corpus — exact content-hash match first, "
    "then minhash band collision (4 hashes / 2 bands) for near-dups; each "
    "new doc gets kept / exact_dup / near_dup.  The asymmetric form of LSH "
    "dedup every snapshot-over-snapshot pipeline runs: both probes are "
    "bucketed equi-joins against the existing side, the new batch is the "
    "small relation, no cross product.",
    oracle=_xs_oracle(),
)
def cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import char_shingle_stream

    d = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 0
    newb = d.filter(is_new).select("doc_id", F.md5("text").alias("h"))
    oldb = d.filter(~is_new).select("doc_id", F.md5("text").alias("h"))
    exact = newb.join(oldb.select("h").distinct(), "h", "left_semi").select("doc_id")

    sh = char_shingle_stream(d, "doc_id", "text", 5)
    sig = (
        sh.groupBy("doc")
        .agg(*minhash_signature_aggs("s", _XS_HASHES))
        .select("doc", *minhash_signature_longs(_XS_HASHES))
    )
    rows_per_band = _XS_HASHES // _XS_BANDS
    band_structs = []
    for b in range(_XS_BANDS):
        cols = [F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *cols)).alias("band_hash"))
        )
    banded = sig.select("doc", F.explode(F.array(*band_structs)).alias("_b")).select(
        "doc", F.col("_b.band_idx").alias("band_idx"), F.col("_b.band_hash").alias("band_hash")
    ).localCheckpoint(eager=True)
    near = (
        banded.filter(F.col("doc") % 10 == 0)
        .join(
            banded.filter(F.col("doc") % 10 != 0).select("band_idx", "band_hash"),
            ["band_idx", "band_hash"],
            "left_semi",
        )
        .select(F.col("doc").alias("doc_id"))
        .distinct()
    )
    return (
        newb.select("doc_id")
        .join(exact.withColumn("_e", F.lit(1)), "doc_id", "left")
        .join(near.withColumn("_n", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e").isNotNull(), "exact_dup")
            .when(F.col("_n").isNotNull(), "near_dup")
            .otherwise("kept")
            .alias("disposition"),
        )
    )


# --------------------------------------------------------------------------------------
# The composed corpus-build pipeline: filter -> dedup -> pack, as ONE plan
# --------------------------------------------------------------------------------------
_CB_QUALITY_MIN = 0.5
_CB_PACK_BUDGET = 1024


def _cb_oracle() -> str:
    from ..functions.text import sql_quality_score

    rows_per_band = _XS_HASHES // _XS_BANDS
    bands = []
    for b in range(_XS_BANDS):
        cols = " || '|' || ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        bands.append(f"SELECT doc, {b} AS band_idx, md5({cols}) AS band_hash FROM sig")
    q = sql_quality_score("text")
    return f"""
        WITH d AS (
          SELECT doc_id, text, lang, source,
                 CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
          FROM documents
        ),
        tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM d),
        tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
        uni AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok FROM tf GROUP BY doc_id),
        big AS (
          SELECT doc_id, toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1] AS bg
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
                       unnest(range(1, len(regexp_split_to_array(trim(text), '\\s+')))) AS i
                FROM d)
        ),
        bstat AS (SELECT doc_id, count(*) AS n_big, count(DISTINCT bg) AS n_big_distinct
                  FROM big GROUP BY doc_id),
        staged AS (
          SELECT d.doc_id, d.source, d.n_tokens, md5(d.text) AS h,
                 CASE
                   WHEN d.lang <> 'en' THEN 'lang_filtered'
                   WHEN {sql_round_half_up(q, 4)} < {_CB_QUALITY_MIN} THEN 'low_quality'
                   WHEN {sql_round_half_up("uni.top_c * 1.0 / uni.n_tok", 4)} > {_TOP_TOK_MAX}
                     OR {sql_round_half_up("1.0 - bstat.n_big_distinct * 1.0 / bstat.n_big", 4)} > {_DUP_BIGRAM_MAX}
                     THEN 'repetitive'
                 END AS early_drop
          FROM d JOIN uni USING (doc_id) JOIN bstat USING (doc_id)
        ),
        s3 AS (SELECT * FROM staged WHERE early_drop IS NULL),
        exact_dup AS (
          SELECT a.doc_id FROM s3 a JOIN s3 b ON a.h = b.h AND b.doc_id < a.doc_id
          GROUP BY a.doc_id
        ),
        s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM exact_dup)),
        sh AS (
          SELECT doc_id AS doc, substr(text, CAST(i AS INTEGER), 5) AS s
          FROM (SELECT doc_id, text, unnest(range(1, greatest(len(text) - 4, 1) + 1)) AS i
                FROM documents WHERE doc_id IN (SELECT doc_id FROM s4))
        ),
        sig AS (SELECT doc, {", ".join(sql_minhash_exprs("s", _XS_HASHES))} FROM sh GROUP BY doc),
        banded AS ({" UNION ALL ".join(bands)}),
        near_dup AS (
          SELECT DISTINCT a.doc AS doc_id
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND b.doc < a.doc
        ),
        kept AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM near_dup)),
        packed AS (
          SELECT doc_id,
                 CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             - n_tokens) / {_CB_PACK_BUDGET}) AS INTEGER) AS pack_id
          FROM kept
        )
        SELECT st.doc_id, st.n_tokens,
               CASE WHEN st.early_drop IS NOT NULL THEN st.early_drop
                    WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'kept' END AS disposition,
               p.pack_id
        FROM staged st
        LEFT JOIN exact_dup e ON st.doc_id = e.doc_id
        LEFT JOIN near_dup nd ON st.doc_id = nd.doc_id
        LEFT JOIN packed p ON st.doc_id = p.doc_id
    """


@query(
    "corpus_build_pipeline",
    family="TXT,DEDUP,QUALITY,S1",
    doc="The pretraining corpus-build pipeline end-to-end as ONE plan — the "
    "LLM-data analog of ingest_pipeline_composed: language filter -> "
    "quality-score gate -> Gopher repetition gate -> exact content dedup "
    "(lowest id wins) -> conservative minhash-band near-dup drop (a doc "
    "drops if it band-collides with ANY lower-id exact-dedup survivor — "
    "deterministic and recursion-free, unlike greedy sequential LSH dedup) "
    "-> per-source sequential token packing of the kept set.  One row per "
    "input doc with its disposition and (for kept docs) pack id.",
    oracle=_cb_oracle(),
)
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import char_shingle_stream, quality_score

    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    base = d.select(
        "doc_id", "text", "lang", "source", F.size(toks).cast("long").alias("n_tokens"), F.md5("text").alias("h")
    )
    tok = d.select("doc_id", F.explode(toks).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    uni = tf.groupBy("doc_id").agg(F.max("c").alias("top_c"), F.sum("c").alias("n_tok"))
    bigram = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bstat = (
        d.select("doc_id", F.explode(bigram).alias("bg"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_big"), F.countDistinct("bg").alias("n_big_distinct"))
    )
    staged = (
        base.join(uni, "doc_id")
        .join(bstat, "doc_id")
        .withColumn(
            "early_drop",
            F.when(F.col("lang") != "en", "lang_filtered")
            .when(round_half_up(quality_score(F.col("text")), 4) < _CB_QUALITY_MIN, "low_quality")
            .when(
                (round_half_up(F.col("top_c") * 1.0 / F.col("n_tok"), 4) > _TOP_TOK_MAX)
                | (round_half_up(1.0 - F.col("n_big_distinct") * 1.0 / F.col("n_big"), 4) > _DUP_BIGRAM_MAX),
                "repetitive",
            ),
        )
        # drop the text column BEFORE checkpointing: the staged relation is
        # re-scanned by every later stage, and materializing full document
        # text in it would pin the corpus in executor storage — the gates
        # above are the last consumers of text here (shingles re-read from
        # the source scan)
        .drop("text")
        .localCheckpoint(eager=True)
    )
    s3 = staged.filter(F.col("early_drop").isNull())
    w_h = Window.partitionBy("h").orderBy("doc_id")
    exact_dup = (
        s3.withColumn("_rn", F.row_number().over(w_h)).filter(F.col("_rn") > 1).select("doc_id")
    )
    s4 = s3.join(exact_dup.withColumnRenamed("doc_id", "doc_id"), "doc_id", "left_anti")

    sh = char_shingle_stream(
        d.join(s4.select("doc_id"), "doc_id", "left_semi"), "doc_id", "text", 5
    )
    sig = (
        sh.groupBy("doc")
        .agg(*minhash_signature_aggs("s", _XS_HASHES))
        .select("doc", *minhash_signature_longs(_XS_HASHES))
    )
    rows_per_band = _XS_HASHES // _XS_BANDS
    band_structs = []
    for b in range(_XS_BANDS):
        cols = [F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *cols)).alias("band_hash"))
        )
    banded = sig.select("doc", F.explode(F.array(*band_structs)).alias("_b")).select(
        "doc", F.col("_b.band_idx").alias("band_idx"), F.col("_b.band_hash").alias("band_hash")
    ).localCheckpoint(eager=True)
    near_dup = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("b.doc") < F.col("a.doc")),
        )
        .select(F.col("a.doc").alias("doc_id"))
        .distinct()
    )
    kept = s4.join(near_dup, "doc_id", "left_anti")
    w_pack = Window.partitionBy("source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    packed = kept.select(
        "doc_id",
        F.floor((F.sum("n_tokens").over(w_pack) - F.col("n_tokens")) / _CB_PACK_BUDGET)
        .cast("int")
        .alias("pack_id"),
    )
    return (
        staged.join(exact_dup.withColumn("_e", F.lit(1)), "doc_id", "left")
        .join(near_dup.withColumn("_n", F.lit(1)), "doc_id", "left")
        .join(packed, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(F.col("early_drop").isNotNull(), F.col("early_drop"))
            .when(F.col("_e").isNotNull(), "exact_dup")
            .when(F.col("_n").isNotNull(), "near_dup")
            .otherwise("kept")
            .alias("disposition"),
            "pack_id",
        )
    )


# --------------------------------------------------------------------------------------
# Unigram language-model quality score — the CCNet-style perplexity gate
# (Wenzek et al. 2020, arXiv:1911.00359 §4.3) with the LM reduced to the
# corpus's own unigram distribution (no external model in the container; the
# join/agg shape is identical for a real KenLM table).
# --------------------------------------------------------------------------------------
@query(
    "unigram_logprob_quality",
    family="TXT,QUALITY",
    doc="Per-document mean unigram log-probability under the corpus's own "
    "unigram distribution, plus the perplexity-proxy exp(-meanlp) and a "
    "low-quality flag (mean lp < -3.5) — the CCNet perplexity-filter shape. "
    "Two shuffles: the vocab agg (map-side combined; Zipf keeps the vocab "
    "tiny relative to the corpus so it BROADCASTS back onto the token "
    "stream), then the per-doc agg on the uniform doc_id key.  With a "
    "shipped KenLM/unigram table the first agg disappears entirely.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
          FROM documents
        ),
        freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        tot AS (SELECT sum(c) AS n FROM freq),
        scored AS (
          SELECT tok.doc_id,
                 count(*) AS n_tok,
                 avg(ln(freq.c) - ln(tot.n)) AS mean_lp
          FROM tok JOIN freq USING (t), tot
          GROUP BY tok.doc_id
        )
        SELECT doc_id,
               CAST(n_tok AS BIGINT) AS n_tok,
               {sql_round_half_up('mean_lp', 4)} AS mean_logprob,
               {sql_round_half_up('exp(-mean_lp)', 2)} AS ppl_proxy,
               mean_lp < -3.5 AS low_quality
        FROM scored
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    # materialize the Zipf-small vocab counts ONCE — without this, the total
    # and the per-token table each re-scan and re-explode the corpus
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=True)
    tot = freq.agg(F.sum("c").alias("n"))
    lp_table = freq.crossJoin(F.broadcast(tot)).select(
        "t", (F.log("c") - F.log("n")).alias("lp")
    )
    scored = (
        tok.join(F.broadcast(lp_table), "t")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.avg("lp").alias("mean_lp"))
    )
    return scored.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        round_half_up(F.col("mean_lp"), 4).alias("mean_logprob"),
        round_half_up(F.exp(-F.col("mean_lp")), 2).alias("ppl_proxy"),
        (F.col("mean_lp") < -3.5).alias("low_quality"),
    )


# --------------------------------------------------------------------------------------
# Deterministic mixture resampling — reweight the corpus to a target source
# mixture under a global token budget (the DoReMi/The-Pile "mixture weights"
# step, executed as hash sampling so membership is a pure function of the row).
# --------------------------------------------------------------------------------------
@query(
    "mixture_resample",
    family="E5,QUALITY",
    doc="Resample the corpus to a TARGET source mixture under a 50% global "
    "budget: per-source keep-rate = min(1, budget * weight_share / n_docs) "
    "(even-numbered sources get weight 2, odd weight 1), membership decided "
    "by the doc's md5-uniform — reruns and incremental batches agree with "
    "no RNG state.  One tiny per-source agg (20 rows, broadcast back); the "
    "keep decision is scan-side.  This is the mixture-weighting pass a "
    "pretraining pipeline runs after quality filtering.",
    oracle="""
        WITH w AS (
          SELECT source, count(*) AS n_s,
                 CASE WHEN CAST(replace(source, 'src', '') AS INTEGER) % 2 = 0
                      THEN 2.0 ELSE 1.0 END AS wt
          FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(n_s) AS n_total, sum(wt) AS w_total FROM w),
        rates AS (
          SELECT source, least(1.0, 0.5 * tot.n_total * w.wt / tot.w_total / w.n_s) AS rate
          FROM w, tot
        )
        SELECT d.doc_id, d.source,
               round(rates.rate, 4) AS keep_rate,
               (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER) / 65536.0)
                 < rates.rate AS kept
        FROM documents d JOIN rates USING (source)
    """,
)
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s")).withColumn(
        "wt",
        F.when(F.regexp_replace("source", "src", "").cast("int") % 2 == 0, F.lit(2.0)).otherwise(
            F.lit(1.0)
        ),
    )
    tot = w.agg(F.sum("n_s").alias("n_total"), F.sum("wt").alias("w_total"))
    rates = w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(0.5) * F.col("n_total") * F.col("wt") / F.col("w_total") / F.col("n_s"),
        ).alias("rate"),
    )
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("double") / F.lit(65536.0)
    return (
        d.join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            F.round(F.col("rate"), 4).alias("keep_rate"),
            (u < F.col("rate")).alias("kept"),
        )
    )


# --------------------------------------------------------------------------------------
# Tokenizer induction: the first BPE merge round — corpus-global adjacent-pair
# counts (Sennrich et al. 2016, arXiv:1508.07909).  On words instead of bytes
# here, but the plan is the BPE trainer's inner loop: explode adjacent pairs,
# one global count, top-k.
# --------------------------------------------------------------------------------------
@query(
    "bpe_pair_merge",
    family="TXT",
    doc="Corpus-global adjacent-token-pair frequencies, top-20 by count — "
    "one BPE merge-selection round.  zip_with(slice, slice) builds the "
    "pair stream without a self-join; ONE map-side-combined agg on the pair "
    "key; top-k via the count-desc/pair-asc total order.  The real trainer "
    "iterates this plan with the chosen merge applied — each round is the "
    "same shuffle shape.",
    oracle="""
        WITH big AS (
          SELECT toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1] AS pair
          FROM (
            SELECT regexp_split_to_array(trim(text), '\\s+') AS toks,
                   unnest(range(1, len(regexp_split_to_array(trim(text), '\\s+')))) AS i
            FROM documents
          )
        )
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM big GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT 20
    """,
)
def bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


# --------------------------------------------------------------------------------------
# Source-distribution drift — KL(source || corpus) over the token unigram
# distributions: the monitoring statistic a data pipeline tracks per incoming
# source/snapshot to catch distribution shift before training on it.
# --------------------------------------------------------------------------------------
@query(
    "kl_source_drift",
    family="TXT,QUALITY",
    doc="Per-source KL divergence of the source's unigram distribution from "
    "the corpus-wide distribution — the drift statistic monitored per "
    "source/snapshot.  One grouped count on (source, token), then the "
    "corpus marginals derive from THAT aggregate (no second corpus scan); "
    "the vocab-sized marginal table broadcasts back and the final agg is "
    "per-source.  Zero-probability terms can't arise (every source token "
    "is in the corpus by construction).",
    oracle=f"""
        WITH tok AS (
          SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
          FROM documents
        ),
        st AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
        s_tot AS (SELECT source, sum(c) AS n_s FROM st GROUP BY source),
        g AS (SELECT t, sum(c) AS cg FROM st GROUP BY t),
        g_tot AS (SELECT sum(cg) AS n FROM g)
        SELECT st.source,
               CAST(s_tot.n_s AS BIGINT) AS n_tokens,
               {sql_round_half_up('sum((st.c * 1.0 / s_tot.n_s) * ln((st.c * 1.0 / s_tot.n_s) / (g.cg * 1.0 / g_tot.n)))', 4)} AS kl_divergence
        FROM st
        JOIN s_tot USING (source)
        JOIN g USING (t), g_tot
        GROUP BY st.source, s_tot.n_s
    """,
)
def kl_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    # materialize the (source, token) counts ONCE — four downstream branches
    # (marginals, totals, final agg) reuse this |sources| x |vocab| row table
    # instead of re-scanning and re-exploding the corpus per branch
    st = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=True)
    s_tot = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    g = st.groupBy("t").agg(F.sum("c").alias("cg"))
    g_tot = g.agg(F.sum("cg").alias("n"))
    gm = g.crossJoin(F.broadcast(g_tot))
    term = (F.col("c") * 1.0 / F.col("n_s")) * F.log(
        (F.col("c") * 1.0 / F.col("n_s")) / (F.col("cg") * 1.0 / F.col("n"))
    )
    return (
        st.join(F.broadcast(s_tot), "source")
        .join(F.broadcast(gm), "t")
        .groupBy("source", "n_s")
        .agg(round_half_up(F.sum(term), 4).alias("kl_divergence"))
        .select("source", F.col("n_s").cast("long").alias("n_tokens"), "kl_divergence")
    )


# --------------------------------------------------------------------------------------
# Multimodal payload bookkeeping — the metadata pass every media pipeline
# runs BEFORE any decode: size, content digest, sniffed type, chunk count.
# The decode kernels themselves stay pytest-gated stubs (codec libraries are
# not in the container — operators/multimodal.py); this query puts the
# binary-column plumbing (typed bytes in, narrow typed metadata out, payload
# never crossing a shuffle) under the driver's oracle gate.
# --------------------------------------------------------------------------------------
@query(
    "binary_payload_stats",
    family="MM,QUALITY",
    doc="Opaque-binary payload statistics: byte length, md5 content digest, "
    "a digest-derived type tag (stand-in for magic-byte sniffing — "
    "deterministic in both engines), and the 4 KiB chunk count a "
    "content-chunked store would produce.  Documents' text re-encoded as "
    "UTF-8 bytes stands in for the media payload.  Pure scan-side "
    "projection: the binary column never reaches a shuffle (the multimodal "
    "rule — repartition on (id, meta) happens BEFORE payloads are decoded, "
    "and only narrow typed features leave the kernel).",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5,
               CASE CAST(('0x' || substr(md5(text), 1, 1)) AS INTEGER) % 3
                    WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS sniffed_mime,
               CAST(ceil(octet_length(encode(text)) / 4096.0) AS BIGINT) AS n_chunks
        FROM documents
    """,
)
def binary_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    digest = F.md5(payload)
    tag = F.conv(F.substring(digest, 1, 1), 16, 10).cast("int") % 3
    return d.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        digest.alias("payload_md5"),
        F.when(tag == 0, F.lit("image/png"))
        .when(tag == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("sniffed_mime"),
        F.ceil(F.length(payload) / F.lit(4096.0)).cast("long").alias("n_chunks"),
    )


# --------------------------------------------------------------------------------------
_ES_U_SQL = (
    "ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) + 1)"
    " / 65537.0) / n_chars"
)


# Weighted sampling without replacement — Efraimidis-Spirakis (2006) order
# sampling with deterministic hash uniforms: the data-selection pass that
# picks k docs per stratum with probability proportional to weight.
# --------------------------------------------------------------------------------------
@query(
    "weighted_sample_topk",
    family="E5,QUALITY",
    doc="Exact-size weighted sample per source: Efraimidis-Spirakis order "
    "sampling, key = ln(u)/w (monotone in u^(1/w)) with u the doc's "
    "md5-uniform and w = n_chars, top-5 keys per source.  Deterministic — "
    "membership is a pure function of the row, so retries and incremental "
    "runs agree (the same property stratified_sample/mixture_resample "
    "build on, here with exact output size and weight-proportional "
    "inclusion).  One window top-k per stratum (WindowGroupLimit pushes "
    "the limit below the sort); rounding before ranking keeps cross-engine "
    "rank parity.",
    oracle=f"""
        WITH k AS (
          SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
                 {sql_round_half_up(_ES_U_SQL, 10)} AS es_key
          FROM documents
        )
        SELECT doc_id, source, weight, CAST(rn AS INTEGER) AS sample_rank
        FROM (
          SELECT *, row_number() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rn
          FROM k
        ) WHERE rn <= 5
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("double") + 1) / F.lit(65537.0)
    key = round_half_up(F.log(u) / F.col("n_chars"), 10)
    k = d.select("doc_id", "source", F.col("n_chars").cast("long").alias("weight"), key.alias("es_key"))
    w = Window.partitionBy("source").orderBy(F.desc("es_key"), F.asc("doc_id"))
    return (
        k.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "source", "weight", F.col("rn").cast("int").alias("sample_rank"))
    )


# --------------------------------------------------------------------------------------
# CORPUS — quantile normalization of a per-source metric onto the global distribution
# --------------------------------------------------------------------------------------
@query(
    "quantile_normalize_source",
    family="CORPUS,V2",
    doc="Quantile normalization (the microarray-normalization transform): "
    "each document's n_chars is replaced by the GLOBAL n_chars value at "
    "the same within-source quantile, aligning every source's length "
    "distribution to the corpus-wide one.  Entirely integer-exact: "
    "within-source rank r of n_s maps to global rank ceil(r*N/n_s) via "
    "(r*N + n_s - 1) DIV n_s, then a join against the globally ranked "
    "relation carries the value — no float interpolation anywhere.  The "
    "global ranking runs as the two-pass range-partitioned prefix-sum "
    "rank (functions/rank.py: sort by value, per-partition counts, "
    "broadcast offsets) — byte-identical to row_number() OVER (ORDER BY) "
    "with no single-partition window.",
    oracle="""
        WITH g AS (
          SELECT n_chars AS gval,
                 row_number() OVER (ORDER BY n_chars, doc_id) AS gidx
          FROM documents
        ),
        n AS (SELECT count(*) AS total FROM documents),
        r AS (
          SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
                 count(*) OVER (PARTITION BY source) AS n_s
          FROM documents
        )
        SELECT r.doc_id, r.source, r.n_chars,
               g.gval AS normalized
        FROM r CROSS JOIN n
        JOIN g ON g.gidx = (r.rk * n.total + r.n_s - 1) // r.n_s
    """,
)
def quantile_normalize_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.rank import global_row_number

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    # global reference ranking via the two-pass range-partitioned row_number
    # (functions/rank.py) — no single-partition window
    g = global_row_number(d, "n_chars", "doc_id", out_col="gidx").select(
        F.col("n_chars").alias("gval"), "gidx"
    )
    n = d.agg(F.count(F.lit(1)).alias("total"))
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("source")
    r = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n_s"),
    )
    # integer division: Spark's / is float — use the SQL DIV operator
    r = r.crossJoin(F.broadcast(n)).withColumn(
        "gidx", F.expr("CAST((rk * total + n_s - 1) DIV n_s AS BIGINT)")
    )
    return r.join(g, "gidx").select("doc_id", "source", "n_chars", F.col("gval").alias("normalized"))


# --------------------------------------------------------------------------------------
# CORPUS — distinctive terms per source (Dunning log-likelihood keyness)
# --------------------------------------------------------------------------------------

# the 2x2-contingency LLR as ONE SQL expression evaluated verbatim by BOTH
# engines (identical parse -> identical float ops): cells (a = term-in-source,
# b = term-elsewhere, c = other-terms-in-source, d = other-terms-elsewhere),
# zero cells contribute 0 by the x*ln(x) -> 0 limit
_LLR_EXPR = (
    # CAST(...AS DOUBLE) everywhere, never `* 1.0`: Spark parses the 1.0
    # literal as DECIMAL and the whole ratio silently truncates to 6-digit
    # decimal scale (measured: llr off by 1e-2); DuckDB parses it as double.
    # Explicit casts make both engines run the identical float pipeline.
    "CAST(2 AS DOUBLE) * ("
    "  CASE WHEN a > 0 THEN a * ln(CAST(a AS DOUBLE) * nn / (CAST(r1 AS DOUBLE) * c1)) ELSE CAST(0 AS DOUBLE) END"
    "+ CASE WHEN b > 0 THEN b * ln(CAST(b AS DOUBLE) * nn / (CAST(r2 AS DOUBLE) * c1)) ELSE CAST(0 AS DOUBLE) END"
    "+ CASE WHEN c > 0 THEN c * ln(CAST(c AS DOUBLE) * nn / (CAST(r1 AS DOUBLE) * c2)) ELSE CAST(0 AS DOUBLE) END"
    "+ CASE WHEN d > 0 THEN d * ln(CAST(d AS DOUBLE) * nn / (CAST(r2 AS DOUBLE) * c2)) ELSE CAST(0 AS DOUBLE) END"
    ")"
)
_KEYNESS_TOP = 5


@query(
    "source_keyness_llr",
    family="CORPUS,TXT",
    doc=f"Top-{_KEYNESS_TOP} distinctive terms per source by Dunning (1993) "
    "log-likelihood keyness over the 2x2 term-by-source contingency "
    "table.  One (source, term) count aggregate; term totals and source "
    "totals broadcast back onto it; the LLR arithmetic is a single SQL "
    "expression string evaluated verbatim by both engines so the float "
    "path is identical.  Ranking on the ROUNDED score with term "
    "tiebreak.",
    oracle=f"""
        WITH tok AS (
          SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
          FROM documents
        ),
        st AS (SELECT source, term, count(*) AS a FROM tok GROUP BY source, term),
        tt AS (SELECT term, count(*) AS c1 FROM tok GROUP BY term),
        srct AS (SELECT source, count(*) AS r1 FROM tok GROUP BY source),
        nn_t AS (SELECT count(*) AS nn FROM tok),
        cells AS (
          SELECT st.source, st.term, st.a, tt.c1, srct.r1, nn_t.nn,
                 tt.c1 - st.a AS b, srct.r1 - st.a AS c,
                 nn_t.nn - tt.c1 AS c2, nn_t.nn - srct.r1 AS r2,
                 nn_t.nn - tt.c1 - srct.r1 + st.a AS d
          FROM st JOIN tt USING (term) JOIN srct USING (source) CROSS JOIN nn_t
        ),
        scored AS (
          SELECT source, term, a AS n_in_source,
                 {sql_round_half_up(_LLR_EXPR, 4)} AS llr
          FROM cells
        )
        SELECT source, term, n_in_source, llr, CAST(rn AS INTEGER) AS term_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY source ORDER BY llr DESC, term) AS rn
          FROM scored
        ) WHERE rn <= {_KEYNESS_TOP}
    """,
)
def source_keyness_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("a"))
    tt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    srct = tok.groupBy("source").agg(F.count(F.lit(1)).alias("r1"))
    nn = tok.agg(F.count(F.lit(1)).alias("nn"))
    cells = (
        st.join(tt, "term")
        .join(F.broadcast(srct), "source")
        .crossJoin(F.broadcast(nn))
        .withColumn("b", F.col("c1") - F.col("a"))
        .withColumn("c", F.col("r1") - F.col("a"))
        .withColumn("c2", F.col("nn") - F.col("c1"))
        .withColumn("r2", F.col("nn") - F.col("r1"))
        .withColumn("d", F.col("nn") - F.col("c1") - F.col("r1") + F.col("a"))
    )
    scored = cells.select(
        "source",
        "term",
        F.col("a").alias("n_in_source"),
        round_half_up(F.expr(_LLR_EXPR), 4).alias("llr"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("llr"), "term")
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= _KEYNESS_TOP)
        .select("source", "term", "n_in_source", "llr", F.col("term_rank").cast("int"))
    )


# --------------------------------------------------------------------------------------
# CCNet-style paragraph-level dedup (Wenzek et al. 2020, arXiv:1911.00359 §3.2:
# dedup at paragraph granularity removes boilerplate exact-dup text that
# document-level hashing misses).  Paragraph = non-overlapping 20-token window
# (this corpus carries no newline structure).  First occurrence corpus-wide
# (ordered by doc_id, then position) survives; the report is per-doc retention.
# Scale shape: the paragraph build is a narrow scan-side projection; ONE
# shuffle on the 8-byte paragraph hash feeds the first-occurrence window (df
# per hash is corpus-bounded); the per-doc rollup re-shuffles only
# (doc_id, flag) pairs.
# --------------------------------------------------------------------------------------
_PARA_W = 20


@query(
    "paragraph_dedup",
    family="DEDUP,TXT",
    doc=f"Per-doc paragraph-dedup retention report ({_PARA_W}-token "
    "non-overlapping paragraphs, corpus-wide first occurrence by (doc_id, "
    "position) survives): n_paras, n_kept, kept_frac.  The dedup key is the "
    "xxhash64 of the paragraph (8-byte shuffle key); a collision would "
    "surface against the string-exact oracle.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
        ),
        para AS (
          SELECT doc_id, k,
                 list_aggregate(toks[CAST({_PARA_W} * k + 1 AS INTEGER):CAST({_PARA_W} * k + {_PARA_W} AS INTEGER)],
                                'string_agg', ' ') AS para
          FROM (
            SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(len(toks) / {_PARA_W}.0) AS BIGINT))) AS k
            FROM tok
          )
        ),
        ranked AS (
          SELECT doc_id, k,
                 row_number() OVER (PARTITION BY para ORDER BY doc_id, k) AS rn
          FROM para
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_paras,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               {sql_round_half_up('sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0 / count(*)', 4)} AS kept_frac
        FROM ranked GROUP BY doc_id
    """,
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    n_paras = F.ceil(F.size("toks") / F.lit(float(_PARA_W))).cast("int")
    paras = (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(F.sequence(F.lit(0), n_paras - 1)).alias("k"), "toks")
        .select(
            "doc_id",
            "k",
            F.xxhash64(F.array_join(F.slice("toks", F.col("k") * _PARA_W + 1, _PARA_W), " ")).alias("h"),
        )
    )
    w = Window.partitionBy("h").orderBy("doc_id", "k")
    ranked = paras.select("doc_id", (F.row_number().over(w) == 1).cast("int").alias("kept"))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum("kept").cast("long").alias("n_kept"),
        round_half_up(F.sum("kept") * F.lit(1.0) / F.count(F.lit(1)), 4).alias("kept_frac"),
    )


# --------------------------------------------------------------------------------------
# Multimodal — REAL WAV codec round trip (stdlib PCM16 encode -> decode -> features)
# --------------------------------------------------------------------------------------
_WAV_IDS = 50
_WAV_RATE = 8000


@query(
    "wav_decode_features",
    family="MM,S11",
    doc=f"A REAL audio codec path for the multimodal surface (no external "
    "library — canonical RIFF/WAVE PCM16 via stdlib struct): per media id, "
    "deterministic LCG samples encode into genuine WAV binary (44-byte "
    "header + int16 frames, Arrow-batched pandas UDF), a mapInPandas "
    "kernel DECODES the binary back (magic/fmt/bit-depth validated) and "
    "emits narrow typed features (n_samples, sample_rate, RMS, "
    "zero-crossings).  The oracle recomputes every feature from the "
    "closed-form sample formula, so a hash match certifies the whole "
    "binary round trip: header layout, byte order, sample fidelity, "
    "feature math.  Scale: payloads never shuffle (generate -> decode "
    "inside one stage); only the typed features move.",
    oracle=f"""
        WITH ids AS (SELECT unnest(range(0, {_WAV_IDS})) AS media_id),
        s AS (
          SELECT media_id, i,
                 CAST(((media_id * 1103515245 + i * 12345) % 65536) - 32768 AS BIGINT) AS v
          FROM (SELECT media_id, unnest(range(0, 200 + CAST(media_id % 5 AS INTEGER) * 40)) AS i FROM ids)
        ),
        f AS (
          SELECT media_id,
                 CAST(count(*) AS INTEGER) AS n_samples,
                 floor(sqrt(sum(v * v) * 1.0 / count(*)) * 10000 + 0.5) / 10000 AS rms,
                 CAST(sum(CASE WHEN i > 0 AND ((v < 0) <> (lagv < 0)) THEN 1 ELSE 0 END) AS INTEGER) AS n_zero_cross
          FROM (SELECT media_id, i, v, lag(v) OVER (PARTITION BY media_id ORDER BY i) AS lagv FROM s)
          GROUP BY media_id
        )
        SELECT media_id, n_samples, {_WAV_RATE} AS sample_rate, rms, n_zero_cross FROM f
    """,
)
def wav_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..operators.multimodal import encode_wav_pcm16, wav_audio_features

    def _synth(media_id):
        def build(mid: int) -> bytes:
            n = 200 + (mid % 5) * 40
            samples = [((mid * 1103515245 + i * 12345) % 65536) - 32768 for i in range(n)]
            return encode_wav_pcm16(samples, _WAV_RATE)

        return media_id.map(build)

    # module-level `from __future__ import annotations` stringifies hints,
    # which pandas_udf cannot resolve — set real annotations explicitly
    _synth.__annotations__ = {"media_id": pd.Series, "return": pd.Series}
    synth_wav = pandas_udf(_synth, T.BinaryType())

    # bounded fan-out: spark.range defaults to defaultParallelism (32)
    # partitions for these 50 ids, and this stage runs TWO Python runners
    # per task (synth pandas_udf + decode mapInPandas) — 64 worker forks
    # for 50 rows.  That pool expansion was the slow mode of a measured
    # 5x bimodality (r9 verdict #2: 0.54s vs 2.78s); 8 partitions keep
    # the kernel parallel while the worker demand stays inside the warm
    # pool.  At real scale the media table arrives partitioned by the
    # source, so the fixed count only affects this synthetic corpus.
    media = spark.range(0, _WAV_IDS, 1, 8).select(
        F.col("id").alias("media_id"), synth_wav(F.col("id")).alias("payload")
    )
    feats = wav_audio_features(media)
    return feats.select(
        "media_id",
        "n_samples",
        "sample_rate",
        round_half_up(F.col("rms"), 4).alias("rms"),
        "n_zero_cross",
    )


# --------------------------------------------------------------------------------------
# Multimodal — REAL PGM image codec round trip (encode -> decode -> ahash features)
# --------------------------------------------------------------------------------------
_PGM_IDS = 50
_PGM_W = 16
_PGM_H = 16


@query(
    "pgm_decode_features",
    family="MM,S11",
    doc="The image twin of wav_decode_features — a REAL netpbm P5 codec "
    f"(stdlib only): {_PGM_W}x{_PGM_H} LCG rasters encode into genuine "
    "binary PGM (ASCII header + raster bytes, pandas UDF), a mapInPandas "
    "kernel decodes them back (magic/maxval/length validated) and emits "
    "width, height, mean luma and the 64-bit 8x8 average-hash — the "
    "classic perceptual near-dup key for image corpora.  The oracle "
    "recomputes the raster, the block means and the hash bits from the "
    "closed-form pixel formula (HUGEINT shifts, then two's-complement "
    "fold to signed BIGINT), so the hash match certifies header layout, "
    "raster order, and every ahash bit.",
    oracle=f"""
        WITH ids AS (SELECT unnest(range(0, {_PGM_IDS})) AS media_id),
        px AS (
          SELECT media_id, i,
                 CAST((media_id * 131 + i * 31) % 256 AS BIGINT) AS p,
                 CAST(i % {_PGM_W} AS BIGINT) // {_PGM_W // 8} AS bx,
                 CAST(i // {_PGM_W} AS BIGINT) // {_PGM_H // 8} AS by
          FROM (SELECT media_id, unnest(range(0, {_PGM_W * _PGM_H})) AS i FROM ids)
        ),
        g AS (SELECT media_id, sum(p) * 1.0 / count(*) AS gmean FROM px GROUP BY media_id),
        blocks AS (
          SELECT media_id, by, bx, sum(p) * 1.0 / count(*) AS bmean
          FROM px GROUP BY media_id, by, bx
        ),
        h AS (
          SELECT b.media_id,
                 sum(CASE WHEN b.bmean > g.gmean
                          THEN CAST(1 AS HUGEINT) << CAST(b.by * 8 + b.bx AS INTEGER)
                          ELSE CAST(0 AS HUGEINT) END) AS uhash
          FROM blocks b JOIN g ON g.media_id = b.media_id
          GROUP BY b.media_id
        )
        SELECT h.media_id,
               {_PGM_W} AS width, {_PGM_H} AS height,
               floor(g.gmean * 10000 + 0.5) / 10000 AS mean_luma,
               CAST(h.uhash - CASE WHEN h.uhash >= CAST(1 AS HUGEINT) << 63
                                   THEN CAST(1 AS HUGEINT) << 64
                                   ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS ahash
        FROM h JOIN g ON g.media_id = h.media_id
    """,
)
def pgm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..operators.multimodal import encode_pgm, pgm_image_features

    def _synth(media_id):
        def build(mid: int) -> bytes:
            pixels = [(mid * 131 + i * 31) % 256 for i in range(_PGM_W * _PGM_H)]
            return encode_pgm(pixels, _PGM_W, _PGM_H)

        return media_id.map(build)

    _synth.__annotations__ = {"media_id": pd.Series, "return": pd.Series}
    synth_pgm = pandas_udf(_synth, T.BinaryType())

    # bounded fan-out, same rationale as wav_decode_features above
    media = spark.range(0, _PGM_IDS, 1, 8).select(
        F.col("id").alias("media_id"), synth_pgm(F.col("id")).alias("payload")
    )
    feats = pgm_image_features(media)
    return feats.select(
        "media_id",
        "width",
        "height",
        round_half_up(F.col("mean_luma"), 4).alias("mean_luma"),
        "ahash",
    )


# --------------------------------------------------------------------------------------
# Observation API — single-pass audit telemetry on a quality gate.
# A 100 TB filter stage must report what it dropped WITHOUT a second scan;
# Spark's Observation/observe() collects named aggregates as the rows
# stream through the SAME pass that applies the gate (metrics ride the
# task-completion events — zero extra jobs, zero extra scans).  Two
# observation points (pre-gate, post-gate) bracket the filter; the query
# emits their metrics as the audit row.  The DuckDB oracle recomputes the
# same aggregates declaratively, pinning the observed values exactly.
# --------------------------------------------------------------------------------------
_OBS_MIN_CHARS = 120
_OBS_MIN_ALPHA = 0.55


@query(
    "observed_quality_gate",
    family="CORPUS,DQ",
    doc=f"Quality gate (n_chars >= {_OBS_MIN_CHARS}, alpha ratio >= "
    f"{_OBS_MIN_ALPHA}) with Observation-API audit metrics collected in "
    "the SAME pass: rows scanned/kept, kept-char sum, mean alpha ratio "
    "of kept docs (rounded half-up 4).",
    oracle=f"""
        WITH scored AS (
          SELECT n_chars,
                 CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1) AS alpha
          FROM documents
        ),
        kept AS (
          SELECT * FROM scored
          WHERE n_chars >= {_OBS_MIN_CHARS} AND alpha >= {_OBS_MIN_ALPHA}
        )
        SELECT (SELECT count(*) FROM scored) AS n_scanned,
               (SELECT count(*) FROM kept) AS n_kept,
               (SELECT CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM kept) AS kept_chars,
               {sql_round_half_up('(SELECT avg(alpha) FROM kept)', 4)} AS kept_alpha_mean,
               {sql_round_half_up(
                   '(SELECT count(*) FROM kept) * 1.0 / (SELECT count(*) FROM scored)', 4)} AS kept_ratio
    """,
)
def observed_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    d = load_table(spark, sf_dir, "documents").select("text", "n_chars")
    alpha = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    scored = d.select("n_chars", alpha.alias("alpha"))

    pre = Observation("pre_gate")
    post = Observation("post_gate")
    gated = (
        scored.observe(pre, F.count(F.lit(1)).alias("n_scanned"))
        .filter((F.col("n_chars") >= _OBS_MIN_CHARS) & (F.col("alpha") >= _OBS_MIN_ALPHA))
        .observe(
            post,
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
            F.avg("alpha").alias("kept_alpha_mean"),
        )
    )
    # ONE action drives the gate and populates both observations — the
    # audit needs no second scan; downstream stages would consume `gated`
    gated.write.format("noop").mode("overwrite").save()
    m = {**pre.get, **post.get}
    # Mirror the oracle's NULL handling on the empty edge cases: sum/avg over
    # zero kept rows observe as None (oracle: coalesce(sum,0) / NULL avg), and
    # an empty table makes the ratio NULL rather than raising ZeroDivisionError.
    n_scanned, n_kept = int(m["n_scanned"]), int(m["n_kept"])
    row = [
        (
            n_scanned,
            n_kept,
            int(m["kept_chars"] or 0),
            float(m["kept_alpha_mean"]) if n_kept > 0 else None,
            n_kept / n_scanned if n_scanned > 0 else None,
        )
    ]
    out = local_frame(
        spark,
        row,
        "n_scanned BIGINT, n_kept BIGINT, kept_chars BIGINT, kept_alpha_mean DOUBLE, kept_ratio DOUBLE",
    )
    return out.select(
        "n_scanned",
        "n_kept",
        "kept_chars",
        round_half_up(F.col("kept_alpha_mean"), 4).alias("kept_alpha_mean"),
        round_half_up(F.col("kept_ratio"), 4).alias("kept_ratio"),
    )
