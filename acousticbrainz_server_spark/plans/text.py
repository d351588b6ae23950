"""Text-analysis queries over the ``documents`` table (training-data pipeline
operators: token counting, quality scoring, language-ID, MinHash fingerprints).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import round_half_up, sql_round_half_up
from ..functions.text import (
    lang_id,
    lang_scores,
    minhash_signature_aggs,
    minhash_signature_longs,
    punct_count,
    quality_score,
    sql_lang_id,
    sql_quality_score,
    stopword_count,
    token_count,
    tokens,
    char_shingles,
    repartition_if_narrow,
)
from ..sources.tables import load_table
from .registry import query


@query(
    "token_stats",
    family="TXT",
    doc="Token counting + char stats per document (whitespace tokenizer).",
    oracle="""
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_computed
        FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


@query(
    "text_quality",
    family="TXT",
    doc="Composite quality score: length saturation + stopword ratio - "
    "punctuation noise, the usual pretraining-corpus quality gates.",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is)\\b')) AS INTEGER) AS n_stopwords,
               CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct,
               {sql_round_half_up(sql_quality_score('text'), 4)} AS quality
        FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        stopword_count(F.col("text")).cast("int").alias("n_stopwords"),
        punct_count(F.col("text")).cast("int").alias("n_punct"),
        round_half_up(quality_score(F.col("text")), 4).alias("quality"),
    )


@query(
    "language_id",
    family="TXT",
    doc="Marker-word language-ID heuristic with deterministic argmax tie-break.",
    oracle=f"""
        SELECT doc_id, lang AS lang_declared, {sql_lang_id('text')} AS lang_pred
        FROM documents
    """,
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # two-phase: materialize marker counts as columns first so each regex is
    # evaluated once per row, then the argmax CASE runs over plain ints
    counts = d.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        *[cnt.alias(f"_c_{lang}") for lang, cnt in lang_scores(F.col("text")).items()],
    )
    best = F.greatest(*[F.col(f"_c_{lang}") for lang in lang_scores(F.col("text"))])
    pred = F.lit("und")
    from ..functions.text import LANG_MARKERS

    for lang in reversed(list(LANG_MARKERS)):
        c = F.col(f"_c_{lang}")
        pred = F.when((c > 0) & (c == best), F.lit(lang)).otherwise(pred)
    return counts.select("doc_id", "lang_declared", pred.alias("lang_pred"))


from ..functions.text import sql_minhash_exprs  # noqa: E402

@query(
    "minhash_fingerprint",
    family="TXT,DEDUP",
    doc="4-hash MinHash signature over distinct 5-char shingles (md5-slice "
    "hash family → engine-portable); the document fingerprint used by LSH dedup.",
    oracle=f"""
        WITH sh AS (
          SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 5) AS s
          FROM (SELECT doc_id, text, unnest(range(1, greatest(len(text) - 3, 2))) AS i FROM documents)
        )
        SELECT doc_id, {', '.join(sql_minhash_exprs('s', 4))}
        FROM sh GROUP BY doc_id
    """,
)
def minhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import char_shingle_stream

    d = load_table(spark, sf_dir, "documents")
    sh = char_shingle_stream(d, "doc_id", "text", 5)
    return (
        sh.groupBy(F.col("doc").alias("doc_id"))
        .agg(*minhash_signature_aggs("s", 4))
        .select("doc_id", *minhash_signature_longs(4))
    )


# --------------------------------------------------------------------------------------
# TXT — document fingerprinting: rolling-hash k-grams + winnowing (Schleimer et al. 2003)
# --------------------------------------------------------------------------------------
_FP_K = 7  # k-gram width (chars)
_FP_W = 4  # winnowing window (k-grams)
_FP_M = 1_000_000_007
_FP_B = 31


@query(
    "winnow_fingerprint",
    family="TXT,DEDUP",
    doc="Winnowing document fingerprints: Rabin-Karp rolling hash over "
    "7-char k-grams, minimum hash per 4-gram window, distinct minima = the "
    "fingerprint set (the MOSS algorithm).  Entirely native array "
    "expressions — transform/aggregate/slice — no UDF; guarantees at least "
    "one shared fingerprint for any match longer than w+k-1 chars.",
    oracle=f"""
        WITH h AS (
          SELECT doc_id,
                 list_transform(range(1, length(text) - {_FP_K} + 2), i ->
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(0, {_FP_K}), j -> CAST(ascii(substr(text, CAST(i + j AS INTEGER), 1)) AS BIGINT))),
                     (acc, x) -> (acc * {_FP_B} + x) % {_FP_M})) AS hs
          FROM documents WHERE doc_id < 300 AND length(text) >= {_FP_K + _FP_W - 1}
        )
        SELECT doc_id, unnest(list_distinct(
                 list_transform(range(1, len(hs) - {_FP_W} + 2), p -> list_min(hs[CAST(p AS INTEGER):CAST(p + {_FP_W} - 1 AS INTEGER)]))
               )) AS fingerprint
        FROM h
    """,
)
def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Window-lead formulation (vs the array transform/aggregate the oracle
    # spells): per-char explode + two codegen'd window passes.  Array-HOF
    # lambdas are INTERPRETED in Spark (same lesson as
    # benchmark_contamination — measured ~10x); lead/least stay inside
    # whole-stage codegen.  The rolling hash (acc*B + c) % M iterated over
    # k chars equals (Σ c_j·B^(k-1-j)) % M — with B=31, k=7, c≤0x10FFFF the
    # power sum peaks ~1e15 < 2^63, so one final mod is exact.
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 300) & (F.length("text") >= _FP_K + _FP_W - 1))
    )
    chars = d.select("doc_id", F.posexplode(F.split(F.col("text"), "")).alias("pos", "c"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    a = F.ascii("c").cast("long")
    kgram_hash = (
        sum(
            (F.lead(a, j).over(w) if j else a) * F.lit(_FP_B ** (_FP_K - 1 - j))
            for j in range(_FP_K)
        )
        % _FP_M
    )
    hashed = chars.select("doc_id", "pos", kgram_hash.alias("h")).filter(F.col("h").isNotNull())
    win_min = F.least(*[(F.lead("h", p).over(w) if p else F.col("h")) for p in range(_FP_W)])
    last_in_win = F.lead("h", _FP_W - 1).over(w)
    return (
        hashed.select("doc_id", win_min.alias("fingerprint"), last_in_win.alias("_t"))
        .filter(F.col("_t").isNotNull())
        .select("doc_id", "fingerprint")
        .distinct()
    )


# --------------------------------------------------------------------------------------
# TXT — sliding-window document chunking (training-example windowing)
# --------------------------------------------------------------------------------------
_CHUNK_W = 32  # window (tokens)
_CHUNK_S = 24  # stride (tokens) -> overlap = 8


@query(
    "document_chunks",
    family="TXT",
    doc=f"Sliding-window chunking for training-example construction: windows "
    f"of {_CHUNK_W} whitespace tokens at stride {_CHUNK_S} (overlap "
    f"{_CHUNK_W - _CHUNK_S}).  A tail window that adds no tokens beyond the "
    f"previous window's coverage is dropped.  Pure array expressions "
    f"(split → sequence of starts → slice per start) — the explode happens "
    f"AFTER the per-doc window-start computation, so the shuffle-free scan "
    f"emits only (doc, chunk) rows.",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
        ),
        s AS (SELECT doc_id, toks, unnest(range(0, len(toks), {_CHUNK_S})) AS st FROM t)
        SELECT doc_id,
               CAST(st // {_CHUNK_S} AS INTEGER) AS chunk_idx,
               CAST(least({_CHUNK_W}, len(toks) - st) AS INTEGER) AS n_chunk_tokens,
               array_to_string(toks[CAST(st + 1 AS INTEGER):CAST(st + {_CHUNK_W} AS INTEGER)], ' ') AS chunk_text
        FROM s WHERE st = 0 OR len(toks) - st > {_CHUNK_W - _CHUNK_S}
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    starts = F.filter(
        F.sequence(F.lit(0), F.size(F.col("toks")) - 1, F.lit(_CHUNK_S)),
        lambda s: (s == 0) | ((F.size(F.col("toks")) - s) > (_CHUNK_W - _CHUNK_S)),
    )
    return (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("st"))
        .select(
            "doc_id",
            (F.col("st") / _CHUNK_S).cast("int").alias("chunk_idx"),
            F.least(F.lit(_CHUNK_W), F.size("toks") - F.col("st")).cast("int").alias("n_chunk_tokens"),
            F.array_join(F.slice(F.col("toks"), F.col("st") + 1, _CHUNK_W), " ").alias("chunk_text"),
        )
    )


# --------------------------------------------------------------------------------------
# TXT — PII redaction (email / IPv4 / phone) as a native regexp_replace chain
# --------------------------------------------------------------------------------------
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+?\d[\d\- ]{7,}\d"


@query(
    "pii_redact",
    family="TXT",
    doc="PII scrubbing for training corpora: emails, IPv4 addresses, and "
    "phone-shaped digit runs replaced with typed placeholders via a chained "
    "native regexp_replace (no UDF, stays in whole-stage codegen); match "
    "counts per category ride along for corpus audit.  Same RE2-compatible "
    "patterns run in both engines.",
    oracle=f"""
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_IP}', '<IP>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g') AS clean_text,
               CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INTEGER) AS n_ips
        FROM documents
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.regexp_count(F.col("text"), F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PII_IP)).cast("int").alias("n_ips"),
    )


# --------------------------------------------------------------------------------------
# TXT — TF-IDF top terms per document
# --------------------------------------------------------------------------------------
@query(
    "tfidf_top_terms",
    family="TXT",
    doc="Top-3 TF-IDF terms per document: term frequency from the token "
    "explode, document frequency from one distinct-aggregation, idf = "
    "ln(N/df), ranked per doc by rounded score with term tiebreak.  The df "
    "relation is vocabulary-sized (unbounded at web scale) so the tf-df "
    "join shuffles on term and AQE picks the physical strategy; N folds in "
    "as a one-row aggregate cross-join, not a separate driver action.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 {sql_round_half_up('tf.tf * ln(n.n_docs * 1.0 / df.df)', 6)} AS tfidf
          FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tfidf, CAST(rn AS INTEGER) AS term_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
          FROM scored
        ) WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = tf.join(df, "term").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        round_half_up(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "term", "tfidf", F.col("term_rank").cast("int"))
    )


# --------------------------------------------------------------------------------------
# TXT — the composed corpus gate: dedup canonical + quality + language agreement
# --------------------------------------------------------------------------------------
_GATE_MIN_QUALITY = 0.45


@query(
    "corpus_filter",
    family="TXT,DEDUP,E2",
    doc="The end-to-end pretraining-corpus gate, composed from this "
    "package's operators: a document survives iff it is the exact-dedup "
    "canonical (min doc_id per sha256), its quality score clears the "
    "threshold, and the language-ID prediction agrees with the declared "
    "language.  Emits keep + the FIRST failing gate as drop_reason "
    "(duplicate -> low_quality -> lang_mismatch), the audit-friendly shape. "
    "One shuffle (the sha window); quality and lang-ID are scan-side "
    "expressions.",
    oracle=f"""
        WITH c AS (
          SELECT doc_id, text, lang,
                 min(doc_id) OVER (PARTITION BY sha256(text)) AS canonical
          FROM documents
        ),
        g AS (
          SELECT doc_id, canonical,
                 {sql_round_half_up(sql_quality_score('text'), 4)} AS quality,
                 {sql_lang_id('text')} AS lang_pred, lang
          FROM c
        )
        SELECT doc_id,
               (doc_id = canonical AND quality >= {_GATE_MIN_QUALITY} AND lang_pred = lang) AS keep,
               CASE WHEN doc_id <> canonical THEN 'duplicate'
                    WHEN quality < {_GATE_MIN_QUALITY} THEN 'low_quality'
                    WHEN lang_pred <> lang THEN 'lang_mismatch'
               END AS drop_reason
        FROM g
    """,
)
def corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    c = d.withColumn(
        "canonical", F.min("doc_id").over(Window.partitionBy(F.sha2(F.col("text"), 256)))
    )
    counts = c.select(
        "doc_id",
        "canonical",
        F.col("lang"),
        round_half_up(quality_score(F.col("text")), 4).alias("quality"),
        *[cnt.alias(f"_c_{lang}") for lang, cnt in lang_scores(F.col("text")).items()],
    )
    best = F.greatest(*[F.col(f"_c_{lang}") for lang in lang_scores(F.col("text"))])
    from ..functions.text import LANG_MARKERS

    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        cc = F.col(f"_c_{lang}")
        pred = F.when((cc > 0) & (cc == best), F.lit(lang)).otherwise(pred)
    g = counts.withColumn("lang_pred", pred)
    return g.select(
        "doc_id",
        (
            (F.col("doc_id") == F.col("canonical"))
            & (F.col("quality") >= _GATE_MIN_QUALITY)
            & (F.col("lang_pred") == F.col("lang"))
        ).alias("keep"),
        F.when(F.col("doc_id") != F.col("canonical"), "duplicate")
        .when(F.col("quality") < _GATE_MIN_QUALITY, "low_quality")
        .when(F.col("lang_pred") != F.col("lang"), "lang_mismatch")
        .alias("drop_reason"),
    )


# --------------------------------------------------------------------------------------
# TXT/E5 — deterministic hash-based stratified sampling
# --------------------------------------------------------------------------------------
@query(
    "stratified_sample",
    family="E5,TXT",
    doc="Reproducible stratified downsampling: a document is kept iff the "
    "first md5 byte of its id clears the per-stratum rate (even-numbered "
    "sources keep ~75%, odd ~25%).  Hash-based sampling is THE scale "
    "pattern — no RNG state, membership is a pure function of the row, so "
    "re-runs, retries, and incremental batches agree; the reference's "
    "sized-random-sample (E5, db/dump.py:31) needs a seeded shuffle "
    "instead.  Pure scan-side filter: no shuffle at all.",
    oracle="""
        SELECT doc_id, source
        FROM documents
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER)
              < CASE WHEN CAST(replace(source, 'src', '') AS INTEGER) % 2 = 0
                     THEN 192 ELSE 64 END
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    rate = F.when(
        F.regexp_replace("source", "src", "").cast("int") % 2 == 0, F.lit(192)
    ).otherwise(F.lit(64))
    return d.filter(h < rate).select("doc_id", "source")


# --------------------------------------------------------------------------------------
# TXT — sequential pack assignment (training-batch packing by token budget)
# --------------------------------------------------------------------------------------
_PACK_BUDGET = 1024  # tokens per pack


@query(
    "pack_training_batches",
    family="TXT",
    doc="Sequence packing for training batches: within each source shard, "
    "documents fill packs of ~1024 tokens in doc_id order — pack_id = "
    "floor(exclusive-prefix-sum(n_tokens) / budget), the deterministic "
    "sequential-fill policy.  One window per source partition (shards pack "
    "independently and in parallel; no global coordination), which is how "
    "packing actually runs over a sharded 100 TB corpus.",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
          FROM documents
        )
        SELECT doc_id, source, n_tokens,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_tokens) / {_PACK_BUDGET}) AS INTEGER) AS pack_id
        FROM t
    """,
)
def pack_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", token_count(F.col("text")).cast("long").alias("n_tokens"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prefix_excl = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(prefix_excl / _PACK_BUDGET).cast("int").alias("pack_id"),
    )


# --------------------------------------------------------------------------------------
# Benchmark decontamination — eval-set n-gram overlap (the training-data gate)
# --------------------------------------------------------------------------------------
_CONTAM_N = 5  # n-gram order
_CONTAM_MIN_OVERLAP = 5  # shingles shared with the eval set => contaminated


def _contam_shingles(d: DataFrame, hashed: bool = False) -> DataFrame:
    """(doc_id, s): distinct word n-gram shingles per document — ZERO shuffles.

    Shape matters, measured at sf0.1 (250k shingles): an array-building
    ``transform(sequence(...), i -> slice(...))`` re-slices per element —
    O(L²) per doc, 11 s.  The posexplode + window ``lead`` build used
    through round 5 stays in codegen but costs a shuffle (the window's
    partitionBy doc_id) plus a ``distinct`` shuffle — 1.0 s warm.  This
    build is ``arrays_zip`` of n shifted O(L) slices → per-element struct
    concat → ``array_distinct`` PER ROW → explode: the distinct happens
    inside the row (a shingle set is per-doc by definition), so the whole
    thing is one narrow scan-side projection — 0.3 s warm, byte-identical
    output (exceptAll both ways == 0 vs the window build), and at 100 TB
    it pipelines into whatever shuffle the CALLER needs next instead of
    forcing one of its own.  Docs under n tokens produce zero shingles
    (empty slices → empty zip), same as DuckDB's empty range().

    ``hashed=True`` replaces the ~30-byte shingle string with its xxhash64
    long inside the row, so every downstream shuffle/agg/join moves
    8-byte keys — the prefix_filter_jaccard move (measured 2.3x there);
    callers that only key on ``s`` (never emit it) should pass True.  A
    64-bit collision merging two shingles would surface as a value mismatch
    against the string-exact oracle, so the gate covers the risk.
    """
    from ..functions.text import tokens

    n = _CONTAM_N
    toks = tokens(F.col("text"))
    width = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, k + 1, width).alias(f"t{k}") for k in range(n)])

    def gram(s):
        joined = F.concat_ws(" ", *[s[f"t{k}"] for k in range(n)])
        return F.xxhash64(joined) if hashed else joined

    return d.select("doc_id", F.explode(F.array_distinct(F.transform(z, gram))).alias("s"))


@query(
    "benchmark_contamination",
    family="DEDUP,TEXT",
    doc="Benchmark decontamination: flag training documents sharing word "
    f"{_CONTAM_N}-grams with an evaluation set (docs with doc_id < 10 stand "
    "in for the benchmark corpus).  Eval shingles are a broadcast dimension "
    "(real benchmarks are tiny next to the corpus); each doc counts its "
    "DISTINCT shingles and the overlap via one broadcast join — the corpus "
    "is scanned once, never shuffled on the shingle key.  contaminated = "
    f"overlap >= {_CONTAM_MIN_OVERLAP}.  The standard pre-training hygiene "
    "pass (eval-set leakage removal), exact by construction.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 list_aggregate(toks[CAST(i AS INTEGER):CAST(i + {_CONTAM_N} - 1 AS INTEGER)], 'string_agg', ' ') AS s
          FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_CONTAM_N} + 2)) AS i FROM tok)
        ),
        ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
        ov AS (
          SELECT sh.doc_id, count(*) AS n_overlap
          FROM sh JOIN ev ON sh.s = ev.s
          GROUP BY sh.doc_id
        ),
        sz AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
        SELECT sz.doc_id, sz.n_shingles,
               coalesce(ov.n_overlap, 0) AS n_overlap,
               coalesce(ov.n_overlap, 0) >= {_CONTAM_MIN_OVERLAP} AS contaminated
        FROM sz LEFT JOIN ov ON sz.doc_id = ov.doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan a narrow (single-split) source out BEFORE the ~L-per-doc shingle
    # explode — a compacted parquet file is one input split, and the whole
    # scan-side shingle build would otherwise run on a single core (measured
    # 5.5s serial vs 0.7s fanned at the sf1 corpus)
    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    sh = _contam_shingles(d, hashed=True)
    ev = _contam_shingles(d.filter(F.col("doc_id") < 10), hashed=True).select("s").distinct()
    # single pass over the corpus shingles: mark eval hits via the broadcast
    # join, then count total + hits in ONE grouped aggregation
    hit = F.broadcast(ev.withColumn("_hit", F.lit(1)))
    per_doc = (
        sh.join(hit, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_overlap"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        (F.col("n_overlap") >= F.lit(_CONTAM_MIN_OVERLAP)).alias("contaminated"),
    )


# --------------------------------------------------------------------------------------
# Relative-quality corpus pruning — percentile-rank threshold (keep top share)
# --------------------------------------------------------------------------------------
_QPR_KEEP = 0.30  # keep the top 30% by quality within each language


@query(
    "quality_percentile_filter",
    family="TXT,E5",
    doc="Relative-quality corpus pruning: percent_rank over the composite "
    "quality score WITHIN each language (doc_id tie-break for a total "
    "order), keep the top 30% — how pretraining pipelines prune when the "
    "budget is a SHARE of the corpus rather than an absolute quality bar "
    "(absolute thresholds drift across languages/domains; ranks don't).  "
    "One window pass; at 100 TB the same shape runs on approx quantile "
    "cutoffs instead of a full per-language sort.",
    oracle=f"""
        WITH q AS (
          SELECT doc_id, lang,
                 {sql_round_half_up(sql_quality_score('text'), 4)} AS quality
          FROM documents
        ),
        r AS (
          SELECT doc_id, lang, quality,
                 percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS pr
          FROM q
        )
        SELECT doc_id, lang, quality, {sql_round_half_up('pr', 6)} AS quality_rank
        FROM r WHERE pr >= 1.0 - {_QPR_KEEP}
    """,
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", "lang", round_half_up(quality_score(F.col("text")), 4).alias("quality")
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    r = q.withColumn("pr", F.percent_rank().over(w))
    return r.filter(F.col("pr") >= 1.0 - _QPR_KEEP).select(
        "doc_id", "lang", "quality", round_half_up(F.col("pr"), 6).alias("quality_rank")
    )


# --------------------------------------------------------------------------------------
# Intra-corpus duplicate-span report — exact substring dedup at word n-gram
# granularity (the measurement half of Lee et al. 2022's "Deduplicating
# Training Data Makes Language Models Better", arXiv:2107.06499: how much of
# each document is verbatim-shared with the rest of the corpus).
# --------------------------------------------------------------------------------------
@query(
    "duplicate_span_report",
    family="DEDUP,TXT",
    doc="Per document, the fraction of its distinct word 5-gram spans that "
    "also occur in at least one OTHER document — the corpus-wide verbatim "
    "duplication measure run before substring-level dedup.  The shingle "
    "stream is built with the window-lead trick (stays in whole-stage "
    "codegen), then ONE agg on the shingle key computes each span's "
    "document frequency, joined back on the same key — two shuffles on the "
    "uniform shingle hash, never an all-pairs doc join.  Shingles are "
    "xxhash64-hashed to 8-byte longs before the first shuffle (the "
    "prefix_filter_jaccard move SCALE.md prescribes); the oracle keys on "
    "the exact strings, so a collision would hash-mismatch.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 list_aggregate(toks[CAST(i AS INTEGER):CAST(i + {_CONTAM_N} - 1 AS INTEGER)], 'string_agg', ' ') AS s
          FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_CONTAM_N} + 2)) AS i FROM tok)
        ),
        df AS (SELECT s, count(*) AS n_docs FROM sh GROUP BY s)
        SELECT sh.doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
               {sql_round_half_up('sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*)', 4)} AS shared_frac
        FROM sh JOIN df USING (s)
        GROUP BY sh.doc_id
    """,
)
def duplicate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    # the shingle build is a NARROW scan-side projection (see
    # _contam_shingles), so the document-frequency agg and the re-join just
    # rescan it — cheaper than the eager localCheckpoint barrier this used
    # to pay when the build carried a window shuffle.  At 100 TB the
    # inverted index is written to parquet once and reused by every
    # dedup/contamination pass.
    sh = _contam_shingles(d, hashed=True)
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(df_counts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum((F.col("n_docs") >= 2).cast("int")).cast("long").alias("n_shared"),
            round_half_up(
                F.sum((F.col("n_docs") >= 2).cast("int")) * F.lit(1.0) / F.count(F.lit(1)), 4
            ).alias("shared_frac"),
        )
    )


# --------------------------------------------------------------------------------------
# Containment near-dup — |A∩B| / |A| over word 5-gram shingle sets.  Jaccard
# misses the doc-inside-doc case (a paragraph quoted verbatim inside a much
# longer page scores low Jaccard but containment ~1.0); training-data dedup
# pipelines measure both (Lee et al. 2022 §4 use containment for exclusion).
# Directed: one row per ordered (contained, container) pair, so a short doc
# swallowed by a long one is reported even though the reverse direction isn't.
# Scale shape: identical to the Jaccard shingle join — one self-join on the
# shingle key (uniform md5-free strings, df bounded by the corpus), never a
# doc-pair cross product.
# --------------------------------------------------------------------------------------
@query(
    "containment_neardup",
    family="DEDUP,TXT",
    doc="Ordered doc pairs with 5-gram containment >= 0.8: doc_sub's distinct "
    "shingles are >=80% present in doc_sup.  The shingle stream is the same "
    "window-lead build as duplicate_span_report; the intersection join "
    "computes BOTH directions of each unordered pair in one pass.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 list_aggregate(toks[CAST(i AS INTEGER):CAST(i + {_CONTAM_N} - 1 AS INTEGER)], 'string_agg', ' ') AS s
          FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_CONTAM_N} + 2)) AS i FROM tok)
        ),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_sub, b.doc_id AS doc_sup, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_sub, doc_sup,
               {sql_round_half_up('n_inter * 1.0 / sa.n', 4)} AS containment
        FROM inter JOIN sz sa ON inter.doc_sub = sa.doc_id
        WHERE n_inter * 1.0 / sa.n >= 0.8
    """,
)
def containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    # one NARROW shingle build feeds sizes and both join sides; the identical
    # a/b subplans share one exchange on s (ReusedExchange), so no checkpoint
    sh = _contam_shingles(d, hashed=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_sub"), "s")
    b = sh.select(F.col("doc_id").alias("doc_sup"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_sub") != F.col("doc_sup"))
        .groupBy("doc_sub", "doc_sup")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_sub"), F.col("n").alias("n_a")), "doc_sub")
        .filter(F.col("n_inter") * F.lit(1.0) / F.col("n_a") >= 0.8)
        .select(
            "doc_sub",
            "doc_sup",
            round_half_up(F.col("n_inter") * F.lit(1.0) / F.col("n_a"), 4).alias("containment"),
        )
    )


# --------------------------------------------------------------------------------------
# UDF surface — Python UDTF (table function) chunk profiler via LATERAL join
# --------------------------------------------------------------------------------------
_UDTF_CHUNK_W = 20


@query(
    "python_udtf_chunk_profile",
    family="TXT,UDF",
    doc="Python user-defined TABLE function surface (Spark 4 @udtf + "
    f"LATERAL): a row-to-rows chunker emits ({_UDTF_CHUNK_W}-token chunk "
    "index, token count, distinct-token count) per document; the rollup "
    "reports per-doc chunk counts and vocabulary-density totals.  This is "
    "the UDTF twin of the native document_chunks plan — the contract row "
    "for pipelines whose expansion logic lives in Python libraries; the "
    "native column-expression route remains the scale path (SCALE.md: "
    "UDFs are the slow path).  Scale shape: the UDTF is row-local "
    "(arrow-batched, no state across rows), so it pipelines inside the "
    "scan stage; the only shuffle is the per-doc rollup.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
        ),
        chunk AS (
          SELECT doc_id,
                 toks[CAST({_UDTF_CHUNK_W} * k + 1 AS INTEGER):CAST({_UDTF_CHUNK_W} * k + {_UDTF_CHUNK_W} AS INTEGER)] AS c
          FROM (
            SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(len(toks) / {_UDTF_CHUNK_W}.0) AS BIGINT))) AS k
            FROM tok
          )
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(len(c)) AS BIGINT) AS n_tokens,
               CAST(sum(len(list_distinct(c))) AS BIGINT) AS n_distinct_sum
        FROM chunk GROUP BY doc_id
    """,
)
def python_udtf_chunk_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    w = _UDTF_CHUNK_W

    @udtf(returnType="chunk_idx INT, n_tokens INT, n_distinct INT")
    class ChunkProfiler:
        def eval(self, text: str):
            toks = text.strip().split()
            for i in range(0, len(toks), w):
                c = toks[i : i + w]
                yield i // w, len(c), len(set(c))

    spark.udtf.register("_chunk_profiler", ChunkProfiler)
    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    d.select("doc_id", "text").createOrReplaceTempView("_udtf_docs")
    ch = spark.sql("SELECT doc_id, c.* FROM _udtf_docs, LATERAL _chunk_profiler(text) c")
    return ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_distinct").cast("long").alias("n_distinct_sum"),
    )


# --------------------------------------------------------------------------------------
# TXT/STAT — Zipf's-law fit over the corpus token frequency distribution
# --------------------------------------------------------------------------------------
_ZIPF_TOP = 1000


@query(
    "zipf_token_slope",
    family="TXT,STAT",
    doc=f"Zipf's-law fit: least-squares slope/intercept/r^2 of ln(freq) on "
    f"ln(rank) over the top-{_ZIPF_TOP} corpus tokens — the one-row "
    "diagnostic that catches template-flooded or synthetic corpora (natural "
    "text sits near slope -1; boilerplate floods flatten the head).  Token "
    "counts are ONE exploded aggregate; the global frequency rank uses the "
    "two-pass range-partitioned row_number (no single-partition window at "
    "any scale); the regression is a single native aggregate over the "
    "bounded top-N slice.  (freq desc, token) is tie-free, which the "
    "two-pass rank requires.",
    oracle=f"""
        WITH tf AS (
          SELECT t AS token, count(*) AS freq
          FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents)
          GROUP BY t
        ),
        top AS (
          SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rnk
          FROM tf
        )
        SELECT CAST(count(*) AS BIGINT) AS n_terms,
               {sql_round_half_up("regr_slope(ln(freq), ln(rnk))", 6)} AS zipf_slope,
               {sql_round_half_up("regr_intercept(ln(freq), ln(rnk))", 6)} AS zipf_intercept,
               {sql_round_half_up("corr(ln(freq), ln(rnk)) * corr(ln(freq), ln(rnk))", 6)} AS r2
        FROM top WHERE rnk <= {_ZIPF_TOP}
    """,
)
def zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rank import global_row_number

    d = repartition_if_narrow(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = global_row_number(tf, F.desc("freq"), "token", out_col="rnk").filter(
        F.col("rnk") <= _ZIPF_TOP
    )
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        round_half_up(F.regr_slope(y, x), 6).alias("zipf_slope"),
        round_half_up(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
        round_half_up(F.corr(y, x) * F.corr(y, x), 6).alias("r2"),
    )
