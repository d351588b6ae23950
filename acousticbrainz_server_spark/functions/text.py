"""Text-analysis kernels for the training-data pipeline (SURVEY.md scope +
task brief): tokenization, quality scoring, language-ID heuristic, shingling
and MinHash fingerprints.

All kernels are native column expressions (regex/array functions compile to
JVM codegen); the MinHash family uses md5-based hash functions so results are
deterministic AND reproducible in the ANSI-SQL oracle (engine-native hash
functions like xxhash64 differ between Spark and DuckDB, md5 does not).

Scale notes: shingling explodes ~L rows per document — at 100 TB this is a
flatMap (no shuffle) followed by a groupBy(doc_id) that shuffles the shingle
stream once; MinHash signatures reduce that to n_hashes values per doc before
any join.  The LSH band join (dedup/minhash.py) then buckets signatures so the
candidate-pair join touches only colliding docs, never the full cross product.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/keyword language-ID heuristic.
LANG_MARKERS: dict[str, str] = {
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "en": r"\b(the|and|of|is|to|in)\b",
    "es": r"\b(el|los|las|y|es|que)\b",
    "fr": r"\b(le|la|les|et|est|que)\b",
}

STOPWORD_PATTERN = r"\b(the|a|of|and|to|in|is)\b"
PUNCT_PATTERN = r"[.,;:!?]"


def repartition_if_narrow(df, n_part: int | None = None):
    """Fan a source out to cluster parallelism iff it arrives narrow.

    Probe = ``inputFiles()`` — a file listing, unlike the former
    ``df.rdd.getNumPartitions()`` probe, which converted the whole plan to an
    RDD on every call (round-4 verdict: plausible bench noise).  File-backed
    sources with at least half the target partition count keep their native
    splits (a 100 TB table has thousands of files — no shuffle); narrow
    sources (one compacted file, in-memory test frames) pay one bounded
    shuffle so a downstream per-token/shingle explode doesn't run on a single
    core.  Read-level knobs (spark.sql.files.maxPartitionBytes /
    minPartitionNum) cannot split a single-row-group parquet file — a row
    group is the minimum split unit — so the explicit shuffle is the only
    fan-out available for the bench layout.
    """
    spark = df.sparkSession
    n_part = n_part or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and len(files) >= n_part // 2:
        return df
    return df.repartition(n_part)


def tokens(text: Column) -> Column:
    """Whitespace tokenization (BPE-ish regex split)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_count(text: Column) -> Column:
    return F.regexp_count(F.lower(text), F.lit(STOPWORD_PATTERN))


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(PUNCT_PATTERN))


def quality_score(text: Column) -> Column:
    """Composite [0,1] doc-quality heuristic: length saturation + stopword
    presence - punctuation noise.  Deterministic, mirrored in SQL by
    ``sql_quality_score``."""
    n_tok = token_count(text).cast("double")
    stop_ratio = stopword_count(text).cast("double") / F.greatest(n_tok, F.lit(1.0))
    punct_ratio = punct_count(text).cast("double") / F.greatest(F.length(text).cast("double"), F.lit(1.0))
    len_sat = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return len_sat * 0.5 + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.3 + (1.0 - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * 0.2


def sql_quality_score(text_expr: str) -> str:
    t = text_expr
    n_tok = f"CAST(len(regexp_split_to_array(trim({t}), '\\s+')) AS DOUBLE)"
    stop = f"CAST(len(regexp_extract_all(lower({t}), '{STOPWORD_PATTERN}')) AS DOUBLE)"
    punct = f"CAST(len(regexp_extract_all({t}, '{PUNCT_PATTERN}')) AS DOUBLE)"
    stop_ratio = f"({stop} / greatest({n_tok}, 1.0))"
    punct_ratio = f"({punct} / greatest(CAST(length({t}) AS DOUBLE), 1.0))"
    len_sat = f"least({n_tok} / 100.0, 1.0)"
    return f"({len_sat} * 0.5 + least({stop_ratio} * 5.0, 1.0) * 0.3 + (1.0 - least({punct_ratio} * 10.0, 1.0)) * 0.2)"


def lang_scores(text: Column) -> dict[str, Column]:
    low = F.lower(text)
    return {lang: F.regexp_count(low, F.lit(pat)) for lang, pat in LANG_MARKERS.items()}


def lang_id(text: Column) -> Column:
    """argmax language by marker-word hits; deterministic tie-break by the
    fixed priority order de > en > es > fr (alphabetical); 'und' if no hits."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        out = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


def sql_lang_id(text_expr: str) -> str:
    low = f"lower({text_expr})"
    cnt = {lang: f"len(regexp_extract_all({low}, '{pat}'))" for lang, pat in LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(cnt.values()) + ")"
    whens = " ".join(
        f"WHEN {cnt[lang]} > 0 AND {cnt[lang]} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"(CASE {whens} ELSE 'und' END)"


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-character shingles of a document (array column)."""
    return F.array_distinct(
        F.expr(f"transform(sequence(1, greatest(length(text) - {k - 1}, 1)), i -> substring(text, i, {k}))")
    )


def char_shingle_stream(docs, id_col: str, text_col: str, k: int = 5):
    """(doc, s) shingle stream WITHOUT dedup — for min-aggregations (MinHash),
    where duplicates don't change the result.

    Formulation (r13): the per-doc shingle ARRAY is built in ONE expression —
    split the text into chars once, bind that array as a lambda variable
    (``transform(array(chars), cs -> ...)``), emit shingle i as a concat of k
    O(1) ``element_at`` lookups — and exploded.  The former
    explode(sequence)+``substring(_t, _i, k)`` re-located char offset ``_i``
    by scanning bytes from the string start (UTF8String char indexing), i.e.
    O(i) per shingle = O(L²) per doc; this is O(L·k), measured 1.3-1.4x
    faster at sf0.1 on the 8-hash signature pipeline (TEXTAB.json) with
    byte-identical output.  The obvious alternative — projecting the char
    array in a column BELOW the explode — is a trap: whole-stage codegen
    defers the projected expression into the per-output-row consume, so the
    split re-executes per position (measured 18-58x SLOWER).  Binding it as
    a lambda variable inside the generator's own input expression is what
    forces one evaluation per doc.

    The source is fanned out first when it arrives narrow
    (``repartition_if_narrow``): a compact parquet file is ONE input split,
    and the ~L-per-doc explode would otherwise run the whole corpus on a
    single core (explode fan-out inherits the input partitioning).
    """
    docs = repartition_if_narrow(docs)
    parts = ", ".join(f"element_at(cs, least(_i + {j}, size(cs)))" for j in range(k))
    # the least() clamp keeps element_at in-bounds while the CASE picks the
    # branch: docs shorter than k take substring's truncation semantics
    shingle_arr = (
        f"element_at(transform(array(split(_t, '')), "
        f"cs -> transform(sequence(1, greatest(size(cs) - {k - 1}, 1)), "
        f"_i -> CASE WHEN size(cs) >= {k} THEN concat({parts}) "
        f"ELSE substring(_t, 1, {k}) END)), 1)"
    )
    return docs.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("_t")
    ).select("doc", F.explode(F.expr(shingle_arr)).alias("s"))


def word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles (array column) — one narrow projection.

    ``arrays_zip`` of n shifted O(L) slices, per-element struct concat,
    then ``array_distinct`` INSIDE the row: a shingle set is per-document
    by definition, so deduping here saves callers the distinct shuffle the
    exploded-stream builds pay.  (A ``transform(sequence(...), i ->
    toks[i]...)`` build re-indexes per element and measured ~3x slower;
    the window-lead build costs a partitionBy-doc shuffle.)  Docs under n
    tokens yield an empty array (empty slices → empty zip).
    """
    toks = tokens(text)
    width = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, k + 1, width).alias(f"t{k}") for k in range(n)])
    return F.array_distinct(
        F.transform(z, lambda s: F.concat_ws(" ", *[s[f"t{k}"] for k in range(n)]))
    )


def word_bigrams(text: Column) -> Column:
    """Distinct word-bigram shingles."""
    toks = tokens(text)
    return F.array_distinct(
        F.zip_with(F.slice(toks, 1, F.size(toks) - 1), F.slice(toks, 2, F.size(toks) - 1), lambda a, b: F.concat_ws(" ", a, b))
    )


def minhash_signature_aggs(shingle_col: str, n_hashes: int = 4) -> list[Column]:
    """MinHash min-aggregates over HEX SLICES: one md5 per shingle per 4 hash
    functions — each 32-bit hash is an 8-hex-char slice of md5(seed || s).
    A valid min-wise family (md5 slices are independent uniform bits),
    engine-portable (DuckDB: min(CAST('0x'||substr(md5(...),off,8) AS
    BIGINT))), and 4× cheaper than one digest per hash function.

    The min runs on the hex STRING — fixed-width lowercase hex compares
    lexicographically in numeric order, so min(hex) == hex(min).  Converting
    to a long per shingle would run `conv` rows_x_hashes times; converting
    after the min (``minhash_signature_longs``) runs it groups_x_hashes times.
    """
    out = []
    for i in range(n_hashes):
        seed, slot = divmod(i, 4)
        digest = F.md5(F.col(shingle_col)) if seed == 0 else F.md5(F.concat(F.lit(str(seed)), F.col(shingle_col)))
        out.append(F.min(F.substring(digest, 1 + 8 * slot, 8)).alias(f"_hx{i}"))
    return out


def minhash_signature_longs(n_hashes: int = 4) -> list[Column]:
    """Post-aggregation projection of the hex mins to long mh0..mh{n-1}."""
    return [F.conv(F.col(f"_hx{i}"), 16, 10).cast("long").alias(f"mh{i}") for i in range(n_hashes)]


def sql_minhash_exprs(shingle_expr: str, n_hashes: int = 4) -> list[str]:
    """DuckDB twins of minhash_signature_exprs (same slices, same order)."""
    out = []
    for i in range(n_hashes):
        seed, slot = divmod(i, 4)
        digest = f"md5({shingle_expr})" if seed == 0 else f"md5('{seed}' || {shingle_expr})"
        out.append(f"min(CAST(('0x' || substr({digest}, {1 + 8 * slot}, 8)) AS BIGINT)) AS mh{i}")
    return out
