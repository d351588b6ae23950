"""A/B the per-position substring formulations of the text kernels (r13).

Measured context (guide §1):
- Spark's UTF8String.substring locates a CHAR offset by scanning bytes from
  the string start, so per-position ``substr(text, i, k)`` streams cost O(i)
  per call = O(L^2) per document.
- The naive fix (project a codes array below the explode, element_at above
  it) is a TRAP: whole-stage codegen defers the projected expression into
  the per-generated-row consume, so split+transform re-executes per
  position — measured 18x (L=2000) to 58x (L=8000) SLOWER than the
  substring baseline, OOMing at L=20000 (tools/ probe, r13 round notes).
Candidates that evaluate the decomposition ONCE per doc:
  cdc "let":  bind the codes array as a lambda variable —
              explode(element_at(transform(array(codes),
                cs -> filter(sequence(1, len-7), i -> h(cs,i)%DIV=0)), 1))
              — the generator input is one expression evaluated once per row.
  cdc "win":  w = substring(text, i, 8) once per position (codegen CSE),
              then 8 O(1) scans of the 8-char window.
  shingle "let": same let-binding, shingle = concat of k element_at lookups,
              posexplode of the per-doc shingle array.

Method: equality gates first (collect old vs new), then interleaved
min-over-N timed trials in ONE session, full-query toPandas (bench action).
Writes TEXTAB.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from acousticbrainz_server_spark.functions.text import (  # noqa: E402
    minhash_signature_aggs,
    minhash_signature_longs,
    repartition_if_narrow,
)
from acousticbrainz_server_spark.plans.domain import load_table  # noqa: E402
from acousticbrainz_server_spark.plans.dedup_queries import (  # noqa: E402
    _CDC_DIV,
    _CDC_P,
    _CDC_W,
)
from acousticbrainz_server_spark.session import get_spark  # noqa: E402


def _cdc_hash_substr(text, i):
    h = F.lit(0).cast("long")
    for j in range(_CDC_W):
        h = h + F.ascii(F.substr(text, i + F.lit(j), F.lit(1))).cast("long") * F.lit(
            31 ** (_CDC_W - 1 - j)
        )
    return h % F.lit(_CDC_P)


def _cdc_cuts_sql_let() -> str:
    """Boundary-position ARRAY per doc, codes bound once as a lambda var."""
    terms = " + ".join(
        f"CAST(element_at(cs, i + {j}) AS BIGINT) * {31 ** (_CDC_W - 1 - j)}L"
        for j in range(_CDC_W)
    )
    return (
        "element_at(transform(array(transform(split(text, ''), c -> ascii(c))), "
        f"cs -> filter(sequence(1, len - {_CDC_W - 1}), "
        f"i -> (({terms}) % {_CDC_P}L) % {_CDC_DIV} = 0)), 1)"
    )


def _cdc_cuts(long_docs, variant: str):
    """(doc_id, i) boundary stream under the chosen formulation."""
    if variant == "let":
        return long_docs.select(
            "doc_id", F.explode(F.expr(_cdc_cuts_sql_let())).alias("i")
        )
    if variant == "win":
        pos = long_docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(1), F.col("len") - _CDC_W + 1)).alias("i"),
        )
        w = F.substr(F.col("text"), F.col("i"), F.lit(_CDC_W))
        h = F.lit(0).cast("long")
        for j in range(_CDC_W):
            h = h + F.ascii(F.substr(w, F.lit(j + 1), F.lit(1))).cast("long") * F.lit(
                31 ** (_CDC_W - 1 - j)
            )
        return pos.filter(h % F.lit(_CDC_P) % _CDC_DIV == 0).select("doc_id", "i")
    # baseline: the registered r12 shape
    pos = long_docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.col("len") - _CDC_W + 1)).alias("i"),
    )
    return pos.filter(
        _cdc_hash_substr(F.col("text"), F.col("i")) % _CDC_DIV == 0
    ).select("doc_id", "i")


def _cdc_query(spark, sf_dir: str, variant: str):
    """Copy of registered cdc_chunk_dedup with the cuts stage switchable."""
    from pyspark.sql import Window

    from acousticbrainz_server_spark.functions.scalar import round_half_up

    d = repartition_if_narrow(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text", F.length("text").alias("len")
    )
    long_docs = d.filter(F.col("len") >= _CDC_W)
    cuts = _cdc_cuts(long_docs, variant)
    wd = Window.partitionBy("doc_id").orderBy("i")
    mid = cuts.select(
        "doc_id",
        (F.coalesce(F.lag("i").over(wd), F.lit(0)) + 1).alias("s"),
        F.col("i").alias("e"),
    )
    mx = cuts.groupBy("doc_id").agg(F.max("i").alias("mx"))
    tail = (
        d.join(mx, "doc_id", "left")
        .withColumn("mx", F.coalesce(F.col("mx"), F.lit(0)))
        .filter(F.col("mx") < F.col("len"))
        .select("doc_id", (F.col("mx") + 1).alias("s"), F.col("len").alias("e"))
    )
    spans = mid.unionByName(tail)
    chunks = spans.join(d, "doc_id").select(
        "source",
        F.md5(F.substr("text", F.col("s"), F.col("e") - F.col("s") + 1)).alias("ch"),
        (F.col("e") - F.col("s") + 1).alias("nbytes"),
    )
    freq = chunks.groupBy("ch").agg(F.count(F.lit(1)).alias("n"))
    j = chunks.join(freq, "ch")
    dup = F.col("n") > 1
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("nbytes").cast("long").alias("n_bytes"),
            F.count(F.when(dup, 1)).alias("dup_chunks"),
            round_half_up(
                F.coalesce(F.sum(F.when(dup, F.col("nbytes"))), F.lit(0)).cast("double")
                / F.sum("nbytes"),
                4,
            ).alias("dup_byte_ratio"),
        )
        .orderBy("source")
    )


def _shingle_sql_let(k: int) -> str:
    """Per-doc shingle ARRAY, chars bound once as a lambda variable."""
    parts = ", ".join(f"element_at(cs, least(i + {j}, size(cs)))" for j in range(k))
    # least() clamp only pads when len(text) < k (the sequence is 1..1 then);
    # concat of repeated last chars differs from substring's truncation, so
    # short docs fall back to substring(text, 1, k) — identical output.
    return (
        "element_at(transform(array(split(_t, '')), "
        f"cs -> transform(sequence(1, greatest(size(cs) - {k - 1}, 1)), "
        f"i -> CASE WHEN size(cs) >= {k} THEN concat({parts}) "
        f"ELSE substring(_t, 1, {k}) END)), 1)"
    )


def _shingle_stream(docs, id_col, text_col, k, variant: str):
    docs = repartition_if_narrow(docs)
    if variant == "let":
        return docs.select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("_t")
        ).select("doc", F.explode(F.expr(_shingle_sql_let(k))).alias("s"))
    return docs.select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("_t"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1)))
        ).alias("_i"),
    ).select("doc", F.expr(f"substring(_t, _i, {k})").alias("s"))


def _sig_query(spark, sf_dir: str, variant: str):
    d = load_table(spark, sf_dir, "documents")
    sh = _shingle_stream(d, "doc_id", "text", 5, variant)
    return (
        sh.groupBy("doc")
        .agg(*minhash_signature_aggs("s", 8))
        .select("doc", *minhash_signature_longs(8))
    )


def _timed(df) -> float:
    t0 = time.perf_counter()
    df.toPandas()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark("text_ab")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    out: dict = {"sf_dir": sf_dir, "trials": trials}

    # split('') semantics precondition: 1-based element k == char k
    row = spark.sql("SELECT split('abc','') a, split('','') b").first()
    out["split_semantics"] = {"abc": row["a"], "empty": row["b"]}
    assert row["a"] == ["a", "b", "c"], row["a"]

    # equality gates
    base_cdc = _cdc_query(spark, sf_dir, "base").toPandas()
    eq = {"cdc_let": bool(base_cdc.equals(_cdc_query(spark, sf_dir, "let").toPandas())),
          "cdc_win": bool(base_cdc.equals(_cdc_query(spark, sf_dir, "win").toPandas()))}
    so = _sig_query(spark, sf_dir, "base").toPandas().sort_values("doc").reset_index(drop=True)
    sn = _sig_query(spark, sf_dir, "let").toPandas().sort_values("doc").reset_index(drop=True)
    eq["sig_let"] = bool(so.equals(sn))
    out["equal"] = eq
    print("EQUAL:", eq, flush=True)

    # interleaved timing, min-over-trials
    keys = ["cdc_base", "cdc_let", "cdc_win", "sig_base", "sig_let"]
    t: dict[str, list[float]] = {k: [] for k in keys}
    for i in range(trials):
        t["cdc_base"].append(round(_timed(_cdc_query(spark, sf_dir, "base")), 3))
        t["cdc_let"].append(round(_timed(_cdc_query(spark, sf_dir, "let")), 3))
        t["cdc_win"].append(round(_timed(_cdc_query(spark, sf_dir, "win")), 3))
        t["sig_base"].append(round(_timed(_sig_query(spark, sf_dir, "base")), 3))
        t["sig_let"].append(round(_timed(_sig_query(spark, sf_dir, "let")), 3))
        print(f"trial {i}: " + ", ".join(f"{k}={v[-1]}" for k, v in t.items()), flush=True)
        spark.catalog.clearCache()
    out["times"] = t
    out["mins"] = {k: min(v) for k, v in t.items()}
    out["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    with open(os.path.join(REPO, "TEXTAB.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["mins"]))
    spark.stop()


if __name__ == "__main__":
    main()
