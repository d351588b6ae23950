"""Registry-wide 10x scale sweep: hunt plan cliffs the small SF cannot show.

Builds a FULL sf1-scale testdata dir under ``.scale/sf1full/`` — every table
10x by key-shifted replication, foreign keys shifted CONSISTENTLY so joins
keep TPC-H cardinality shape (each replica is a disjoint sub-database, which
is exactly how TPC-H grows with SF) — then times EVERY registered query once
cold at sf0.1 and sf1 (Spark only; no oracles) and reports the per-query
wall growth factor.  A query whose wall grows far beyond the data growth is
a scale cliff: a quadratic stage, a driver pull, a mis-gated plan.  This
caught dedup/ngram.py's memory-gated-but-cost-blind dense sgemm in round 7
(125s at sf1; the join path does it in 18s).

Shifts per replica k (replica 0 byte-identical to sf0.1):
- orders.o_orderkey / lineitem.l_orderkey          += k * (max+1)
- part.p_partkey / lineitem.l_partkey              += k * (max+1)
- supplier.s_suppkey / lineitem.l_suppkey          += k * (max+1)
- customer.c_custkey / orders.o_custkey            += k * (max+1)
- events.event_id, events.user_id                  += k * (max+1)
- documents.doc_id (+ per-token ``_r<k>`` suffix so replicas share no
  shingle vocabulary), embeddings.vec_id (+label)  += k * (max+1)
- region/nation symlink (dimension constants)

Timestamps/dates are NOT shifted: real SF growth densifies per-day volume.

Usage: python tools/scale_sweep.py [--flag-ratio N] [name ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, "/root/repo")

SRC = "/root/testdata/sf0.1"
DST = "/root/repo/.scale/sf1full"
REPLICAS = 10
# external-format / filesystem-writing / streaming queries whose wall is
# dominated by fixed machinery, and the two giant-by-design exact baselines
PER_QUERY_TIMEOUT_HINT = 600  # documentation only; driver enforces globally


def build_scaled() -> None:
    if os.path.exists(os.path.join(DST, "_READY")):
        return
    os.makedirs(DST, exist_ok=True)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tabs = {
        t: pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        for t in ("customer", "supplier", "part", "orders", "lineitem", "events", "embeddings")
    }
    span = {
        "ok": pc.max(tabs["orders"]["o_orderkey"]).as_py() + 1,
        "pk": pc.max(tabs["part"]["p_partkey"]).as_py() + 1,
        "sk": pc.max(tabs["supplier"]["s_suppkey"]).as_py() + 1,
        "ck": pc.max(tabs["customer"]["c_custkey"]).as_py() + 1,
        "ev": pc.max(tabs["events"]["event_id"]).as_py() + 1,
        "uid": pc.max(tabs["events"]["user_id"]).as_py() + 1,
        "vid": pc.max(tabs["embeddings"]["vec_id"]).as_py() + 1,
    }
    shifts = {
        "customer": [("c_custkey", "ck")],
        "supplier": [("s_suppkey", "sk")],
        "part": [("p_partkey", "pk")],
        "orders": [("o_orderkey", "ok"), ("o_custkey", "ck")],
        "lineitem": [("l_orderkey", "ok"), ("l_partkey", "pk"), ("l_suppkey", "sk")],
        "events": [("event_id", "ev"), ("user_id", "uid")],
        "embeddings": [("vec_id", "vid")],
    }
    for name, t in tabs.items():
        chunks = []
        for k in range(REPLICAS):
            r = t
            for col, sp in shifts[name]:
                if k:
                    r = r.set_column(
                        r.schema.get_field_index(col), col, pc.add(r[col], k * span[sp])
                    )
            chunks.append(r)
        pq.write_table(pa.concat_tables(chunks), os.path.join(DST, f"{name}.parquet"))

    docs = pq.read_table(os.path.join(SRC, "documents.parquet")).to_pandas()
    did_span = int(docs["doc_id"].max()) + 1
    frames = []
    for k in range(REPLICAS):
        d = docs.copy()
        if k:
            d["doc_id"] = d["doc_id"] + k * did_span
            suffix = f"_r{k}"
            d["text"] = d["text"].map(lambda s: re.sub(r"\S+", lambda m: m.group(0) + suffix, s))
            d["n_chars"] = d["text"].str.len()
        frames.append(d)
    pq.write_table(
        pa.Table.from_pandas(pd.concat(frames, ignore_index=True), preserve_index=False),
        os.path.join(DST, "documents.parquet"),
    )
    for t in ("region", "nation"):
        p = os.path.join(DST, f"{t}.parquet")
        if not os.path.exists(p):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), p)
    open(os.path.join(DST, "_READY"), "w").write("ok\n")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flag_ratio = 15.0
    for a in sys.argv[1:]:
        if a.startswith("--flag-ratio"):
            flag_ratio = float(a.split("=", 1)[1])
    build_scaled()

    from pyspark.sql import SparkSession

    from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all

    _load_all()
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("scale-sweep")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id LONG").count()

    names = args or list(QUERIES)
    out = {}
    for name in names:
        spec = QUERIES[name]
        row = {}
        try:
            for label, sf in (("sf01", SRC), ("sf1", DST)):
                t0 = time.perf_counter()
                spec.spark_fn(spark, sf).collect()
                row[label] = round(time.perf_counter() - t0, 2)
            row["growth"] = round(row["sf1"] / max(row["sf01"], 0.05), 1)
        except Exception as e:  # noqa: BLE001 — sweep must survive any query
            row["err"] = str(e).split("\n")[0][:200]
        out[name] = row
        flag = " <-- CLIFF?" if row.get("growth", 0) > flag_ratio else ""
        print(name, json.dumps(row), flag, flush=True)
        spark.catalog.clearCache()

    cliffs = {n: r for n, r in out.items() if r.get("growth", 0) > flag_ratio}
    errs = {n: r for n, r in out.items() if "err" in r}
    print(json.dumps({"cliffs": cliffs, "errors": errs}))
    spark.stop()


if __name__ == "__main__":
    main()
