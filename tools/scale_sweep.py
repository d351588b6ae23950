"""The sf1 corpus: every sf0.1 table 10x by key-shifted replication.

``build_scaled()`` writes ``.scale/sf1full/`` under the repo root, with
foreign keys shifted CONSISTENTLY so joins keep TPC-H cardinality shape
(each replica is a disjoint sub-database, which is exactly how TPC-H grows
with SF).  Time queries on it with ``tools/ab.py``: a variant
``{"sf": ".scale/sf1full"}`` against the sf0.1 base gives each query's
wall growth (``wall_ratio``), which is how the round-7 sweep caught
dedup/ngram.py's memory-gated-but-cost-blind dense sgemm (125 s at sf1; the
join path does it in 18 s).

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

Usage: python tools/scale_sweep.py   (prints the corpus dir)
"""

from __future__ import annotations

import os
import re

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1full")
REPLICAS = 10


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


if __name__ == "__main__":
    build_scaled()
    print(DST)
