"""Semantics + plan assertions for the round-5 analytics family
(plans/analytics_queries.py): triangle counting, Markov transitions,
snapshot diff, Pareto skyline, FK audit, audience overlap, posting lists."""

from __future__ import annotations

import itertools

import pytest

from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module", autouse=True)
def _load():
    _load_all()


def test_triangle_count_matches_bruteforce(spark):
    df = QUERIES["triangle_count"].spark_fn(spark, SF_SMOKE)
    got = {r["node"]: r["triangles"] for r in df.collect()}
    # brute force from the same parquet: undirected co-purchase edges, then
    # per-node triangle membership counts
    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    by_order: dict[int, set[int]] = {}
    for r in li:
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edges: set[tuple[int, int]] = set()
    for parts in by_order.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            edges.add((a, b))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri_per_node: dict[int, int] = {}
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c: count each triangle once
                for n in (a, b, c):
                    tri_per_node[n] = tri_per_node.get(n, 0) + 1
    want = dict(
        sorted(tri_per_node.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    )
    assert got == want


def test_triangle_count_plan_broadcast_probe_no_cartesian(spark):
    df = QUERIES["triangle_count"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the closing-edge probe must be a broadcast semi-join, not a shuffle of
    # the wedge relation
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_markov_transitions_probabilities_normalize(spark):
    rows = QUERIES["markov_transitions"].spark_fn(spark, SF_SMOKE).collect()
    assert rows, "no transitions"
    by_prev: dict[str, float] = {}
    n_total = 0
    for r in rows:
        by_prev[r["prev_type"]] = by_prev.get(r["prev_type"], 0.0) + r["prob"]
        n_total += r["n"]
    for prev, s in by_prev.items():
        assert abs(s - 1.0) < 1e-4, (prev, s)
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # every user's sequence yields len-1 transitions
    assert n_total == n_events - n_users


def test_snapshot_diff_status_semantics(spark):
    rows = QUERIES["snapshot_diff"].spark_fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # s1 users are a subset of s2 users, so v_new is always present
        assert r["v_new"] is not None
        if r["status"] == "added":
            assert r["v_old"] is None
        elif r["status"] == "unchanged":
            assert r["v_old"] == r["v_new"]
        else:
            assert r["status"] == "changed"
            assert r["v_old"] is not None and r["v_old"] != r["v_new"]


def test_skyline_pareto_matches_bruteforce(spark):
    got = {
        (r["p_partkey"], r["price"], r["p_size"])
        for r in QUERIES["skyline_pareto"].spark_fn(spark, SF_SMOKE).collect()
    }
    parts = [
        (r["p_partkey"], r["p_retailprice"], r["p_size"])
        for r in spark.read.parquet(f"{SF_SMOKE}/part.parquet").collect()
    ]
    want = set()
    for pk, price, size in parts:
        dominated = any(
            q_price <= price
            and q_size >= size
            and (q_price < price or q_size > size)
            for _, q_price, q_size in parts
        )
        if not dominated:
            import math

            want.add((pk, math.floor(price * 100 + 0.5) / 100, size))
    assert got == want


def test_fk_integrity_audit_consistent_testdata(spark):
    rows = QUERIES["fk_integrity_audit"].spark_fn(spark, SF_SMOKE).collect()
    assert len(rows) == 8
    by_rel = {r["relation"]: r for r in rows}
    # generated testdata is referentially consistent on every edge
    for rel, r in by_rel.items():
        assert r["orphan_rows"] == 0, rel
        assert r["child_rows"] > 0, rel
    li_n = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").count()
    assert by_rel["lineitem.orderkey->orders"]["child_rows"] == li_n


def test_fk_integrity_audit_detects_orphans(spark, tmp_path):
    # inject an orphan: copy sf0.001 nation but drop a region row
    import shutil
    import os

    d = tmp_path / "sf"
    d.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    import pandas as pd

    reg = pd.read_parquet(d / "region.parquet")
    broken = reg[reg.r_regionkey != reg.r_regionkey.min()]
    os.remove(d / "region.parquet")
    broken.to_parquet(d / "region.parquet")
    rows = QUERIES["fk_integrity_audit"].spark_fn(spark, str(d)).collect()
    nr = {r["relation"]: r for r in rows}["nation.regionkey->region"]
    assert nr["orphan_rows"] > 0


def test_audience_overlap_bounds_and_pairs(spark):
    rows = QUERIES["audience_overlap"].spark_fn(spark, SF_SMOKE).collect()
    types = set()
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert 0 < r["jaccard"] <= 1.0
        assert r["overlap"] >= 1
        types.update((r["type_a"], r["type_b"]))
    # all unordered pairs of the observed types are present or had empty
    # intersections; with 5 event types the full matrix is 10 rows
    assert len(rows) <= len(types) * (len(types) - 1) // 2


def test_inverted_index_postings_cap_sorted_prefix(spark):
    rows = QUERIES["inverted_index_postings"].spark_fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        ids = [int(x) for x in r["postings"].split(",")]
        assert ids == sorted(ids)
        assert len(ids) <= 20
        assert r["df"] >= len(ids)
        # the cap keeps the LOWEST doc_ids: len < cap implies df == len
        if len(ids) < 20:
            assert r["df"] == len(ids)


def test_prefix_filter_jaccard_matches_bruteforce(spark):
    rows = QUERIES["prefix_filter_jaccard"].spark_fn(spark, SF_SMOKE).collect()
    got = {(r["doc_a"], r["doc_b"]): (r["inter_sz"], r["union_sz"]) for r in rows}
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    sets = {}
    for r in docs:
        toks = r["text"].strip().split()
        sets[r["doc_id"]] = {
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if 10 * inter >= 6 * union:
                want[(a, b)] = (inter, union)
    assert got == want
    plan = QUERIES["prefix_filter_jaccard"].spark_fn(spark, SF_SMOKE)
    assert "CartesianProduct" not in _plan(plan)


def test_attribution_last_touch_semantics(spark):
    rows = QUERIES["attribution_last_touch"].spark_fn(spark, SF_SMOKE).collect()
    ev = sorted(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    # brute force: walk each user's stream remembering the last view/click
    last_mkt = {}
    want = {}
    for r in ev:
        u = r["user_id"]
        if r["event_type"] in ("view", "click"):
            last_mkt[u] = r
        elif r["event_type"] == "purchase":
            m = last_mkt.get(u)
            if m is not None and (r["ts"] - m["ts"]).total_seconds() <= 86400:
                want[r["event_id"]] = (m["event_id"], m["event_type"])
            else:
                want[r["event_id"]] = (None, "none")
    assert len(rows) == len(want)
    for r in rows:
        mid, mtype = want[r["purchase_id"]]
        assert r["mkt_event_id"] == mid and r["mkt_type"] == mtype
        if mid is None:
            assert r["mins_since"] is None
        else:
            assert r["mins_since"] is not None and r["mins_since"] >= 0


def test_pmi_copurchase_matches_bruteforce(spark):
    import itertools
    import math

    rows = QUERIES["pmi_copurchase"].spark_fn(spark, SF_SMOKE).collect()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    baskets = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    n_orders = len(baskets)
    marg, pair_n = {}, {}
    for parts in baskets.values():
        for p in parts:
            marg[p] = marg.get(p, 0) + 1
        for a, b in itertools.combinations(sorted(parts), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    scored = [
        (
            math.floor(
                math.log(n * n_orders / (marg[a] * marg[b])) * 1e6 + 0.5
            )
            / 1e6,
            a,
            b,
            n,
        )
        for (a, b), n in pair_n.items()
        if n >= 3
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [(a, b, n, pmi) for pmi, a, b, n in scored[:50]]
    got = [(r["part_a"], r["part_b"], r["n_ab"], r["pmi"]) for r in rows]
    assert got == want


def test_quantile_normalize_matches_bruteforce(spark):
    rows = QUERIES["quantile_normalize_source"].spark_fn(spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    ).collect()
    g = sorted((r["n_chars"], r["doc_id"]) for r in docs)
    gvals = [v for v, _ in g]
    N = len(g)
    by_source = {}
    for r in docs:
        by_source.setdefault(r["source"], []).append((r["n_chars"], r["doc_id"]))
    want = {}
    for src, items in by_source.items():
        items.sort()
        n_s = len(items)
        for rk, (v, did) in enumerate(items, start=1):
            want[did] = gvals[(rk * N + n_s - 1) // n_s - 1]
    got = {r["doc_id"]: r["normalized"] for r in rows}
    assert got == want
    # every source's max maps to the global max
    gmax = max(gvals)
    for src, items in by_source.items():
        top_doc = items[-1][1]
        assert got[top_doc] == gmax


def test_source_keyness_llr_nonnegative_and_shape(spark):
    rows = QUERIES["source_keyness_llr"].spark_fn(spark, SF_SMOKE).collect()
    per_source = {}
    for r in rows:
        assert r["llr"] >= -1e-9  # LLR = 2*KL >= 0 (rounded)
        per_source.setdefault(r["source"], []).append(r)
    for src, rs in per_source.items():
        assert len(rs) == 5
        ranks = sorted(r["term_rank"] for r in rs)
        assert ranks == [1, 2, 3, 4, 5]
        # scores are non-increasing in rank order
        by_rank = sorted(rs, key=lambda r: r["term_rank"])
        for a, b in zip(by_rank, by_rank[1:]):
            assert a["llr"] >= b["llr"]


def test_label_propagation_matches_bruteforce(spark):
    rows = QUERIES["label_propagation_communities"].spark_fn(spark, SF_SMOKE).collect()
    got = {r["node"]: r["label"] for r in rows}
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order = {}
    for r in li:
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edges = set()
    for parts in by_order.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            edges.add((a, b))
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(4):
        new = {}
        for n, nbrs in adj.items():
            counts = {}
            for m in nbrs:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            new[n] = min(counts, key=lambda l: (-counts[l], l))
        labels = new
    assert got == labels


def test_robust_stats_outliers_semantics(spark):
    rows = QUERIES["robust_stats_outliers"].spark_fn(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_type", "value"
    ).collect()
    import statistics

    by_type = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for r in rows:
        vals = sorted(by_type[r["event_type"]])
        med = statistics.median(vals)  # interpolated for even n, like both engines
        mad = statistics.median(sorted(abs(v - med) for v in vals))
        n_out = sum(1 for v in vals if abs(v - med) > 3.0 * 1.4826 * mad)
        assert abs(r["median"] - med) < 1e-3
        assert abs(r["mad"] - mad) < 1e-3
        assert r["n_outliers"] == n_out
        # winsorized mean is pulled toward the center vs raw mean when tails exist
        assert min(vals) <= r["winsorized_mean"] <= max(vals)


def test_ewma_daily_value_semantics(spark):
    rows = QUERIES["ewma_daily_value"].spark_fn(spark, SF_SMOKE).collect()
    assert rows
    daily = {}
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    agg = {}
    for r in ev:
        k = (r["event_type"], r["ts"].date())
        agg.setdefault(k, []).append(r["value"])
    for k, vs in agg.items():
        daily[k] = sum(vs) / len(vs)
    import datetime

    for r in rows:
        t, d = r["event_type"], r["day"]
        num = den = 0.0
        for off in range(7):
            k = (t, d - datetime.timedelta(days=off))
            if k in daily:
                w = float(1 << (6 - off))
                num += daily[k] * w
                den += w
        assert abs(r["ewma"] - num / den) < 1e-3, (t, d)
        assert abs(r["raw_value"] - daily[(t, d)]) < 1e-3


def test_reciprocal_best_match_bruteforce(spark):
    import numpy as np

    rows = QUERIES["reciprocal_best_match"].spark_fn(spark, SF_SMOKE).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in rows}
    assert rows, "no mutual pairs"
    # recompute within-cell best matches brute force
    from acousticbrainz_server_spark.similarity.kmeans import (
        kmeans_assign,
        load_centroids,
    )
    from acousticbrainz_server_spark.plans.vectors import _vectors, AB_FIXTURE_DIR
    import os
    from pyspark.sql import functions as F

    v = _vectors(spark, SF_SMOKE).select("vec_id", "v")
    centroids = load_centroids(
        spark, os.path.join(AB_FIXTURE_DIR, "kmeans_centroids.parquet")
    )
    cells = kmeans_assign(v, centroids, id_col="vec_id", vec_col="v").collect()
    by_cell = {}
    for r in cells:
        by_cell.setdefault(r["cell"], []).append((r["vec_id"], np.array(r["v"])))
    best = {}
    for cell, items in by_cell.items():
        items.sort()
        for i, (ida, va) in enumerate(items):
            cand = []
            for j, (idb, vb) in enumerate(items):
                if i == j:
                    continue
                cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                cos = np.floor(cos * 1e4 + 0.5) / 1e4
                cand.append((-cos, idb))
            if cand:
                best[ida] = min(cand)[1]
    want = {
        (a, b) for a, b in ((a, best[a]) for a in best) if best.get(b) == a and a < b
    }
    assert got == want


def test_session_path_topk_recompute(spark):
    rows = QUERIES["session_path_topk"].spark_fn(spark, SF_SMOKE).collect()
    ev = sorted(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect(),
        key=lambda r: (r["user_id"], r["ts"].date(), r["ts"], r["event_id"]),
    )
    firsts = {}
    for r in ev:
        k = (r["user_id"], r["ts"].date())
        firsts.setdefault(k, [])
        if len(firsts[k]) < 3:
            firsts[k].append(r["event_type"])
    counts = {}
    for path in (">".join(v) for v in firsts.values()):
        counts[path] = counts.get(path, 0) + 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["path"], r["n_user_days"]) for r in rows]
    assert got == want


def test_degree_distribution_totals(spark):
    rows = QUERIES["degree_distribution"].spark_fn(spark, SF_SMOKE).collect()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order = {}
    for r in li:
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edges = set()
    for parts in by_order.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            edges.add((a, b))
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    want = {}
    for d in deg.values():
        want[d] = want.get(d, 0) + 1
    assert {r["degree"]: r["n_nodes"] for r in rows} == want
    # identity: sum over (degree * n_nodes) = 2|E|
    assert sum(r["degree"] * r["n_nodes"] for r in rows) == 2 * len(edges)


def test_frequent_itemsets_monotone_and_exact_singletons(spark):
    rows = QUERIES["frequent_itemsets_fpgrowth"].spark_fn(spark, SF_SMOKE).collect()
    freq = {r["items"]: r["freq"] for r in rows}
    assert rows
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    # exact singleton counts
    single = {}
    for parts in baskets.values():
        for p in parts:
            single[str(p)] = single.get(str(p), 0) + 1
    for items, f in freq.items():
        parts = items.split(",")
        if len(parts) == 1:
            assert single[items] == f
        else:
            # anti-monotonicity: an itemset is never more frequent than any
            # of its members
            for p in parts:
                assert f <= single[p], (items, f, p)


def test_bfs_shortest_paths_bruteforce(spark):
    rows = QUERIES["bfs_shortest_paths"].spark_fn(spark, SF_SMOKE).collect()
    got = {r["node"]: r["dist"] for r in rows}
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order = {}
    for r in li:
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    adj = {}
    for parts in by_order.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    # python BFS to 4 hops from node 0
    want = {0: 0}
    frontier = [0]
    for d in range(1, 5):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in want:
                    want[v] = d
                    nxt.append(v)
        frontier = nxt
    assert got == want


def test_class_centroids_numpy(spark):
    import numpy as np

    rows = QUERIES["class_centroids"].spark_fn(spark, SF_SMOKE).collect()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(np.array(r["embedding"], dtype=np.float64))
    for r in rows:
        m = np.stack(by_label[r["label"]]).mean(axis=0)
        assert abs(r["mean"] - m[r["dim"]]) < 1e-5
        assert r["n"] == len(by_label[r["label"]])
    dims = {r["dim"] for r in rows}
    assert dims == set(range(64))


def test_label_propagation_random_graphs(spark):
    """Seeded random graphs: the operator must equal the python reference
    sync-LPA on shapes beyond the co-purchase corpus (chains, stars,
    disconnected blobs all occur at p=0.12, n=24)."""
    import random

    from acousticbrainz_server_spark.operators.graph import label_propagation

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n = 24
        und = {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.12}
        if not und:
            continue
        edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
        df = spark.createDataFrame(edges, "src LONG, dst LONG")
        got = {r["node"]: r["label"] for r in label_propagation(df, iterations=3).collect()}
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        labels = {v: v for v in adj}
        for _ in range(3):
            labels = {
                v: min(
                    (l for l in {labels[m] for m in adj[v]}),
                    key=lambda l: (-sum(1 for m in adj[v] if labels[m] == l), l),
                )
                for v in adj
            }
        assert got == labels, f"seed {seed}"


def test_python_datasource_partition_invariance(spark):
    from acousticbrainz_server_spark.sources.pydatasource import (
        register_synth_source,
        synth_row,
    )

    register_synth_source(spark)
    one = (
        spark.read.format("synthevents").option("n", 500).option("partitions", 1).load()
    )
    many = (
        spark.read.format("synthevents").option("n", 500).option("partitions", 7).load()
    )
    rows_one = sorted(tuple(r) for r in one.collect())
    rows_many = sorted(tuple(r) for r in many.collect())
    assert rows_one == rows_many
    assert len(rows_one) == 500
    # spot-check the row formula against the python reference
    assert rows_one[42] == synth_row(42)
    # the reader parallelizes: distinct partition count reaches the option
    assert many.rdd.getNumPartitions() == 7


def test_python_datasource_arrow_path_identical(spark):
    from acousticbrainz_server_spark.sources.pydatasource import register_synth_source

    register_synth_source(spark)
    plain = (
        spark.read.format("synthevents").option("n", 300).option("partitions", 3).load()
    )
    arrow = (
        spark.read.format("synthevents")
        .option("n", 300)
        .option("partitions", 3)
        .option("arrow", "true")
        .load()
    )
    assert sorted(tuple(r) for r in plain.collect()) == sorted(
        tuple(r) for r in arrow.collect()
    )


def test_global_rank_twopass_no_single_partition_window(spark):
    from acousticbrainz_server_spark.functions.rank import global_row_number
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "n_chars")
    ranked = global_row_number(d, "n_chars", "doc_id", num_partitions=5)
    plan = _plan(ranked)
    # every Window node must partition on _pid — a bare global-order window
    # would show an empty partition spec
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in m.group(1), plan
    got = {r["doc_id"]: r["global_rank"] for r in ranked.collect()}
    w = Window.orderBy("n_chars", "doc_id")
    want = {
        r["doc_id"]: r["rk"]
        for r in d.withColumn("rk", F.row_number().over(w).cast("long")).collect()
    }
    assert got == want


def test_python_datasource_writer_roundtrip(spark, tmp_path):
    import json
    import os

    from acousticbrainz_server_spark.sources.pydatasource import register_jsonlines_sink

    register_jsonlines_sink(spark)
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    out = str(tmp_path / "jl")
    src.write.format("jsonlines_py").option("path", out).mode("append").save()
    # two-phase commit: manifest present, no in-progress stragglers
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert sum(f["rows"] for f in manifest["files"]) == src.count()
    assert not [f for f in os.listdir(out) if f.endswith(".inprogress")]
    back = spark.read.json(os.path.join(out, "*.jsonl"))
    got = {(r["doc_id"], r["source"], r["n_chars"]) for r in back.collect()}
    want = {(r["doc_id"], r["source"], r["n_chars"]) for r in src.collect()}
    assert got == want

    n = src.count()
    # APPEND again: per-commit uuid file names must not collide with or
    # overwrite the first generation — both remain visible, manifest merges
    src.write.format("jsonlines_py").option("path", out).mode("append").save()
    manifest2 = json.load(open(os.path.join(out, "_SUCCESS")))
    assert sum(f["rows"] for f in manifest2["files"]) == 2 * n
    assert len({f["file"] for f in manifest2["files"]}) == len(manifest2["files"])
    assert spark.read.json(os.path.join(out, "*.jsonl")).count() == 2 * n

    # OVERWRITE: every earlier generation's part files cleared — exactly one
    # generation visible, no mixed reads
    src.limit(5).write.format("jsonlines_py").option("path", out).mode(
        "overwrite"
    ).save()
    manifest3 = json.load(open(os.path.join(out, "_SUCCESS")))
    assert sum(f["rows"] for f in manifest3["files"]) == 5
    on_disk = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert sorted(on_disk) == sorted(f["file"] for f in manifest3["files"])
    assert spark.read.json(os.path.join(out, "*.jsonl")).count() == 5


def test_new_query_plan_assertions(spark):
    """Physical-plan spot checks for the session's additions: the broadcast
    and no-cartesian properties the scale story claims."""
    plans = {
        name: _plan(QUERIES[name].spark_fn(spark, SF_SMOKE))
        for name in (
            "audience_overlap",
            "pmi_copurchase",
            "ewma_daily_value",
            "markov_transitions",
            "attribution_last_touch",
        )
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
    # marginals/sizes ride broadcast joins, not shuffles
    assert "BroadcastHashJoin" in plans["audience_overlap"]
    assert "BroadcastHashJoin" in plans["pmi_copurchase"]
    # the sequence queries are one-shuffle window plans: exactly one
    # user_id exchange feeds the window
    assert plans["markov_transitions"].count("Exchange hashpartitioning(user_id") == 1
    assert plans["attribution_last_touch"].count("Exchange hashpartitioning(user_id") == 1


def test_dedup_stack_scales_10x(spark):
    """Scale-stress: replicate the sf0.001 corpus 10x (distinct doc_ids,
    perturbed text so replicas are near- but not exact dups) and assert the
    MinHash+LSH pipeline still runs through its bucketed plan — no
    cartesian product, candidate count far below the all-pairs bound, and
    wall bounded.  This is the 'would it survive 100x' check run at 10x."""
    import time

    from acousticbrainz_server_spark.dedup.minhash import minhash_neardup_pairs
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    n0 = d.count()
    reps = spark.range(10).select(F.col("id").alias("rep"))
    big = (
        d.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            # perturb: prepend a replica marker token so copies are near-dups
            F.concat(F.lit("rep"), F.col("rep").cast("string"), F.lit(" "), F.col("text")).alias("text"),
        )
    )
    assert big.count() == 10 * n0
    t0 = time.time()
    pairs = minhash_neardup_pairs(big, n_hashes=8, n_bands=4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    n_pairs = pairs.count()
    wall = time.time() - t0
    # all-pairs would be (10*n0)^2/2 ~ 12.5M; the corpus is heavily
    # self-similar by construction (10 near-identical replicas per doc,
    # plus template overlap), so candidates are legitimately dense — the
    # structural claim is they stay an order below all-pairs
    assert n_pairs < (10 * n0) ** 2 / 10, n_pairs
    assert wall < 120, f"minhash 10x took {wall:.0f}s"


def test_sequence_pattern_match_bruteforce(spark):
    import re

    rows = QUERIES["sequence_pattern_match"].spark_fn(spark, SF_SMOKE).collect()
    got = {(r["user_id"], r["day"]): r["n_matches"] for r in rows}
    ev = sorted(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect(),
        key=lambda r: (r["user_id"], r["ts"].date(), r["ts"], r["event_id"]),
    )
    paths = {}
    for r in ev:
        k = (r["user_id"], r["ts"].date())
        paths[k] = paths.get(k, "") + r["event_type"][0].upper()
    want = {
        k: len(re.findall("VC*P", p)) for k, p in paths.items() if re.findall("VC*P", p)
    }
    assert got == want


def test_numeric_corr_matrix_numpy(spark):
    import numpy as np

    row = QUERIES["numeric_corr_matrix"].spark_fn(spark, SF_SMOKE).collect()[0]
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    ).toPandas()
    c = np.corrcoef(li.to_numpy().T)
    assert row["n"] == len(li)
    assert abs(row["corr_quantity_extendedprice"] - c[0, 1]) < 1e-3
    assert abs(row["corr_discount_tax"] - c[2, 3]) < 1e-3


def test_regression_value_drift_numpy(spark):
    import numpy as np

    rows = QUERIES["regression_value_drift"].spark_fn(spark, SF_SMOKE).collect()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    ev["t_days"] = ev["ts"].astype("int64") / 1e3 / 86400e6
    for r in rows:
        g = ev[ev.event_type == r["event_type"]]
        slope, intercept = np.polyfit(g["t_days"], g["value"], 1)
        assert abs(r["slope_per_day"] - slope) < 1e-3
        assert abs(r["intercept"] - intercept) < 1e-1
        assert 0.0 <= r["r2"] <= 1.0
        assert r["n"] == len(g)


def test_band_join_uses_broadcast_nested_loop(spark):
    df = QUERIES["band_join_boundaries"].spark_fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    rows = {r["band"]: r["n"] for r in df.collect()}
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    import collections

    want = collections.Counter()
    for r in ev:
        v = r["value"]
        if v < 20: want["low"] += 1
        elif v < 60: want["mid"] += 1
        elif v < 90: want["high"] += 1
        else: want["extreme"] += 1
    assert rows == dict(want)


def test_observation_api_metrics(spark):
    """df.observe(): collect side metrics during a real query without a
    second pass — the instrumented-pipeline API.  Runs on a newSession():
    a session that has ever registered an Observation carries a
    non-serializable ObservationManager that later MLlib evaluator
    closures trip over (found the hard way: the shared-session form made
    the SVM tests fail with NotSerializableException when run after
    this one)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark = spark.newSession()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    obs = Observation("ingest_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(F.col("value") > 90, 1).otherwise(0)).alias("n_extreme"),
    )
    out = observed.groupBy("event_type").count().collect()
    assert len(out) == 5
    m = obs.get
    assert m["rows_seen"] == ev.count()
    assert m["n_extreme"] == ev.filter(F.col("value") > 90).count()


def test_registry_hygiene(spark):
    """Meta-test: every registered query has a family tag, a doc, unique
    output column names, and an oracle referencing only driver tables (or
    fixture parquet paths)."""
    import re

    allowed_tables = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name, spec in QUERIES.items():
        assert spec.family, name
        assert spec.doc and len(spec.doc) > 20, name
        if spec.oracle is None:
            continue
        # FROM/JOIN targets must be driver tables, CTE names, or
        # read_parquet fixtures
        ctes = set(
            re.findall(r"(\w+)\s*(?:\([\w, ]*\))?\s+AS\s*(?:MATERIALIZED\s*)?\(", spec.oracle, re.I)
        )
        targets = re.findall(r"(?:FROM|JOIN)\s+([a-zA-Z_][\w.]*)", spec.oracle)
        for t in targets:
            base = t.split(".")[0].lower()
            assert (
                base in allowed_tables
                or t in ctes
                or base in {c.lower() for c in ctes}
                or base in {"read_parquet", "range", "generate_series", "unnest", "values"}
            ), (name, t)


def test_registry_head_names_registered(spark):
    """Every DRIVER_ORDER_HEAD name must be a registered query — a typo
    would silently drop a slot from the driver's 50-entry gate window."""
    from acousticbrainz_server_spark.plans.registry import DRIVER_ORDER_HEAD

    missing = [n for n in DRIVER_ORDER_HEAD if n not in QUERIES]
    assert not missing, missing


def test_cuped_reduces_variance(spark):
    """CUPED's point: the adjusted metric has lower between-user variance
    than the raw one whenever pre and post correlate.  Verify the
    variance actually drops on this corpus, and that the adjustment is
    mean-preserving overall (sum over arms weighted by n)."""
    import numpy as np

    rows = QUERIES["cuped_adjusted_metric"].spark_fn(spark, SF_SMOKE).collect()
    assert len(rows) == 2
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    import pandas as pd

    split = pd.Timestamp("2024-01-16")
    pre = ev[ev.ts < split].groupby("user_id")["value"].sum()
    post = ev[ev.ts >= split].groupby("user_id")["value"].sum()
    users = sorted(set(ev.user_id))
    pre = pre.reindex(users, fill_value=0.0)
    post = post.reindex(users, fill_value=0.0)
    theta = np.cov(post, pre, ddof=1)[0, 1] / np.var(pre, ddof=1)
    adj = post - theta * (pre - pre.mean())
    assert np.var(adj, ddof=1) < np.var(post, ddof=1)
    # overall mean preserved by construction
    assert abs(adj.mean() - post.mean()) < 1e-9
    # per-arm python recompute matches
    arm = {u: int(__import__("hashlib").md5(str(u).encode()).hexdigest()[:8], 16) % 2 for u in users}
    for r in rows:
        sel = [u for u in users if arm[u] == r["arm"]]
        want = adj[sel].mean()
        assert abs(r["cuped_mean"] - want) < 1e-3


def test_join_strategy_hints_control_physical_operator(spark):
    """Join-strategy hints are the engine's physical-strategy control
    surface: the same logical join planned three ways on demand."""
    a = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    b = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    j_default = a.join(b, a.o_custkey == b.c_custkey)
    j_shuffle_hash = a.join(b.hint("shuffle_hash"), a.o_custkey == b.c_custkey)
    j_merge = a.join(b.hint("merge"), a.o_custkey == b.c_custkey)
    p_hash = _plan(j_shuffle_hash)
    p_merge = _plan(j_merge)
    assert "ShuffledHashJoin" in p_hash
    assert "SortMergeJoin" in p_merge
    # all three agree on the result
    n = j_default.count()
    assert j_shuffle_hash.count() == n and j_merge.count() == n


def test_categorical_mi_entropy_information_inequalities(spark):
    import collections
    import math

    row = QUERIES["categorical_mi_entropy"].spark_fn(spark, SF_SMOKE).collect()[0]
    # information inequalities
    assert row["mutual_info"] >= -1e-9
    assert row["mutual_info"] <= min(row["h_type"], row["h_dow"]) + 1e-9
    assert row["h_joint"] <= row["h_type"] + row["h_dow"] + 1e-9
    # python recompute
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    joint = collections.Counter(
        (r["event_type"], r["ts"].weekday()) for r in ev
    )
    n = sum(joint.values())

    def H(counts):
        return -sum(c / n * math.log(c / n) for c in counts)

    ha = H(collections.Counter(k[0] for k in joint.elements()).values())
    hb = H(collections.Counter(k[1] for k in joint.elements()).values())
    hab = H(joint.values())
    assert abs(row["h_type"] - ha) < 1e-4
    assert abs(row["h_dow"] - hb) < 1e-4
    assert abs(row["mutual_info"] - (ha + hb - hab)) < 1e-4


def test_decile_lift_table_invariants(spark):
    rows = sorted(
        QUERIES["decile_lift_table"].spark_fn(spark, SF_SMOKE).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    # scores non-increasing across deciles (decile 1 = best-scored users)
    for a, b in zip(rows, rows[1:]):
        assert a["avg_score"] >= b["avg_score"]
    # gains monotone to 1.0; rates within [0,1]; sizes cover all users
    assert abs(rows[-1]["cum_gain"] - 1.0) < 1e-6
    for a, b in zip(rows, rows[1:]):
        assert a["cum_gain"] <= b["cum_gain"] + 1e-9
    n_users = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select("user_id").distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users


def test_kaplan_meier_matches_lifelines_style_reference(spark):
    """Brute-force KM recompute (the lifelines algorithm) on sf0.001."""
    rows = sorted(
        QUERIES["kaplan_meier_conversion"].spark_fn(spark, SF_SMOKE).collect(),
        key=lambda r: r["dur_us"],
    )
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    first_ev, first_buy, mx = {}, {}, max(r["ts"] for r in ev)
    for r in ev:
        u = r["user_id"]
        if u not in first_ev or r["ts"] < first_ev[u]:
            first_ev[u] = r["ts"]
        if r["event_type"] == "purchase" and (u not in first_buy or r["ts"] < first_buy[u]):
            first_buy[u] = r["ts"]
    def us(td):
        return (td.days * 86400 + td.seconds) * 10**6 + td.microseconds

    durs = []
    for u, fe in first_ev.items():
        if u in first_buy:
            durs.append((us(first_buy[u] - fe), 1))
        else:
            durs.append((us(mx - fe), 0))
    import collections

    d_at = collections.Counter(int(t) for t, c in durs if c == 1)
    surv, prev = {}, 1.0
    for t in sorted(d_at):
        n_risk = sum(1 for x, _ in durs if x >= t)
        prev *= 1.0 - d_at[t] / n_risk
        surv[t] = prev
    assert len(rows) == len(surv)
    for r in rows:
        assert abs(r["survival"] - surv[r["dur_us"]]) < 1e-5, r
    # survival is non-increasing and in [0, 1]
    vals = [r["survival"] for r in rows]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert all(a >= b - 1e-9 for a, b in zip(vals, vals[1:]))


def test_model_auc_matches_sklearn_style_reference(spark):
    """Brute-force AUC recompute: fraction of (pos, neg) pairs the score
    orders correctly, ties counting half — the textbook definition the
    Mann-Whitney rank form must equal exactly."""
    import pandas as pd

    row = QUERIES["model_auc_mannwhitney"].spark_fn(spark, SF_SMOKE).collect()[0]
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    split = pd.Timestamp("2024-01-16")
    pre = ev[ev.ts < split].groupby("user_id")["value"].sum()
    post = ev[(ev.ts >= split) & (ev.event_type == "error") & (ev.value > 90)]
    users = sorted(set(ev.user_id))
    score = pre.reindex(users, fill_value=0.0)
    label = {u: 1 if u in set(post.user_id) else 0 for u in users}
    pos = [score[u] for u in users if label[u] == 1]
    neg = [score[u] for u in users if label[u] == 0]
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    assert abs(row["auc"] - wins / (len(pos) * len(neg))) < 1e-5


def test_anomaly_zscore_days_recompute(spark):
    import statistics

    rows = QUERIES["anomaly_zscore_days"].spark_fn(spark, SF_SMOKE).collect()
    assert rows
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    daily = {}
    for r in ev:
        k = (r["event_type"], r["ts"].date())
        daily.setdefault(k, []).append(r["value"])
    daily = {k: sum(v) / len(v) for k, v in daily.items()}
    import datetime

    for r in rows[:50]:
        base = [
            daily[(r["event_type"], r["day"] - datetime.timedelta(days=o))]
            for o in range(1, 8)
            if (r["event_type"], r["day"] - datetime.timedelta(days=o)) in daily
        ]
        assert r["n_base"] == len(base)
        if len(base) >= 2:
            mu = sum(base) / len(base)
            sigma = statistics.stdev(base)
            want = (daily[(r["event_type"], r["day"])] - mu) / sigma
            assert abs(r["zscore"] - want) < 1e-3


def test_abc_analysis_pareto_structure(spark):
    rows = QUERIES["abc_analysis"].spark_fn(spark, SF_SMOKE).collect()
    by_class = {}
    for r in rows:
        by_class.setdefault(r["abc_class"], []).append(r)
    assert set(by_class) == {"A", "B", "C"}
    # the synthetic revenue distribution is near-uniform (no real-world
    # Pareto skew), so assert the CLASSIFICATION structure, not skew:
    # classes are contiguous in revenue order
    min_rev = {c: min(r["revenue"] for r in by_class[c]) for c in "ABC"}
    max_rev = {c: max(r["revenue"] for r in by_class[c]) for c in "ABC"}
    assert min_rev["A"] >= max_rev["B"] >= min_rev["B"] >= max_rev["C"]
    # thresholds hold exactly on the rounded shares
    max_share = {c: max(r["cum_share"] for r in by_class[c]) for c in "ABC"}
    assert max_share["A"] <= 0.80 + 1e-9
    assert max_share["B"] <= 0.95 + 1e-9
    assert abs(max_share["C"] - 1.0) < 1e-6


def test_conversion_wilson_ci_properties(spark):
    rows = QUERIES["conversion_wilson_ci"].spark_fn(spark, SF_SMOKE).collect()
    assert rows
    import math

    z = 1.959963985
    for r in rows:
        assert 0.0 <= r["ci_low"] <= r["rate"] <= r["ci_high"] <= 1.0
        # recompute the Wilson bounds
        p, n = r["conversions"] / r["n"], r["n"]
        denom = 1 + z * z / n
        center = p + z * z / (2 * n)
        margin = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        assert abs(r["ci_low"] - (center - margin) / denom) < 1e-5
        assert abs(r["ci_high"] - (center + margin) / denom) < 1e-5
