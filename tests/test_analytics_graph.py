"""Invariants for the event-analytics batch and near-dup PageRank.

The oracle gate pins exact values at sf0.01; these pin the structure:
rolling windows recount correctly against Python, SCD2 intervals tile
each user's timeline, MAD outliers are bounded, and PageRank conserves
the teleport floor and ranks high-degree hub nodes.
"""

from __future__ import annotations

import eventsourcing_spark.analytics  # noqa: F401 — registers analytics ops
import eventsourcing_spark.pipeline.queries  # noqa: F401 — registers pipeline ops
from eventsourcing_spark.io import load_table
from eventsourcing_spark.pipeline.graph import BASE, TOP_N
from eventsourcing_spark.queries import SPARK_QUERIES

SF = "/root/testdata/sf0.001"
WEEK_MS = 7 * 24 * 3600 * 1000


def test_rolling_7d_matches_python_recount(spark):
    rows = SPARK_QUERIES["rolling_7d_value"](spark, SF).collect()
    ev = sorted(
        (
            (r["user_id"], int(r["ts"].timestamp() * 1000), r["value"], r["event_id"])
            for r in load_table(spark, SF, "events").collect()
        ),
    )
    by_user: dict[int, list] = {}
    for u, ms, v, eid in ev:
        by_user.setdefault(u, []).append((ms, v, eid))
    got = {r["event_id"]: (r["rolling_n"], round(r["rolling_sum"], 2)) for r in rows}
    assert len(got) == len(ev)
    for u, evs in by_user.items():
        for ms, _v, eid in evs:
            frame = [w for (m2, w, _e) in evs if ms - WEEK_MS <= m2 <= ms]
            assert got[eid] == (len(frame), round(sum(frame), 2))


def test_scd2_tiles_each_user_timeline(spark):
    rows = SPARK_QUERIES["scd2_intervals"](spark, SF).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for _u, rs in by_user.items():
        rs.sort(key=lambda r: (r["valid_from_ms"], r["event_id"]))
        assert sum(r["is_current"] for r in rs) == 1
        assert rs[-1]["is_current"] == 1 and rs[-1]["valid_to_ms"] is None
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to_ms"] == b["valid_from_ms"]


def test_mad_outliers_bounded(spark):
    rows = SPARK_QUERIES["mad_outliers"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_outliers"] <= r["n_events"]
        assert r["mad_value"] >= 0
        # MAD flags are a strict minority on any non-degenerate corpus
        assert r["n_outliers"] < r["n_events"] / 2


def test_pagerank_floor_and_hubs(spark):
    rows = SPARK_QUERIES["pagerank_neardup"](spark, SF).collect()
    assert len(rows) == TOP_N
    ranks = [r["rank_scaled"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r["rank_scaled"] >= BASE for r in rows)
    # the top of the centrality ranking must actually be connected
    assert rows[0]["degree"] > 0
    assert rows[0]["rank_scaled"] > BASE


def test_pivot_matrix_row_sums(spark):
    rows = SPARK_QUERIES["pivot_event_matrix"](spark, SF).collect()
    ev = load_table(spark, SF, "events")
    total = ev.count()
    assert sum(
        r["n_view"] + r["n_click"] + r["n_purchase"] + r["n_signup"] + r["n_error"]
        for r in rows
    ) == total
    assert len(rows) == ev.select("user_id").distinct().count()


def test_json_props_stats_bounds(spark):
    rows = SPARK_QUERIES["json_props_stats"](spark, SF).collect()
    assert {r["event_type"] for r in rows} == {
        "view", "click", "purchase", "signup", "error"
    }
    for r in rows:
        assert r["min_k"] <= r["max_k"]
        assert r["n"] * r["min_k"] <= r["sum_k"] <= r["n"] * r["max_k"]


def test_triangle_counts_are_consistent(spark):
    rows = SPARK_QUERIES["triangle_count_neardup"](spark, SF).collect()
    assert rows, "gate corpus is in the dense-graph regime; triangles exist"
    for r in rows:
        # a node in t triangles needs at least 2 neighbors, and its
        # triangle count is bounded by pairs of neighbors
        assert r["degree"] >= 2
        assert r["n_triangles"] <= r["degree"] * (r["degree"] - 1) // 2
    tris = [r["n_triangles"] for r in rows]
    assert tris == sorted(tris, reverse=True)


def test_trend_matches_numpy_polyfit(spark):
    import numpy as np

    rows = SPARK_QUERIES["trend_user_value"](spark, SF).collect()
    assert rows
    ev = load_table(spark, SF, "events").select("user_id", "ts", "value").collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(
            (r.ts.timestamp(), round((r.value or 0.0) * 100))
        )
    checked = 0
    for r in rows:
        pts = by_user[r.user_id]
        if r.slope_den == 0 or len(pts) < 2:
            continue
        x0 = min(p[0] for p in pts)
        xs = np.array([int(p[0] - x0) for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        slope = np.polyfit(xs, ys, 1)[0]
        assert abs(slope - r.slope_cents_per_sec) < 1e-6 * max(1.0, abs(slope)), (
            r.user_id, slope, r.slope_cents_per_sec
        )
        checked += 1
    assert checked > 0


def test_cusum_flags_shifted_series(spark):
    # synthetic: user 1 flat, user 2 with a hard level shift mid-series
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for i in range(40):
        rows.append((100 + i, t0 + dt.timedelta(minutes=i), 1, "view", 10.0, "{}"))
        val = 10.0 if i < 20 else 90.0
        rows.append((200 + i, t0 + dt.timedelta(minutes=i), 2, "view", val, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.createOrReplaceTempView("events_cusum_probe")
    import eventsourcing_spark.analytics as ana

    orig = ana.load_table  # analytics binds the name at import time
    try:
        ana.load_table = lambda spark, sf, name: df  # probe the operator
        out = {
            r.user_id: r for r in ana.cusum_changepoint(spark, "ignored").collect()
        }
    finally:
        ana.load_table = orig
    # flat series: zero deviation; shifted series: large, at the shift
    assert out[1].max_cusum_scaled == 0
    assert out[2].max_cusum_scaled > 0
    assert out[2].changepoint_event_id == 219  # last pre-shift event


def test_pmi_pairs_are_canonical_and_scored(spark):
    rows = SPARK_QUERIES["cooccur_pmi_topk"](spark, SF).collect()
    assert len(rows) == 50
    scores = [r.pmi_scaled for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.w_a < r.w_b and r.n_ab > 0


def test_semdedup_keeper_never_dup(spark, sf_dir):
    from pyspark.sql import functions as F

    from eventsourcing_spark.io import load_table
    from eventsourcing_spark.pipeline.similarity import semdedup_ivf

    d = semdedup_ivf(spark, sf_dir)
    assert d.count() == load_table(spark, sf_dir, "embeddings").count()
    assert d.filter((F.col("vec_id") == F.col("keeper_id")) & (F.col("is_dup") != 0)).count() == 0
    assert d.filter((F.col("cell") < 0) | (F.col("cell") > 15)).count() == 0
    # keeper is the min id of its cell
    mins = d.groupBy("cell").agg(F.min("vec_id").alias("m"), F.first("keeper_id").alias("k"))
    assert mins.filter(F.col("m") != F.col("k")).count() == 0


def test_clustering_coeff_bounds_and_triangle_consistency(spark, sf_dir):
    from pyspark.sql import functions as F

    from eventsourcing_spark.pipeline.graph import (
        local_clustering_coeff,
        triangle_count_neardup,
    )

    c = local_clustering_coeff(spark, sf_dir)
    assert c.filter((F.col("clustering_ppm") < 0) | (F.col("clustering_ppm") > 1_000_000)).count() == 0
    assert c.filter((F.col("n_triangles") == 0) & (F.col("clustering_ppm") != 0)).count() == 0
    top = triangle_count_neardup(spark, sf_dir).select("vec_id", F.col("n_triangles").alias("t"))
    j = top.join(c, "vec_id")
    assert j.filter(F.col("t") != F.col("n_triangles")).count() == 0


def test_degree_distribution_handshake(spark, sf_dir):
    from pyspark.sql import functions as F

    from eventsourcing_spark.pipeline.graph import _edges_df, graph_degree_distribution

    dist = graph_degree_distribution(spark, sf_dir)
    total_degree = dist.agg(F.sum(F.col("degree") * F.col("n_nodes"))).first()[0]
    n_edges = _edges_df(spark, sf_dir).count()
    assert total_degree == 2 * n_edges


def test_link_prediction_ra_nonadjacent(spark):
    from eventsourcing_spark.pipeline.graph import _edges_df
    from eventsourcing_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    rows = SPARK_QUERIES["link_prediction_ra"](spark, sf).collect()
    assert rows
    edges = {(r["src"], r["dst"]) for r in _edges_df(spark, sf).collect()}
    for r in rows:
        assert r["u"] < r["w"]
        assert (r["u"], r["w"]) not in edges  # predicted, not existing
        assert r["n_common"] >= 1 and r["ra_score"] > 0
    scores = [r["ra_score"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert scores == sorted(scores, reverse=True)


def test_bfs_hops_are_consistent(spark):
    from eventsourcing_spark.pipeline.graph import BFS_SEEDS, MAX_HOPS, _edges_df
    from eventsourcing_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {r["node"]: r["hops"] for r in
            SPARK_QUERIES["graph_bfs_depth"](spark, sf).collect()}
    # seeds at distance 0
    for s in range(BFS_SEEDS):
        assert rows.get(s) == 0
    assert all(0 <= h <= MAX_HOPS for h in rows.values())
    # triangle inequality along every edge: hop labels of adjacent
    # reachable nodes differ by at most 1 (unless the larger one was
    # only reached at the depth bound)
    edges = _edges_df(spark, sf).collect()
    for e in edges:
        a, b = rows.get(e["src"]), rows.get(e["dst"])
        if a is not None and b is not None and max(a, b) < MAX_HOPS:
            assert abs(a - b) <= 1


def test_edges_follow_data_regenerated_mid_session(spark, sf_dir, tmp_path):
    """Rewriting the data under an sf_dir in-session must change what the
    next graph query sees: the edges of a regenerated directory equal
    those of a fresh directory holding the same new data."""
    import shutil

    import pyarrow.parquet as pq

    from eventsourcing_spark.pipeline.graph import _edges_df

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for d in (a, b):
        shutil.copytree(sf_dir, d, copy_function=shutil.copyfile)

    def edges(d):
        return sorted(map(tuple, _edges_df(spark, d).collect()))

    before = edges(a)
    for d in (a, b):
        p = f"{d}/embeddings.parquet"
        t = pq.read_table(p)
        pq.write_table(t.slice(0, t.num_rows // 2), p)
    after = edges(a)
    assert after == edges(b)
    assert after != before
