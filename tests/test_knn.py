"""kNN tests vs a brute-force NumPy oracle (SURVEY.md M5)."""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from georaster_spark.datagen import documents_df, geocode_cols, geocode_np
from georaster_spark.functions.geo import haversine_np
from georaster_spark.operators import knn
from georaster_spark.operators.knn import knn_join

N_DOCS = 500
QUERIES = [
    ("q0", 7.5, 46.0),       # on the hot cell
    ("q1", 8.0, 46.0),       # box center
    ("q2", 6.95, 44.95),     # just outside the box (forces expansion)
]
K = 7


@pytest.fixture(scope="module")
def docs(spark):
    d = documents_df(spark, N_DOCS)
    lon, lat = geocode_cols(F.col("doc_seq"))
    return d.withColumn("lon", lon).withColumn("lat", lat)


def brute_force(k: int) -> dict[str, list[str]]:
    i = np.arange(N_DOCS)
    lon, lat = geocode_np(i)
    urls = [f"https://site{j % 997}.example/p/{j}" for j in i]
    out = {}
    for qid, qlon, qlat in QUERIES:
        d = haversine_np(lon, lat, np.full_like(lon, qlon), np.full_like(lat, qlat))
        order = sorted(range(N_DOCS), key=lambda j: (d[j], urls[j]))
        out[qid] = [urls[j] for j in order[:k]]
    return out


def test_knn_matches_brute_force(spark, docs):
    # a doc without a location yields no rows
    no_loc = docs.limit(1).withColumn("url", F.lit("https://nowhere.example/"))
    docs = docs.unionByName(no_loc.withColumn("lon", F.lit(None).cast("double")))
    got_df = knn_join(docs, QUERIES, k=K)
    got: dict[str, list[str]] = {}
    for r in got_df.orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append(r.url)
    want = brute_force(K)
    assert got == want


def test_knn_k_larger_than_ring(spark, docs):
    """A k of 60 takes neighbours far beyond the query's own cell: the
    one pass must still equal brute force, rank for rank."""
    got_df = knn_join(docs, [QUERIES[1]], k=60)
    rows = got_df.orderBy("rank").collect()
    assert len(rows) == 60
    want = brute_force(60)["q1"]
    assert [r.url for r in rows] == want


def test_knn_join_ties_merge_across_partitions(spark):
    """24 docs at one point, 6 per partition, keys out of partition
    order: each task cuts a tie at its kth distance and the driver's
    merge must keep the 5 smallest keys of all partitions. With k above
    the doc count every doc comes back, ranked by key, and a doc with a
    null ``lat`` is not among them."""
    i = F.col("id")
    tied = spark.range(24, numPartitions=4).select(
        F.format_string("k%02d", (i * 7) % 24).alias("url"),
        F.lit(8.0).alias("lon"),
        F.lit(46.0).alias("lat"),
    )
    no_loc = tied.limit(1).select(F.lit("k-none").alias("url"), "lon", F.lit(None).cast("double").alias("lat"))
    docs = tied.unionByName(no_loc)

    def urls(k):
        return [r.url for r in knn_join(docs, [("q", 8.1, 46.1)], k=k).orderBy("rank").collect()]

    assert urls(5) == [f"k{j:02d}" for j in range(5)]
    assert urls(30) == [f"k{j:02d}" for j in range(24)]


def test_knn_join_is_one_job(spark, docs, monkeypatch):
    """One call is one Spark job of one stage (nothing shuffles), and no
    DataFrame is cached when the result table is built."""
    sc = spark.sparkContext
    persistent = sc._jsc.getPersistentRDDs
    before = persistent().size()
    seen = []
    local_df = knn.local_df

    def watched(*args):
        seen.append(persistent().size())
        return local_df(*args)

    monkeypatch.setattr(knn, "local_df", watched)
    group = f"knn-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        knn_join(docs, QUERIES, k=K)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1
    assert seen == [before]


POIS = [(f"poi{i}", 7.1 + (i % 8) * 0.25, 45.1 + (i // 8) * 0.45) for i in range(40)]
# far from every doc: no doc has an index row, so every doc falls back
FAR_POIS = [(f"far{i}", 20.0 + i, 60.0) for i in range(5)]
# an exact planted tie, listed out of poi_id order: ranks follow poi_id.
# With k=2 the pair alone proves 16 docs near it on the cell-index path
# (at res 9 / ring 1 the grid POIs prove none: every doc falls back).
TIE_POIS = [("tie_b", 8.0, 46.0), ("tie_a", 8.0, 46.0)] + POIS[:6]
# k=1: for 24 docs `in` is the only candidate but `out`, outside their
# disk, is nearer; only the ring-boundary bound sends them to the fallback
BOUND_POIS = [("in", 8.0, 46.0), ("out", 8.6, 44.5)]


@pytest.mark.parametrize(
    "pois,k",
    [(POIS, 3), (FAR_POIS, 3), (TIE_POIS, 2), (FAR_POIS, 7), (BOUND_POIS, 1)],
    ids=["grid", "far", "tie", "k_over_pois", "bound"],
)
def test_knn_table_join_matches_brute_force(spark, docs, pois, k):
    """Every doc's top-k POIs must equal the exact brute-force result —
    covering the cell-index path, the boundary/too-few fallback, (far
    POIs) docs with no candidate cell at all, an exact distance tie on
    both paths, k above the POI count (every POI, ranked) and a nearer
    POI outside the searched disk."""
    from georaster_spark.operators.knn import knn_table_join

    docs_k = docs.withColumn("doc_id", F.col("doc_seq"))
    # a doc without a location yields no rows (len(got) below)
    no_loc = docs_k.limit(1).withColumn("doc_id", F.lit(N_DOCS))
    docs_k = docs_k.unionByName(no_loc.withColumn("lon", F.lit(None).cast("double")))
    got = {
        (r["doc_id"], r["rank"]): r["poi_id"]
        for r in knn_table_join(docs_k, pois, k=k, res=9, ring=1).collect()
    }
    # brute force in NumPy
    i = np.arange(N_DOCS)
    lon, lat = geocode_np(i)
    want = {}
    for j in i:
        dists = sorted(
            (haversine_np(np.array([lon[j]]), np.array([lat[j]]),
                          np.array([plon]), np.array([plat]))[0], pid)
            for pid, plon, plat in pois
        )
        for rank, (_, pid) in enumerate(dists[:k], 1):
            want[(j, rank)] = pid
    assert got == want
    assert len(got) == N_DOCS * min(k, len(pois))


def test_knn_table_join_candidate_path_is_broadcast(spark, docs):
    """The candidate index ships inside one Arrow kernel over the docs:
    no Exchange, no join, no Filter (null locations drop in the kernel,
    so the geocode is not evaluated twice) and exactly one MapInArrow
    in the executed plan."""
    from georaster_spark.operators.knn import knn_table_join

    docs_k = docs.withColumn("doc_id", F.col("doc_seq"))
    plan = knn_table_join(docs_k, POIS, k=3, res=9)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Filter" not in plan
    assert plan.count("MapInArrow") == 1
