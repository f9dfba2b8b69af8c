"""ANN (IVF + near-dup) and as-of join tests, each against a
brute-force oracle computed driver-side."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from georaster_spark.operators.ann import (
    cosine_near_dup_pairs,
    ivf_topk,
    take_centroids,
)
from georaster_spark.operators.asof import asof_join


@pytest.fixture(scope="module")
def vectors(spark):
    """100 deterministic 16-dim vectors in 4 well-separated direction
    clusters (so IVF bucketing is meaningful), + planted near-dups."""
    rng = np.random.RandomState(7)
    dim, n = 16, 100
    centers = rng.randn(4, dim) * 4
    rows = []
    for i in range(n):
        v = centers[i % 4] + rng.randn(dim) * 0.3
        rows.append((i, [float(x) for x in v]))
    # planted near-dup of vector 10 (tiny perturbation)
    v10 = np.array(rows[10][1])
    rows.append((200, [float(x) for x in v10 + 0.001]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _np_vectors(vectors):
    rows = vectors.orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    return ids, mat


def test_near_dup_pairs_exact_matches_numpy(vectors):
    ids, mat = _np_vectors(vectors)
    cos = mat @ mat.T
    expect = set()
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if round(cos[a, b] * 1e6) >= 999000:
                expect.add((ids[a], ids[b]))
    got = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_near_dup_pairs(vectors, threshold_e6=999000).collect()
    }
    assert got == expect
    assert (10, 200) in got  # the planted near-dup


def test_near_dup_ivf_blocked_finds_planted_pair(vectors):
    got = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_near_dup_pairs(
            vectors, threshold_e6=999000, n_centroids=4
        ).collect()
    }
    assert (10, 200) in got


def test_ivf_topk_recall_vs_brute_force(vectors):
    ids, mat = _np_vectors(vectors)
    idx = {v: i for i, v in enumerate(ids)}
    queries = vectors.where(F.col("vec_id").isin([1, 2, 3])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(vectors, queries, k=5, n_centroids=8, nprobe=2)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {1, 2, 3}
    for q in (1, 2, 3):
        got = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"]) if r["query_id"] == q]
        assert len(got) == 5
        cos = mat @ mat[idx[q]]
        order = [ids[i] for i in np.argsort(-cos) if ids[i] != q]
        exact5 = set(order[:5])
        # same-cluster neighbors live in probed buckets: recall ≥ 4/5
        assert len(exact5 & set(got)) >= 4
        # ranks must be sorted by true cosine among returned
        returned_cos = [cos[idx[v]] for v in got]
        assert all(returned_cos[i] >= returned_cos[i + 1] - 1e-12 for i in range(4))


def test_ivf_assignment_is_deterministic(vectors):
    c1 = take_centroids(vectors, 8)
    c2 = take_centroids(vectors, 8)
    assert c1 == c2


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, 10, "2025-01-01 10:00:00"),
            (2, 10, "2025-01-01 12:00:00"),
            (3, 11, "2025-01-01 09:00:00"),
            (4, 12, "2025-01-01 09:00:00"),
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (10, "2025-01-01 09:30:00", 100),
            (10, "2025-01-01 10:00:00", 101),  # tie with left event 1
            (10, "2025-01-01 11:59:00", 102),
            (11, "2025-01-01 09:30:00", 103),  # after left event 3
        ],
        "user_id long, ts string, payload long",
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "r_ts", F.col("ts")
    )
    return left, right


def test_asof_join_at_or_before_semantics(asof_frames):
    left, right = asof_frames
    out = {
        r["event_id"]: (r["payload"], r["r_ts"])
        for r in asof_join(left, right, on="user_id", ts="ts", right_cols=["payload", "r_ts"]).collect()
    }
    assert len(out) == 4
    assert out[1][0] == 101  # equal-ts right row included ("at or before")
    assert out[2][0] == 102  # latest prior
    assert out[3][0] is None  # no prior right row → NULLs
    assert out[4][0] is None  # user with no right rows at all


def test_asof_join_single_shuffle_no_blowup(asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, on="user_id", ts="ts", right_cols=["payload", "r_ts"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the union trick must not produce any join node (no range/BNLJ)
    assert "Join" not in plan
    assert out.count() == left.count()


def test_ivf_bucket_as_partition_column_prunes(spark, vectors, tmp_path):
    """The 100 TB ANN plan writes the IVF bucket as a partition
    column; probing nprobe buckets must then prune at the file level
    (PartitionFilters in the scan, only nprobe/ncentroid dirs read)."""
    from georaster_spark.operators.ann import centroids_row, ivf_assign, normalized
    from georaster_spark.sources import icetable

    cents = centroids_row(vectors, 8)
    corpus = ivf_assign(normalized(vectors), cents).select(
        "vec_id", F.col("vnorm").cast("array<double>").alias("vnorm"), "bucket"
    )
    path = str(tmp_path / "ivf_corpus")
    icetable.write_table(corpus, path, partition_by=["bucket"])

    probe = icetable.read_table(spark, path).where(F.col("bucket").isin(1, 3))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan or "PartitionFilters: [isnotnull(bucket" in plan
    n_buckets = icetable.read_table(spark, path).select("bucket").distinct().count()
    assert n_buckets >= 4  # corpus actually spread over buckets
    assert probe.select("bucket").distinct().count() <= 2


def test_kmeans_centroids_improve_quantization(spark, vectors):
    """Spherical k-means must not worsen the quantizer: mean max-
    cosine to the nearest centroid improves (or holds) vs the naive
    first-k init, and the result is deterministic."""
    from georaster_spark.operators.ann import (
        centroids_row,
        dot,
        ivf_assign,
        kmeans_centroids,
        normalized,
    )

    def mean_best_cos(cents):
        vn = normalized(vectors).select("vec_id", "vnorm")
        assigned = ivf_assign(vn, cents)
        # re-join centroid vectors to score the assignment
        c = assigned.crossJoin(F.broadcast(cents))
        best = F.array_max(
            F.transform(F.col("cents"), lambda e: dot(F.col("vnorm"), e["cvec"]))
        )
        return c.agg(F.avg(best)).collect()[0][0]

    naive = centroids_row(vectors, 8)
    km = kmeans_centroids(vectors, 8, iters=3)
    q_naive, q_km = mean_best_cos(naive), mean_best_cos(km)
    assert q_km >= q_naive - 1e-9
    km2 = kmeans_centroids(vectors, 8, iters=3)
    assert km.collect() == km2.collect()


def test_ivf_topk_accepts_kmeans_centroids(spark, vectors):
    from georaster_spark.operators.ann import ivf_topk, kmeans_centroids

    q = vectors.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = kmeans_centroids(vectors, 8, iters=2)
    out = ivf_topk(vectors, q, k=5, cents=cents)
    rows = out.collect()
    assert len(rows) == 15
    assert all(r["rank"] in range(1, 6) for r in rows)


def test_ivf_blocked_neardup_recall_vs_exact(spark):
    """The IVF-blocked near-dup must (a) be a subset of the exact
    all-pairs result (precision 1 — the cosine filter is exact either
    way) and (b) keep recall high on the testdata."""
    from georaster_spark.operators.ann import cosine_near_dup_pairs

    NEARDUP_COS_E6 = 420000  # synthetic embeddings are near-orthogonal
    IVF_CENTROIDS = 8

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {tuple(r) for r in cosine_near_dup_pairs(e, NEARDUP_COS_E6).collect()}
    blocked = {
        tuple(r)
        for r in cosine_near_dup_pairs(
            e, NEARDUP_COS_E6, n_centroids=IVF_CENTROIDS
        ).collect()
    }
    assert blocked <= exact
    assert len(exact) > 0
    recall = len(blocked) / len(exact)
    assert recall >= 0.9, f"IVF-blocked near-dup recall {recall:.2f} < 0.9"


def test_kmeans_parallel_init_deterministic_and_lifts_recall(spark):
    """kmeans|| seeding: (a) fully deterministic (hash-uniform coins,
    no RNG) — two runs yield identical centroid sets; (b) with Lloyd
    refinement it beats the naive first-k quantizer on recall@5 for
    queries disjoint from every seed set, at the same nprobe scan
    budget (the honest comparison: ann_ivf's own vec_id<5 queries
    coincide with first-k seeds and inflate naive recall)."""
    from pyspark.sql import Window

    from georaster_spark.operators import ann

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    c1 = ann.kmeans_parallel_init(e, 8, rounds=3).collect()[0].cents
    c2 = ann.kmeans_parallel_init(e, 8, rounds=3).collect()[0].cents
    assert [c.cid for c in c1] == [c.cid for c in c2]
    assert [list(c.cvec) for c in c1] == [list(c.cvec) for c in c2]

    en = ann.normalized(e).select("vec_id", "vnorm")
    q = en.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 120)).select(
        F.col("vec_id").alias("query_id"), F.col("vnorm").alias("q_vnorm")
    )
    cos = ann.dot(F.col("vnorm"), F.col("q_vnorm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    truth = {
        (r.query_id, r.vec_id)
        for r in en.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "vec_id")
        .collect()
    }
    queries = e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 120)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def recall(cents):
        got = {
            (r.query_id, r.vec_id)
            for r in ann.ivf_topk(e, queries, 5, n_centroids=8, nprobe=2, cents=cents).collect()
        }
        return len(got & truth) / len(truth)

    naive = recall(ann.centroids_row(e, 8))
    kmpp = recall(
        ann.kmeans_centroids(e, 8, iters=3, init=ann.kmeans_parallel_init(e, 8, rounds=3))
    )
    assert kmpp > naive, f"kmeans||+lloyd {kmpp:.3f} <= naive {naive:.3f}"


def test_interval_join_matches_brute_force(spark):
    """Bucketized interval join equals the O(n*m) reference on
    crafted data with boundary events (start inclusive, end
    exclusive) and a window spanning two buckets."""
    import datetime as dt

    from pyspark.sql import functions as F

    from georaster_spark.operators.asof import bucketized_interval_join

    base = 1704067200  # 2024-01-01 UTC
    ev_eps = [base + o for o in (0, 1379, 1380, 4000, 8579, 8580, 50000)]
    ev = spark.createDataFrame(
        [(i, dt.datetime.utcfromtimestamp(e)) for i, e in enumerate(ev_eps)],
        "event_id long, ts timestamp",
    )
    ivs = [(0, base + 1380, base + 8580), (1, base + 40000, base + 47200)]
    wins = spark.createDataFrame(ivs, "win_id long, s_ep long, e_ep long")
    got = {
        (r.event_id, r.win_id)
        for r in bucketized_interval_join(ev, wins, bucket_seconds=7200).collect()
    }
    expect = {
        (i, w)
        for i, e in enumerate(ev_eps)
        for (w, s, x) in ivs
        if s <= e < x
    }
    # boundary checks baked into the fixture: 1379 out, 1380 in
    # (inclusive start), 8579 in, 8580 out (exclusive end), 50000
    # matches nothing
    assert got == expect and (2, 0) in got and (5, 0) not in got


def test_interval_join_randomized_vs_brute_force(spark):
    """Randomized (seeded) interval-join property: 200 events at
    arbitrary offsets x 12 arbitrary-length intervals (some longer
    than one bucket, some empty, some overlapping) == the O(n*m)
    python brute force."""
    import datetime as dt
    import random

    from georaster_spark.operators.asof import bucketized_interval_join

    rng = random.Random(42)
    base = 1704067200
    ev_eps = sorted(rng.randrange(0, 400000) for _ in range(200))
    ivs = []
    for w in range(12):
        s = rng.randrange(0, 380000)
        length = rng.choice([0, 900, 3600, 7200, 10000, 25000])
        ivs.append((w, base + s, base + s + length))
    ev = spark.createDataFrame(
        [(i, dt.datetime.utcfromtimestamp(base + e)) for i, e in enumerate(ev_eps)],
        "event_id long, ts timestamp",
    )
    wins = spark.createDataFrame(ivs, "win_id long, s_ep long, e_ep long")
    got = {
        (r.event_id, r.win_id)
        for r in bucketized_interval_join(ev, wins, bucket_seconds=7200).collect()
    }
    expect = {
        (i, w)
        for i, e in enumerate(ev_eps)
        for (w, s, x) in ivs
        if s <= base + e < x
    }
    assert got == expect


# ---------------------------------------------------------- semdedup


def test_semdedup_hand_checked(spark):
    """Tiny hand-computed case (2 clusters, unit-ish 2-d vectors):
    in bucket 0, v0=[1,.05] and v1=[1,.1] are ~0.999-cosine twins; the
    paper's keep policy keeps the one FARTHER from the centroid (v1,
    lower self-sim) and drops v0. Bucket 1's pair (cos 0.8 < tau)
    both survive."""
    from pyspark.sql import functions as F

    from georaster_spark.operators.ann import _cents_df, semdedup

    cents = _cents_df(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.05]),
            (1, [1.0, 0.1]),
            (2, [0.6, 0.8]),
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in semdedup(vecs, cents, tau_e6=950000).collect()}
    assert {k: r["bucket"] for k, r in rows.items()} == {0: 0, 1: 0, 2: 1, 3: 1}
    assert {k: r["kept"] for k, r in rows.items()} == {0: 0, 1: 1, 2: 1, 3: 1}
    # keep-priority really is LOWER centroid similarity
    assert rows[1]["self_e6"] < rows[0]["self_e6"]


def test_semdedup_tie_breaks_on_smaller_id(spark):
    """Identical vectors (equal self-sim): the smaller id survives."""
    from georaster_spark.operators.ann import _cents_df, semdedup

    cents = _cents_df(spark, [(0, [1.0, 0.0])])
    vecs = spark.createDataFrame(
        [(7, [0.8, 0.6]), (3, [0.8, 0.6])], "vec_id long, embedding array<double>"
    )
    rows = {r["vec_id"]: r["kept"] for r in semdedup(vecs, cents, tau_e6=990000).collect()}
    assert rows == {3: 1, 7: 0}


def test_semdedup_matches_scalar_reference(spark):
    """Property check: 3 seeded random corpora (8-dim vectors with
    planted near-dup groups) vs a scalar SemDeDup reference. The
    reference mirrors the operator's semantics exactly — sequential
    left-fold dot/norm (the F.aggregate order), HALF_UP e6 rounding,
    argmax-with-higher-cid-tie assignment (array_max on
    struct(score, cid)), pair similarity as the INTEGER dot of
    e6-quantized normalized components (round 5 — order-independent
    cross-engine), drop iff ANY lower-(self_e6, id) peer in the SAME
    bucket is >= tau (compared at e12 scale)."""
    import math
    import random

    from georaster_spark.operators.ann import _cents_df, semdedup

    def pdot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def pnorm(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        n = math.sqrt(acc)
        return [x / n for x in v]

    def e6(x):
        return (
            int(math.floor(x * 1e6 + 0.5))
            if x >= 0
            else -int(math.floor(-x * 1e6 + 0.5))
        )

    tau = 950_000
    for trial in range(3):
        rng = random.Random(100 + trial)
        dim, k = 8, 4
        cents = [pnorm([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(k)]
        vecs = {}
        vid = 0
        for _ in range(25):
            base = [rng.gauss(0, 1) for _ in range(dim)]
            vecs[vid] = base
            vid += 1
            # a planted near-dup group of 0-2 perturbed copies
            for _ in range(rng.randrange(3)):
                vecs[vid] = [x + rng.gauss(0, 0.02) for x in base]
                vid += 1
        # scalar reference
        assigned = {}
        for i, v in vecs.items():
            vn = pnorm(v)
            scores = [(pdot(vn, c), cid) for cid, c in enumerate(cents)]
            best = max(scores)  # ties -> higher cid, like array_max
            assigned[i] = (best[1], e6(best[0]), [e6(x) for x in vn])
        want = {}
        for i, (bi, si, qni) in assigned.items():
            dropped = False
            for j, (bj, sj, qnj) in assigned.items():
                if (
                    bj == bi
                    and (sj, j) < (si, i)
                    and sum(x * y for x, y in zip(qni, qnj)) >= tau * 1_000_000
                ):
                    dropped = True
                    break
            want[i] = (bi, si, 0 if dropped else 1)
        cents_df = _cents_df(spark, list(enumerate(cents)))
        vdf = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
        )
        got = {
            r["vec_id"]: (r["bucket"], r["self_e6"], r["kept"])
            for r in semdedup(vdf, cents_df, tau_e6=tau).collect()
        }
        assert got == want, f"trial {trial}"


def test_semdedup_hot_bucket_cap_equivalence(spark):
    """VERDICT r4 task 3: a degenerate corpus — hundreds of
    near-identical embeddings collapsing into ONE cluster (the exact
    shape semantic dedup exists to catch) — must route through the
    chunked triangle join (bucket_cap trips) and emit EXACTLY the
    rows of the plain self-join route (cap = huge → census empty).
    Also plants a healthy second cluster so cold buckets exercise
    the m=1 single-cell path inside the capped plan."""
    import random

    from georaster_spark.operators.ann import _cents_df, semdedup

    rng = random.Random(42)
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    rows = []
    for i in range(300):  # hot cluster: near-identical copies
        rows.append((i, [1.0, rng.uniform(0, 0.01), rng.uniform(0, 0.01), 0.0]))
    for i in range(300, 330):  # cold cluster: spread-out vectors
        rows.append((i, [rng.uniform(0, 0.3), 1.0, rng.uniform(0, 0.5), rng.uniform(0, 0.5)]))
    vdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents_df = _cents_df(spark, cents)
    capped = sorted(
        tuple(r) for r in semdedup(vdf, cents_df, tau_e6=990000, bucket_cap=64).collect()
    )
    plain = sorted(
        tuple(r) for r in semdedup(vdf, cents_df, tau_e6=990000, bucket_cap=10**9).collect()
    )
    assert capped == plain
    # the degenerate cluster really deduplicates: exactly one survivor
    hot_kept = [r for r in capped if r[1] == 0 and r[3] == 1]
    assert len(hot_kept) == 1
