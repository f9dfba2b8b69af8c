"""Dedup operator tests: planted duplicates must be found."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from georaster_spark.operators.dedup import (
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    shingles,
)


@pytest.fixture(scope="module")
def docs(spark):
    """60 base docs + planted near/exact duplicates."""
    base = [
        (i, " ".join(f"w{(i * 7 + k) % 97}" for k in range(40))) for i in range(60)
    ]
    # exact dup of doc 3, near dup of doc 5 (1 word changed ->
    # jaccard ≈ 35/41 ≈ 0.85; with the fixed minhash seeds the LSH
    # outcome is deterministic and was verified to fire)
    rows = base + [(100, base[3][1])]
    words5 = base[5][1].split()
    words5[10] = "CHANGED"
    rows.append((101, " ".join(words5)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles_count(spark, docs):
    sh = shingles(docs, n=3)
    n_per_doc = {r.doc_id: r.n for r in sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert n_per_doc[0] == 38  # 40 tokens -> 38 distinct trigrams


def test_lsh_finds_planted_dups(spark, docs):
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(docs).collect()}
    assert (3, 100) in pairs
    assert (5, 101) in pairs


def test_jaccard_finds_and_scores(spark, docs):
    out = {
        (r.doc_a, r.doc_b): r.jaccard_e6
        for r in ngram_jaccard_pairs(docs, threshold_e6=500000).collect()
    }
    assert out[(3, 100)] == 1000000  # exact dup -> jaccard 1.0
    assert 500000 <= out[(5, 101)] < 1000000


def test_winnow_matches_scalar_reference(spark, docs):
    """Operator output equals a straightforward scalar winnowing
    implementation, doc by doc."""
    import hashlib

    from georaster_spark.operators.dedup import MH_P, winnow_fingerprints

    got: dict[int, set[int]] = {}
    for r in winnow_fingerprints(docs, shingle_n=3, window=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])

    def scalar_winnow(text: str, n=3, w=4) -> set[int]:
        toks = text.split(" ")
        n_sh = max(len(toks) - (n - 1), 1)
        hs = []
        for i in range(n_sh):
            sh = " ".join(toks[i : i + n])
            hs.append(int(hashlib.md5(sh.encode()).hexdigest()[:15], 16) % MH_P)
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}

    rows = docs.select("doc_id", "text").collect()
    assert len(got) == len(rows)
    for r in rows:
        assert got[r["doc_id"]] == scalar_winnow(r["text"]), r["doc_id"]


def test_winnow_shared_substring_guarantee(spark):
    """Docs sharing a ≥(w+n-1)-word run share ≥1 fingerprint; fully
    disjoint docs share none."""
    from georaster_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = w+n-1
    d = spark.createDataFrame(
        [
            (0, f"unique0 prefix {shared} suffix zero"),
            (1, f"other1 start {shared} ending one"),
            (2, "completely different words nothing common here at all"),
        ],
        "doc_id long, text string",
    )
    fps = {}
    for r in winnow_fingerprints(d, shingle_n=3, window=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[0] & fps[1]
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_connected_components_known_graph(spark):
    from georaster_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 3)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5}


def test_connected_components_self_pair_node_survives(spark):
    """A node whose ONLY edge is a self-pair must still appear,
    labeling itself (self-loops are dropped from the edge set but not
    from the node set)."""
    from georaster_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (9, 9)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 9: 9}


def test_lsh_prefiltered_jaccard_equals_all_pairs(spark):
    """The scale-safe LSH-prefiltered exact Jaccard must equal the
    all-pairs form on the testdata."""
    from georaster_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_lsh,
    )

    SHINGLE_N, JACCARD_T, MINHASH_SEEDS, LSH_BANDS = 3, 0.5, 16, 4
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    t = int(JACCARD_T * 1000000)
    exact = {tuple(r) for r in ngram_jaccard_pairs(docs, t, SHINGLE_N).collect()}
    # r=2 is the right banding for the low tau=0.5; also assert the
    # default r=4 banding still matches on this data
    for rpb in (2, LSH_BANDS):
        lsh = {
            tuple(r)
            for r in ngram_jaccard_pairs_lsh(
                docs, t, SHINGLE_N, MINHASH_SEEDS, rpb
            ).collect()
        }
        assert lsh == exact and len(exact) > 0, f"rows_per_band={rpb}"


def test_connected_components_long_chain_converges(spark):
    """The r2 VERDICT worst case: a 100-link chain. Min-label
    propagation needs O(diameter)=100 rounds; the large/small-star
    contraction must finish well inside the 30-round budget."""
    from georaster_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    out = connected_components(pairs)
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {i: 0 for i in range(101)}
    # lineage-truncation invariant: the per-round localCheckpoint must
    # keep the FINAL plan depth independent of how many star rounds
    # ran — the label plan hangs off one checkpointed RDD scan, not a
    # tower of per-round Union/Except operators (which would make
    # Catalyst analysis, not data, the bottleneck at true scale)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, plan
    assert plan.count("Union") == 1, plan  # the node-set union only
    assert "Except" not in plan, plan


def test_connected_components_random_graphs_match_transitive_closure(spark):
    """Property check on random graphs vs a local union-find."""
    import random

    from georaster_spark.operators.dedup import connected_components

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40 + 10 * trial)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        seen_nodes = {u for e in edges for u in e}
        # canonical label = min node id per component
        comp_min = {}
        for x in seen_nodes:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        want = {x: comp_min[find(x)] for x in seen_nodes}

        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert got == want, f"trial {trial}"


def test_exact_substring_spans_hand_checked(spark):
    """Hand-checked ExactSubstr semantics (gram_len=3):
    doc 1 'a b c d e f g h' and doc 2 'x x a b c d y z' share the
    4-word substring 'a b c d' (two overlapping 3-grams) -> each
    gets ONE merged span of 4 duplicated words. doc 4 repeats
    'a b c' at pos 0 and 'b c d' at pos 6 -> the gap (6 >= 3) keeps
    them as TWO spans, 3 words each. doc 3 shares nothing and must
    be absent; doc 5 ('a b' alone) is shorter than the gram and is
    skipped even though 'a b' occurs elsewhere."""
    from georaster_spark.operators.dedup import exact_substring_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x x a b c d y z"),
            (3, "p q r s t u"),
            (4, "a b c q q q b c d q"),
            (5, "a b"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n_words, r.n_spans, r.dup_words)
        for r in exact_substring_spans(docs, gram_len=3).collect()
    }
    assert rows == {
        1: (8, 1, 4),
        2: (8, 1, 4),
        4: (10, 2, 6),
    }


def test_exact_substring_spans_match_scalar_reference(spark):
    """Property check: 30 seeded random corpora vs a scalar reference
    of the Lee et al. ExactSubstr span semantics (gram occurring in
    ≥2 distinct docs marks all its positions; marked windows closer
    than gram_len merge into maximal spans). Words carry a per-trial
    prefix so one Spark run covers every corpus with no cross-trial
    gram collisions. A 6-word alphabet makes shared grams dense —
    intra-doc repeats that no OTHER doc holds must NOT mark."""
    import random

    from georaster_spark.operators.dedup import exact_substring_spans

    L = 3
    rng = random.Random(11)
    rows, want = [], {}
    for trial in range(30):
        corpora = {}
        for d in range(rng.randrange(3, 8)):
            doc_id = trial * 100 + d
            n_words = rng.randrange(2, 15)  # includes < L docs (skipped)
            corpora[doc_id] = [f"t{trial}w{rng.randrange(6)}" for _ in range(n_words)]
            rows.append((doc_id, " ".join(corpora[doc_id])))
        holders: dict[tuple, set] = {}
        for did, ws in corpora.items():
            for p in range(len(ws) - L + 1):
                holders.setdefault(tuple(ws[p : p + L]), set()).add(did)
        for did, ws in corpora.items():
            marked = [
                p
                for p in range(len(ws) - L + 1)
                if len(holders[tuple(ws[p : p + L])]) >= 2
            ]
            if not marked:
                continue
            spans, prev = [], None
            for p in marked:
                if prev is None or p - prev >= L:
                    spans.append([p, p + L - 1])
                else:
                    spans[-1][1] = p + L - 1
                prev = p
            want[did] = (
                len(ws),
                len(spans),
                sum(e - s + 1 for s, e in spans),
            )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_words"], r["n_spans"], r["dup_words"])
        for r in exact_substring_spans(docs, gram_len=L).collect()
    }
    assert got == want


