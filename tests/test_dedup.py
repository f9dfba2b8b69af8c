"""Dedup operator tests: planted duplicates must be found."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from georaster_spark.operators.dedup import (
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash_near_pairs,
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


def test_simhash_near_pairs(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_pairs(docs, max_hamming=10).collect()}
    assert pairs.get((3, 100)) == 0  # identical fingerprint
    assert (5, 101) in pairs


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


def test_simhash_hot_bucket_cap_equivalence(spark):
    """The capped (chunked triangle) self-join must emit the SAME
    pair set as the unchunked path on a corpus that actually trips
    the cap: 200 identical docs (one hot (block, value) bucket per
    block) + 60 distinct docs."""
    base = " ".join(f"w{k % 53}" for k in range(40))
    rows = [(i, base) for i in range(200)] + [
        (1000 + i, " ".join(f"x{(i * 11 + k) % 89}" for k in range(40)))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(docs, max_hamming=6, bucket_cap=32).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(docs, max_hamming=6, bucket_cap=10**9).collect()
    }
    assert capped == uncapped
    assert len({(a, b) for a, b, _ in capped if a < 200 and b < 200}) == 200 * 199 // 2


def test_simhash_hot_bucket_degenerate_bounded(spark):
    """Adversarial skew (the r3 VERDICT watch item): 1500 copies of
    one doc concentrate every LSH block in a single (block, value)
    bucket. With the cap the self-join key carries the chunk pair —
    no task reads more than ~2·cap bucket rows — and the result is
    still the full C(1500,2) pair set."""
    n, cap = 1500, 100
    base = " ".join(f"w{k % 53}" for k in range(40))
    rows = [(i, base) for i in range(n)] + [
        (10_000 + i, " ".join(f"y{(i * 13 + k) % 97}" for k in range(40)))
        for i in range(50)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    out = simhash_near_pairs(docs, max_hamming=3, bucket_cap=cap)
    # plan invariant: the self-join is NOT on the bare (block, value)
    # key — the chunk columns (ca/cs, ct/cb) are part of the equi-key,
    # so a hot bucket's work spreads over m·(m+1)/2 tasks
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ca" in plan and "ct" in plan and "cs" in plan and "cb" in plan
    hot_pairs = (
        out.where((F.col("doc_a") < n) & (F.col("doc_b") < n)).count()
    )
    assert hot_pairs == n * (n - 1) // 2
    # chunk balance: ids are assigned chunk doc_id % m, so with
    # sequential ids every chunk holds ceil(n/m) == cap rows exactly
    import math

    m = math.ceil(n / cap)
    assert max(
        sum(1 for i in range(n) if i % m == c) for c in range(m)
    ) <= cap


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


# ------------------------------------------------- paragraph dedup


def test_paragraph_dedup_hand_checked(spark):
    """Hand-computed tiny corpus (chunk_words=2): 'a b' first occurs
    in doc 0 at chunk 0, 'c d' in doc 0 at chunk 1, 'x' in doc 1 —
    every later occurrence is dropped and docs reassemble from the
    survivors only."""
    import hashlib

    from georaster_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b x"), (2, "c d a b")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["kept_md5"])
        for r in paragraph_dedup(docs, chunk_words=2).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got == {
        0: (2, 2, md5("a b c d")),
        1: (2, 1, md5("x")),  # 'a b' dropped, short tail chunk kept
        2: (2, 0, md5("")),  # both chunks are repeats -> empty doc
    }


def test_paragraph_dedup_first_occurrence_is_corpus_ordered(spark):
    """Within one doc, an earlier chunk_idx wins; across docs, the
    smaller doc_id wins even when it explodes later in the scan."""
    from georaster_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(5, "p q p q"), (9, "p q")], "doc_id long, text string"
    ).repartition(4)
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"])
        for r in paragraph_dedup(docs, chunk_words=2).collect()
    }
    assert got == {5: (2, 1), 9: (1, 0)}


def test_paragraph_dedup_aggregates_map_side(spark):
    """Scale invariant: the first-occurrence reduction is an
    aggregate with a PARTIAL phase below its Exchange (map-side
    combine), never a window sort over the chunk partition."""
    from georaster_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    plan = (
        paragraph_dedup(docs, chunk_words=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "partial_min" in plan or "PartialAggregate" in plan or "HashAggregate" in plan


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


def test_paragraph_dedup_matches_scalar_reference(spark):
    """Property check: 30 seeded random corpora vs a scalar reference
    of the first-corpus-occurrence recipe — non-overlapping cw-word
    chunks (last short), a chunk survives only at its min (doc_id,
    chunk_idx) occurrence, docs rebuilt from survivors in chunk
    order. Per-trial word prefixes isolate the trials in one run; a
    3-word alphabet with cw=2 makes duplicate chunks dense."""
    import hashlib
    import random

    from georaster_spark.operators.dedup import paragraph_dedup

    cw = 2
    rng = random.Random(23)
    rows, want = [], {}
    for trial in range(30):
        first: dict[str, tuple] = {}
        corpora = {}
        for d in range(rng.randrange(2, 6)):
            doc_id = trial * 100 + d
            ws = [f"t{trial}w{rng.randrange(3)}" for _ in range(rng.randrange(1, 12))]
            corpora[doc_id] = ws
            rows.append((doc_id, " ".join(ws)))
            for ci in range(-(-len(ws) // cw)):
                ch = " ".join(ws[ci * cw : (ci + 1) * cw])
                if ch not in first:
                    first[ch] = (doc_id, ci)
        for did, ws in sorted(corpora.items()):
            chunks = [
                " ".join(ws[ci * cw : (ci + 1) * cw])
                for ci in range(-(-len(ws) // cw))
            ]
            kept = [
                ch for ci, ch in enumerate(chunks) if first[ch] == (did, ci)
            ]
            want[did] = (
                len(chunks),
                len(kept),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["kept_md5"])
        for r in paragraph_dedup(docs, chunk_words=cw).collect()
    }
    assert got == want
