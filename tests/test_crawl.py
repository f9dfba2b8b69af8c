"""Crawl-side controls: robots verdicts and the politeness frontier
(operators/crawl.py)."""

from __future__ import annotations

from georaster_spark.operators.crawl import crawl_frontier, robots_verdicts

SF = "/root/testdata/sf0.001"


def _urls(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, host string, path string")


def _rules(spark, rows):
    return spark.createDataFrame(rows, "host string, prefix string, allow boolean")


def test_robots_longest_match_wins(spark):
    """A deeper Disallow beats a broad Allow (RFC 9309 §2.4.2)."""
    urls = _urls(spark, [(1, "h", "/a/17")])
    rules = _rules(spark, [("h", "/a", True), ("h", "/a/1", False)])
    row = robots_verdicts(urls, rules).collect()[0]
    assert row.allowed is False and row.rule == "/a/1"


def test_robots_allow_wins_length_tie(spark):
    """Equal-length Allow and Disallow rules both match: Allow wins."""
    urls = _urls(spark, [(1, "h", "/a/17")])
    rules = _rules(spark, [("h", "/a/1", False), ("h", "/a/1", True)])
    row = robots_verdicts(urls, rules).collect()[0]
    assert row.allowed is True


def test_robots_no_match_defaults_allow(spark):
    urls = _urls(spark, [(1, "h", "/z/1"), (2, "other", "/a/1")])
    rules = _rules(spark, [("h", "/a", False)])
    out = {r.doc_id: r for r in robots_verdicts(urls, rules).collect()}
    assert out[1].allowed is True and out[1].rule == ""
    assert out[2].allowed is True and out[2].rule == ""


def test_robots_prefix_is_byte_match_not_segment(spark):
    """RFC 9309 matches byte prefixes: '/a/1' blocks '/a/17' too."""
    urls = _urls(spark, [(1, "h", "/a/17"), (2, "h", "/a/2")])
    rules = _rules(spark, [("h", "/a/1", False), ("h", "/a", True)])
    out = {r.doc_id: r for r in robots_verdicts(urls, rules).collect()}
    assert out[1].allowed is False
    assert out[2].allowed is True and out[2].rule == "/a"


def test_frontier_budget_and_slots(spark):
    rows = [(i, "h", (i * 7) % 10, 3) for i in range(10)]
    urls = spark.createDataFrame(
        rows, "doc_id long, host string, priority long, delay_s long"
    )
    out = crawl_frontier(urls, budget=4, epoch0=1000).collect()
    assert len(out) == 4
    by_slot = sorted(out, key=lambda r: r.slot)
    # slots are 0..3, spaced delay_s=3 apart, priority non-increasing
    assert [r.slot for r in by_slot] == [0, 1, 2, 3]
    assert [r.fetch_ts_s for r in by_slot] == [1000, 1003, 1006, 1009]
    prios = [r.priority for r in by_slot]
    assert prios == sorted(prios, reverse=True)


def test_frontier_priority_tie_breaks_by_doc_id(spark):
    urls = spark.createDataFrame(
        [(5, "h", 1, 1), (3, "h", 1, 1)],
        "doc_id long, host string, priority long, delay_s long",
    )
    out = sorted(crawl_frontier(urls, 2, 0).collect(), key=lambda r: r.slot)
    assert [r.doc_id for r in out] == [3, 5]


def test_frontier_hosts_independent(spark):
    urls = spark.createDataFrame(
        [(1, "a", 9, 1), (2, "b", 9, 2)],
        "doc_id long, host string, priority long, delay_s long",
    )
    out = {r.host: r for r in crawl_frontier(urls, 4, 0).collect()}
    assert out["a"].slot == 0 and out["b"].slot == 0


def test_robots_random_rulesets_match_scalar_reference(spark):
    """Property: on seeded random rule tables and URL lists, the
    distributed verdicts equal a scalar RFC 9309 reference (longest
    byte-prefix match, Allow wins length ties, default allow). One
    Spark run over the UNION of all corpora (per-seed sessions would
    dominate runtime); hosts partition the cases."""
    import random

    def scalar_verdict(path, rules):
        best = None  # (len, allow, prefix)
        for prefix, allow in rules:
            if path.startswith(prefix):
                key = (len(prefix), allow, prefix)
                if best is None or key > best:
                    best = key
        return (True, "") if best is None else (best[1], best[2])

    url_rows, rule_rows, expect = [], [], {}
    doc = 0
    for seed in range(8):
        rng = random.Random(seed)
        host = f"h{seed}"
        segs = ["a", "b", "c", "d/e", "x1"]
        rules = []
        for _ in range(rng.randint(0, 12)):
            depth = rng.randint(1, 3)
            prefix = "/" + "/".join(rng.choice(segs) for _ in range(depth))
            rules.append((prefix[: rng.randint(2, len(prefix))], rng.random() < 0.5))
        rule_rows += [(host, p, a) for p, a in rules]
        for _ in range(20):
            path = "/" + "/".join(
                rng.choice(segs) for _ in range(rng.randint(1, 4))
            )
            url_rows.append((doc, host, path))
            expect[doc] = scalar_verdict(path, rules)
            doc += 1
    urls = _urls(spark, url_rows)
    out = robots_verdicts(urls, _rules(spark, rule_rows)).collect()
    assert len(out) == len(expect)
    for r in out:
        assert (r.allowed, r.rule) == expect[r.doc_id], (
            r.doc_id,
            r.host,
            r.path,
        )
