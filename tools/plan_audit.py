"""Physical-plan audit: capture ``explain('formatted')`` for the
scale-critical queries and check the properties that decide whether
the plan survives a 100x scale-up. Writes the plans and the verdicts
to ``.plan_audit/PLANS.md`` (git-ignored, with session ids blanked so
two dumps diff cleanly) and exits non-zero on violations.

Checked invariants:
- flagship pip_join: polygon cover index is BROADCAST (the big doc
  side never shuffles before the ray-cast), and column pruning keeps
  the BINARY ``html`` column out of the parquet scan;
- cell_hist: per-cell counts are one Exchange (map-side partial
  aggregation takes the hot cell; no salted second shuffle);
- ingestion: raster decode is one Arrow kernel reading its path
  table directly, and the metadata side is the other; PMTiles tiles
  are one Arrow kernel over the path list, and WARC split planning and
  record parsing are two. Payload bytes never cross an Exchange, and
  path lists are not spread by a shuffle;
- no audited plan has a pandas map stage (``MapInPandas``): every
  per-row source stage is ``session.map_rows``'s Arrow kernel;
- driver-built tables (cover and zone indexes, path lists) are
  ``LocalTableScan``s, never a pickled-RDD ``Scan ExistingRDD``;
- vector joins (dwithin, zonal stats): broadcast or cell equi-joins,
  never a nested loop; the kNN table call is one Arrow kernel with
  no Exchange, no join and no Filter; the XYZ lookup computes its
  probe keys once (one Arrow kernel, a join on ``cell`` alone, no
  Filter repeating the cell encode);
- raster stencils and resampling: one block Exchange into the kernel,
  no Python evaluator after it;
- ice_prune: manifest stats prune files before Spark lists them;
- ice_appends: a table written as three appended snapshots reads as
  one Parquet scan, with no Union of per-snapshot scans.

    python tools/plan_audit.py
"""

from __future__ import annotations

import io
import os
import sys
import re
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"


def n_nodes(plan: str, op: str) -> int:
    """Count physical nodes by their '(N) Op' detail headers — each
    operator appears once there (the tree rendering would double-count)."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, re.M))


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _blank_partition_counts(plan: str) -> str:
    """``hashpartitioning(<keys>, 4)`` -> ``hashpartitioning(<keys>, N)``
    (and ``rangepartitioning``), the keys being any nested expressions."""
    parts, pos = [], 0
    for m in re.finditer(r"(?:hash|range)partitioning\(", plan):
        depth, j = 1, m.end()
        while depth and j < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        parts.append(plan[pos : m.start()] + re.sub(r", \d+\)$", ", N)", plan[m.start() : j]))
        pos = j
    return "".join(parts) + plan[pos:]


def normalize_ids(plan: str) -> str:
    """Blank what a session numbers as it goes (``#<exprId>``,
    ``plan_id=<n>``, ``RDD[<n>]``, lambda-variable suffixes, RDD call
    sites, the identity hash of a folded array literal, the snapshot
    and part-file ids in a table's file paths) and what
    follows the core count (the partition count of
    ``hashpartitioning``/``rangepartitioning``, ``splits=Some(<n>)``)
    so dumps from different sessions and hosts diff cleanly; the
    invariants are checked on the raw plan."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = _blank_partition_counts(plan)
    plan = re.sub(r"splits=Some\(\d+\)", "splits=Some(N)", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    plan = re.sub(r"UnsafeArrayData@[0-9a-f]+", "UnsafeArrayData@N", plan)
    plan = re.sub(r"(lambda \w+_)\d+", r"\1N", plan)
    plan = re.sub(r"snap-\d+-[0-9a-f]+", "snap-N", plan)
    plan = re.sub(r"(part-\d+)-[0-9a-f-]{36}", r"\1-N", plan)
    return re.sub(r" at (?:\S+\.java|<unknown>):\d+", "", plan)


def main() -> int:
    from georaster_spark import queries as Q
    from georaster_spark.session import get_spark

    spark = get_spark("plan_audit", cores=4, shuffle_partitions=4)

    checks: list[tuple[str, str, bool]] = []  # (query, invariant, ok)
    plans: dict[str, str] = {}

    def check(name: str, invariant: str, ok: bool):
        checks.append((name, invariant, ok))

    # flagship: broadcast cover join + html never scanned
    flagship = Q.flagship(spark, SF)
    p = plans["flagship"] = explain_str(flagship)
    check("flagship", "cover index joined via BroadcastHashJoin", "BroadcastHashJoin" in p)
    check("flagship", "documents scan prunes the BINARY html column", "html" not in p)

    # cell_hist: per-cell counts aggregate map-side into ONE shuffle
    # (no salted second stage for the hot cell)
    p = plans["cell_hist"] = explain_str(Q.q_cell_hist(spark, SF))
    check(
        "cell_hist",
        "exactly one Exchange (partial count map-side, final count after it)",
        n_nodes(p, "Exchange") == 1,
    )

    # raster_ingest: decode is ONE Arrow kernel reading its (path, k,
    # n) LocalTableScan directly (no chunk-row stage or Exchange before
    # it), the small metadata side is broadcast, and exactly one
    # aggregation shuffle (the per-raster groupBy)
    p = plans["raster_ingest"] = explain_str(Q.q_raster_ingest(spark, SF))
    check(
        "raster_ingest",
        "two executor kernels and NO driver-side file opens: the "
        "decode and metadata MapInArrow stages, no MapInPandas (the "
        "only LocalTableScans are the driver-built path tables)",
        n_nodes(p, "MapInArrow") == 2
        and n_nodes(p, "MapInPandas") == 0
        and len(re.findall(r"^\(\d+\) \w*(?:InPandas|InArrow|EvalPython)\b", p, re.M)) == 2,
    )
    decode = re.search(r"^\((\d+)\) MapInArrow\nInput \[\d+\]: (\[path#\d+, k#\d+, n#\d+\])$", p, re.M)
    scan = decode and re.search(
        rf"^\({int(decode.group(1)) - 1}\) LocalTableScan\nOutput \[\d+\]: (\[.*\])$", p, re.M
    )
    check(
        "raster_ingest",
        "decode kernel reads its LocalTableScan DIRECTLY (its child, "
        "same columns: nothing between the path table and the decode)",
        bool(scan)
        and scan.group(1) == decode.group(2)
        and re.search(r"MapInArrow \(\d+\)\n[ :|]*\+- LocalTableScan \(\d+\)", p) is not None,
    )
    check("raster_ingest", "metadata side joined via BroadcastHashJoin", "BroadcastHashJoin" in p)
    check(
        "raster_ingest",
        "exactly one shuffle Exchange: the per-raster groupBy (path "
        "lists are split by their LocalTableScan; blobs shuffle in none)",
        n_nodes(p, "Exchange") == 1,
    )

    # pmtiles_ingest / pmtiles_webp_ingest: directory walk and tile
    # decode (per-tile PNG/WebP dispatch included) are one Arrow kernel
    # directly over the path list's LocalTableScan, so tile bytes never
    # shuffle and adding a codec adds no stage
    for name in ("pmtiles_ingest", "pmtiles_webp_ingest"):
        p = plans[name] = explain_str(Q.QUERIES[name](spark, SF))
        check(
            name,
            "exactly one MapInArrow, directly over the path list's "
            "LocalTableScan; no MapInPandas (tile bytes never shuffle)",
            n_nodes(p, "MapInArrow") == 1
            and n_nodes(p, "MapInPandas") == 0
            and re.search(r"MapInArrow \(\d+\)\n[ :|]*\+- LocalTableScan \(\d+\)", p) is not None,
        )
        check(name, "zero Exchanges", n_nodes(p, "Exchange") == 0)

    # warc_ingest: two-stage crawl-shard read — split planning and
    # member parsing are both Arrow kernels; the ONLY shuffles carry
    # split/path descriptors (path, offset, length), never page bytes
    p = plans["warc_ingest"] = explain_str(Q.q_warc_ingest(spark, SF))
    check(
        "warc_ingest",
        "two Arrow kernels (CDX split planner + gzip-member parse), "
        "no driver-side file opens",
        n_nodes(p, "MapInArrow") == 2,
    )
    warc_exchanges = [
        para
        for para in p.split("\n\n")
        if para.splitlines() and re.match(r"\(\d+\) Exchange", para.splitlines()[0].strip())
    ]
    check(
        "warc_ingest",
        "every Exchange carries only split descriptors — the payload "
        "column never shuffles",
        len(warc_exchanges) >= 1
        and all("payload" not in para for para in warc_exchanges),
    )

    # xyz_lookup: the generated tile side has no parquet scan of docs
    # columns beyond doc_id (pruning through the probe side)
    p = plans["xyz_lookup"] = explain_str(Q.q_xyz_lookup(spark, SF))
    check("xyz_lookup", "documents scan prunes text/html for the probe", "text" not in p and "html" not in p)
    # ... and the probe keys are computed once: px/py in one Arrow
    # kernel, a join on cell alone, and no Filter that re-runs the
    # cell encode under the Project
    join_keys = re.findall(r"^Left keys \[\d+\]: \[(.*)\]$", p, re.M)
    filters = [para for para in p.split("\n\n") if re.match(r"\(\d+\) Filter\b", para.strip())]
    check(
        "xyz_lookup",
        "exactly one MapInArrow, one join keyed on cell alone, no Filter "
        "repeating the cell encode",
        n_nodes(p, "MapInArrow") == 1
        and len(join_keys) == 1 and re.fullmatch(r"cell#\d+L?", join_keys[0]) is not None
        and not any("TAN(RADIANS" in para for para in filters),
    )

    # dwithin: the theta-join must have been rewritten away — cell
    # equi-join only, never a nested-loop
    p = plans["dwithin_pairs"] = explain_str(Q.q_dwithin_pairs(spark, SF))
    check("dwithin_pairs", "no BroadcastNestedLoopJoin (cell equi-join rewrite)", "NestedLoop" not in p)

    # focal_stats: the tile-halo stencil — exactly ONE Exchange (the
    # block-key groupBy feeding the Arrow kernel); the naive forms
    # this replaces are a 9x-volume shuffle or a range self-join
    p = plans["focal_stats"] = explain_str(Q.q_focal_stats(spark, SF))
    check(
        "focal_stats",
        "single Exchange (block-key groupBy) into the stencil kernel, no joins",
        n_nodes(p, "Exchange") == 1
        and n_nodes(p, "FlatMapGroupsInPandas") == 1
        and "Join" not in p,
    )

    # hillshade: same halo-stencil shape as focal_stats — one block
    # Exchange into the gradient kernel, trig downstream in codegen
    p = plans["hillshade"] = explain_str(Q.q_hillshade(spark, SF))
    check(
        "hillshade",
        "single Exchange into the Horn kernel; slope/aspect trig is a "
        "JVM Project (no Python evaluator downstream of the kernel)",
        n_nodes(p, "Exchange") == 1
        and n_nodes(p, "FlatMapGroupsInPandas") == 1
        and "BatchEvalPython" not in p,
    )

    # slope_aspect: same halo-stencil shape as hillshade — one block
    # Exchange into the gradient kernel, slope/aspect trig in codegen
    p = plans["slope_aspect"] = explain_str(Q.q_slope_aspect(spark, SF))
    check(
        "slope_aspect",
        "single Exchange into the Horn kernel; slope/aspect trig is a "
        "JVM Project (no Python evaluator downstream of the kernel)",
        n_nodes(p, "Exchange") == 1
        and n_nodes(p, "FlatMapGroupsInPandas") == 1
        and "BatchEvalPython" not in p,
    )

    # resample_bilinear: corner gather is a HASH equi-join (never a
    # nested loop) and the target grid generates executor-side (Range)
    p = plans["resample_bilinear"] = explain_str(Q.q_resample_bilinear(spark, SF))
    check(
        "resample_bilinear",
        "corner gather is a hash equi-join with map-side partial_sum; "
        "no nested-loop join; BOTH the source and the target grid "
        "generate from executor-side Range (2 Range nodes)",
        "NestedLoop" not in p and "partial_sum" in p
        and n_nodes(p, "Range") >= 2,
    )

    # idw_grid: pure codegen map stage — zero Exchanges, zero joins,
    # no Python (the sample points are a literal broadcast array)
    p = plans["idw_grid"] = explain_str(Q.q_idw_grid(spark, SF))
    check(
        "idw_grid",
        "zero Exchanges and zero joins (literal-array aggregate in "
        "a codegen map stage)",
        n_nodes(p, "Exchange") == 0 and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    # zonal stats: zone index broadcast; exactly one aggregate shuffle
    p = plans["zonal_stats"] = explain_str(Q.q_zonal_stats(spark, SF))
    check("zonal_stats", "zone index joined via BroadcastHashJoin", n_nodes(p, "BroadcastHashJoin") >= 1)
    check("zonal_stats", "single Exchange (the per-zone aggregate)", n_nodes(p, "Exchange") == 1)

    # table kNN: the per-cell candidate index ships inside one Arrow
    # kernel; lookup, top-k, proof and exact fallback run there, so
    # nothing shuffles or joins
    p = plans["knn_table"] = explain_str(Q.q_knn_table(spark, SF))
    check(
        "knn_table",
        "no Exchange, no join, no Filter, exactly one MapInArrow",
        n_nodes(p, "Exchange") == 0
        and not re.findall(r"^\(\d+\) \w*Join\b", p, re.M)
        and n_nodes(p, "Filter") == 0
        and n_nodes(p, "MapInArrow") == 1,
    )

    # driver-built tables (polygon cover, zone index, path lists) ship
    # inside the plan, never as a pickled Python RDD
    for name in ("flagship", "knn_table", "zonal_stats", "raster_ingest", "pmtiles_ingest"):
        check(
            name,
            "driver-built tables are LocalTableScans (no Scan ExistingRDD)",
            "ExistingRDD" not in plans[name],
        )

    # ice_prune: manifest-stat file skipping — the scan must list
    # STRICTLY FEWER files than the snapshot holds, and the residual
    # date filter still reaches the parquet reader
    ice_df = Q.q_ice_prune(spark, SF)
    p = plans["ice_prune"] = explain_str(ice_df)
    from georaster_spark.sources import icetable as _ice

    import datetime as _dt
    import hashlib as _hl
    import tempfile as _tf

    _tbl = os.path.join(
        _tf.gettempdir(),
        "georaster_ice_prune_" + _hl.md5(f"{SF}|groups2".encode()).hexdigest()[:10],
    )
    _plan = _ice.plan_files(
        _tbl,
        [("o_date", ">=", _dt.date(1996, 1, 1)), ("o_date", "<", _dt.date(1997, 1, 1))],
    )
    check(
        "ice_prune",
        f"manifest stats pruned the scan to {len(_plan['kept'])} of "
        f"{_plan['total']} files before Spark listed any",
        0 < len(_plan["kept"]) < _plan["total"],
    )
    check(
        "ice_prune",
        f"two-level manifest read only {_plan['groups_read']} of "
        f"{_plan['groups_total']} stat groups (planning is O(groups))",
        0 < _plan["groups_read"] < _plan["groups_total"],
    )
    check(
        "ice_prune",
        "residual o_date filter pushed to the parquet scan",
        any("o_date" in l and "[]" not in l for l in p.splitlines() if "PushedFilters" in l),
    )

    # ice_appends: every snapshot's files in one scan, however many
    # commits wrote the table
    import shutil as _sh

    _tbl = os.path.join(_tf.gettempdir(), "georaster_plan_audit_appends")
    _sh.rmtree(_tbl, ignore_errors=True)
    for k in range(3):
        _ice.write_table(
            spark.range(1000 * k, 1000 * (k + 1)), _tbl, mode="append" if k else "overwrite"
        )
    p = plans["ice_appends"] = explain_str(_ice.read_table(spark, _tbl))
    _sh.rmtree(_tbl)
    check(
        "ice_appends",
        "three appended snapshots read as exactly one Scan parquet, no Union",
        n_nodes(p, "Scan parquet") == 1 and n_nodes(p, "Union") == 0,
    )

    # one per-row stage form: session.map_rows's Arrow kernel, never a
    # pandas map (group kernels such as the halo stencils stay pandas)
    pandas_maps = [name for name, plan in plans.items() if n_nodes(plan, "MapInPandas")]
    check(
        "every audited plan",
        f"no MapInPandas in any of the {len(plans)} plans"
        + (f" (found in {', '.join(pandas_maps)})" if pandas_maps else ""),
        not pandas_maps,
    )

    out_dir = os.path.join(REPO, ".plan_audit")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "PLANS.md"), "w") as f:
        f.write("# Physical-plan audit (explain('formatted') invariants)\n\n")
        f.write("Run: `python tools/plan_audit.py` — regenerated on every run.\n\n")
        f.write("| query | invariant | status |\n|---|---|---|\n")
        for name, inv, ok in checks:
            f.write(f"| {name} | {inv} | {'PASS' if ok else 'FAIL'} |\n")
        f.write("\n")
        for name, plan in plans.items():
            f.write(f"## {name}\n\n```\n{normalize_ids(plan.strip())}\n```\n\n")

    failed = [(n, i) for n, i, ok in checks if not ok]
    for n, i, ok in checks:
        print(f"{'PASS' if ok else 'FAIL'} {n}: {i}")
    if failed:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
