"""Headline benchmark — runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is total wall-clock over the headline suite; ``queries``
holds per-query seconds. The per-layer engine benchmark is
``perfbench/`` (see BENCHMARK.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "geocode_cells",
    "cell_hist",
    "pip_join",
    "pip_join_hot",
    "knn",
    "knn_table",
    "dtm_window_max",
    "dtm_overview_max",
    "tile_assignment",
    "rasterize_grid",
    "crop",
    "xyz_lookup",
    "pmtiles_webp_ingest",
    "focal_stats",
    "hillshade",
    "ice_merge",
    "resample_bilinear",
    "idw_grid",
    "slope_aspect",
    "coord_interop",
    "flow_direction",
    "flow_accum",
    "flow_accum_fix",
    "warc_ingest",
]


def _write_micro(sf_dir, sf, cpus, per_query, rows_out, total, loads=None) -> None:
    """.perfbench_out/MICRO.md (git-ignored) — per-operator microbench
    so regressions are attributable per operator, not just as suite
    wall-clock. Regenerated on every bench run."""
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    lines = [
        "# Per-operator microbench",
        "",
        f"Input: `{sf_dir}` (sf={sf}) on local[{cpus}]. Regenerated by",
        "`bench.py` each run; compare against an earlier run's copy",
        "to attribute suite-level regressions to an operator.",
        f"Host 1-min loadavg at start/end: {loads} (multi-tenant host —",
        "suite wall swings ~2x under neighbor load; compare like-for-like).",
        "",
        "| query | rows out | sec | rows out/sec |",
        "|---|---:|---:|---:|",
    ]
    for name, dt in per_query.items():
        n = rows_out[name]
        rate = f"{n / dt:,.0f}" if dt > 0 else "-"
        lines.append(f"| {name} | {n:,} | {dt:.3f} | {rate} |")
    lines += [
        f"| **total** | | **{total:.3f}** | |",
        "",
    ]
    with open(os.path.join(out_dir, "MICRO.md"), "w") as f:
        f.write("\n".join(lines))


def _probe_mem_ceiling() -> float | None:
    """Quick host-state reading: per-process streaming-copy
    throughput at 16-way over 4-way occupancy (same metric as
    tools/host_probe.py, shortened). Healthy windows on this box
    read ~1.3-1.7; neighbor bus saturation reads ~0.2-0.3 and
    inflates the suite wall 2-3x with no plan change — recording it
    IN the artifact makes a noisy number attributable at a glance.
    Runs BEFORE Spark starts so it measures neighbors, not us."""
    try:
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
        )
        from host_probe import run_at_occupancy

        m4 = run_at_occupancy("mem", 4, seconds=1.0)
        m16 = run_at_occupancy("mem", 16, seconds=1.0)
        return round(m16 / m4, 3) if m4 else None
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mem_ceiling = _probe_mem_ceiling()

    from georaster_spark.session import get_spark
    from georaster_spark import queries as Q

    spark = get_spark("georaster_spark_bench", cores=cpus, shuffle_partitions=cpus)

    # warm the JVM/Arrow paths AND the Python worker pool (first
    # pandas-UDF query in a session pays ~5-8s of worker spin-up)
    # so per-query times measure the plans
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64, numPartitions=cpus).mapInPandas(
        lambda it: it, "id long"
    ).count()

    per_query: dict[str, float] = {}
    rows_out: dict[str, int] = {}
    total = 0.0
    # the host is multi-tenant: record load around the run so a noisy
    # number is attributable to neighbors, not the plans (measured
    # 36-74 s suite swing purely from neighbor load)
    loads = [round(os.getloadavg()[0], 1)]
    # min over reps: a single pass confounds plan cost with JIT
    # compilation order and neighbor-load spikes (measured 2x suite
    # swing); min-of-2 is the standard capability estimate
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "2")))
    for name in HEADLINE:
        fn = Q.QUERIES[name]
        best, n = None, 0
        for _ in range(reps):
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
            # operators persist() intermediates (loop rounds, cached
            # inputs); freed so storage pressure from one query can't
            # evict/GC-thrash a later one
            spark.catalog.clearCache()
        per_query[name] = round(best, 3)
        rows_out[name] = n
        total += best
        print(f"# {name}: {n} rows in {best:.2f}s (min of {reps})", file=sys.stderr)
    loads.append(round(os.getloadavg()[0], 1))

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    _write_micro(sf_dir, sf, cpus, per_query, rows_out, total, loads)
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_clock",
                "value": round(total, 3),
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
                "cpus": cpus,
                "loadavg_start_end": loads,
                "host_mem_ceiling_4_to_16": mem_ceiling,
            }
        )
    )


if __name__ == "__main__":
    main()
