"""Repository benchmark: seeded, checked workloads over the engine.

    python3 perfbench/run.py --workload vector_join --seed 1 --seconds 10 --trace 0

``--trace 0`` measures one workload (see ``perfbench.workloads``) at
``local[nproc]``: it starts the session, sets up ``SETUP_REPS`` times
(fixtures and one warm-up iteration; ``setup_s`` is the session start
plus the median set-up: the first set-up is cold, the later ones
reuse the warm JVM and its Python workers), then
runs checked iterations back to back for ``--seconds`` and reports
medians. ``peak_rss_mb`` is the JVM's peak resident size plus the
peak proportional set size of its Python workers; the JVM heap has a
fixed size, so the figure moves with off-heap and Python-worker
memory, while heap pressure shows as GC and wall time.

``--trace 1`` gives per-layer numbers for every layer: it sets up all
three workloads in one session with the Spark event log on, warms up
``--workload`` (one untraced iteration, then a second one that is
timed), runs one traced iteration of each, and reports per-span task
metrics, layer counters and the tracing overhead (traced minus
untraced iteration wall time of ``--workload``). Spans are written to
``.perfbench_out/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds
the run's context (seed, host, sample counts, workload-specific names
of the end-to-end figures). Everything the run writes goes under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.host import (  # noqa: E402
    OUT_ROOT,
    MemSampler,
    driver_mem_mb,
    host_cores,
    make_workdir,
    now,
    shutdown_jvm,
    start_session,
)
from perfbench.inputs import SIZES, Oracle, make_inputs  # noqa: E402
from perfbench.trace import SPAN_METRICS, Tracer, parse_event_log  # noqa: E402
from perfbench.workloads import WORKLOADS, CheckFailed  # noqa: E402

# set-ups (fixtures + one warm-up iteration) per measured run, after
# one session start; setup_s is the session start plus their median
SETUP_REPS = 2

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("rows_per_s", "rows/s", "higher"),
]

NAMED_UNITS = {
    "join_docs_per_s": "docs/s",
    "decode_mpix_per_s": "Mpx/s",
    "ingest_docs_per_s": "docs/s",
    "resume_s": "s",
    "write_amp": "ratio",
}

SPANS = [
    "icetable.read_table",
    "cells.encode",
    "spatial_join.pip_join",
    "spatial_join.salted_cell_counts",
    "knn.knn_table_join",
    "geotiff.chunk_plan_df",
    "geotiff.pixels_df",
    "raster.build_overview",
    "raster.pixels_to_tiles",
    "raster.xyz_lookup",
    "lineage.run_stage.enrich",
    "lineage.run_stage.join",
    "lineage.verify_text_identity",
    "lineage.resume",
]

# (name, unit, better) of the driver-only spans and layer counters
LAYER_SCALARS = [
    ("session.start_s", "s", "lower"),
    ("spatial_join.cover_df_s", "s", "lower"),
    ("spatial_join.cover_rows", "count", "lower"),
    ("spatial_join.cover_full_frac", "ratio", "higher"),
    ("spatial_join.candidates", "count", "lower"),
    ("spatial_join.match_ratio", "ratio", "higher"),
    ("spatial_join.hot_key_share", "ratio", "lower"),
    ("knn.rows_out", "count", "higher"),
    ("geotiff.chunks", "count", "lower"),
    ("geotiff.file_bytes", "bytes", "lower"),
    ("geotiff.pixels", "count", "higher"),
    ("raster.tiles_out", "count", "higher"),
    ("raster.xyz_hit_ratio", "ratio", "higher"),
    ("icetable.files_written", "count", "lower"),
    ("icetable.bytes_written", "bytes", "lower"),
    ("icetable.manifest_bytes", "bytes", "lower"),
    ("icetable.write_amp", "ratio", "lower"),
    ("lineage.parts_committed", "count", "higher"),
    ("trace.overhead_s", "s", "lower"),
]


def per_layer_spec() -> list[tuple[str, str, str]]:
    spans = [
        (f"{s}.{m}", unit, "lower") for s in SPANS for m, unit in SPAN_METRICS.items()
    ]
    return spans + LAYER_SCALARS


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """Counts attempted and failed iterations across one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, fn):
        self.attempted += 1
        try:
            return fn()
        except CheckFailed as e:
            print(f"check failed: {e}", file=sys.stderr)
        except Exception:  # a failed iteration is counted, the run goes on
            traceback.print_exc()
        self.failed += 1
        return None


def measure(name: str, seed: int, seconds: float, size: str, work: Path) -> dict:
    cls = WORKLOADS[name]
    inp = make_inputs(seed, size)
    oracle = Oracle(inp)
    try:
        expected = cls.expect(inp, oracle)
    finally:
        oracle.close()
    run, reps, samples = Run(), [], []
    with MemSampler() as mem:
        t0 = now()
        spark = start_session(work, host_cores())
        session_s = now() - t0
        for rep in range(SETUP_REPS):
            t0 = now()
            wl = cls(spark, inp, expected, work / f"rep{rep}")
            wl.setup()
            run.attempt(wl.iterate)  # warm-up: JIT, Python workers
            reps.append(now() - t0)
        t_start = now()
        while True:
            res = run.attempt(wl.iterate)
            if res is not None:
                samples.append(res)
            if now() - t_start >= seconds:
                break
        spark.stop()
    if not samples:
        raise SystemExit("no iteration succeeded")

    def med(key):
        return statistics.median(s[key] for s in samples)

    values = {
        "setup_s": session_s + statistics.median(reps),
        "wall_s": med("wall_s"),
        "peak_rss_mb": mem.peak_mb,
        "rows_per_s": med("rows_per_s"),
    }
    named = {
        k: {"value": statistics.median(s["named"][k] for s in samples), "unit": NAMED_UNITS[k]}
        for k in samples[0]["named"]
    }
    context = {
        "samples": len(samples),
        "session_start_s": session_s,
        "setup_rep_samples_s": reps,
        "wall_samples_s": [s["wall_s"] for s in samples],
        "failed_frac": run.failed / run.attempted,
        "workload_metrics": named,
    }
    units = {n: u for n, u, _ in END_TO_END}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    return {"run": run, "metrics": metrics, "context": context}


def trace(name: str, seed: int, size: str, work: Path) -> dict:
    inp = make_inputs(seed, size)
    oracle = Oracle(inp)
    try:
        expected = {n: cls.expect(inp, oracle) for n, cls in WORKLOADS.items()}
    finally:
        oracle.close()
    run, values = Run(), {}
    t0 = now()
    spark = start_session(work, host_cores(), event_log=True)
    values["session.start_s"] = now() - t0
    tr = Tracer(spark)
    wls = {n: cls(spark, inp, expected[n], work / n) for n, cls in WORKLOADS.items()}
    for n, wl in wls.items():
        wl.setup()
        log(f"{n}: set up at {now() - t0:.1f}s")
    run.attempt(wls[name].iterate)  # warm-up
    plain = run.attempt(wls[name].iterate)
    if plain is None:
        raise SystemExit(f"{name}: untraced iteration failed")
    for n, wl in wls.items():
        traced = run.attempt(lambda: wl.traced(tr))
        log(f"{n}: traced at {now() - t0:.1f}s")
        if traced is None:
            raise SystemExit(f"{n}: traced iteration failed")
        if n == name:
            values["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
        values.update(traced["counters"])
    spark.stop()  # flushes the event log
    values["spatial_join.cover_df_s"] = tr.wall("spatial_join.cover_df_s")
    task = parse_event_log(str(work / "events"), tr.spans)
    for s in SPANS:
        values[f"{s}.wall_s"] = tr.wall(s)
        for m, v in task[s].items():
            values[f"{s}.{m}"] = v
    OUT_ROOT.mkdir(exist_ok=True)
    spans_file = OUT_ROOT / f"spans-{name}-seed{seed}.jsonl"
    tr.dump(str(spans_file))
    units = {n: u for n, u, _ in per_layer_spec()}
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    return {"run": run, "metrics": metrics, "context": {"spans_file": str(spans_file)}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)

    work = make_workdir(f"{args.workload}-{args.seed}")
    try:
        if args.trace:
            out = trace(args.workload, args.seed, args.size, work)
        else:
            out = measure(args.workload, args.seed, args.seconds, args.size, work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    run = out["run"]
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "nproc": host_cores(),
        "loadavg": list(os.getloadavg()),
        "driver_mem_mb": driver_mem_mb(),
        **out["context"],
    }
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": out["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
