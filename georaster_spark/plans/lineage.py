"""Checkpointed per-partition lineage + resumable stages (E9).

The 10^12-document pipeline must survive mid-run failure. Unit of
checkpointing is a *logical partition* (a column value — e.g. the
salted cell, a date bucket, or ``pmod(xxhash64(url), N)``), not a
Spark task: lineage lives in table metadata, so a rerun on a
different cluster shape resumes identically.

Atomicity: each incremental run appends ONE snapshot to the E10
output table whose manifest carries both the new data files AND the
lineage rows ``(stage, part, input_rows, output_rows, checksum,
committed_at)``. The snapshot commit is an atomic pointer swap —
data and lineage become visible together, so there is no
"data-written-but-lineage-missing" window. A crash mid-write leaves
only unreachable files (invisible to readers, GC-able).

``checksum`` is an order-independent content hash (``bit_xor`` of
xxhash64 over the carried columns), taken per partition from the
committed files themselves: the stage writes its output once, then
reads back only the partition and checksum columns of the files that
write produced, before the pointer swap. A failed read-back commits
nothing, like a crash mid-write. On the input side a stage only
counts rows per pending partition (``input_rows``). The north-rule
byte-identity audit — the checksum of (url, text) per partition must
match between pipeline entry and exit — is ``verify_text_identity``.

Resume = ``left_anti`` join of the input's partitions against the
committed lineage: done partitions are never recomputed. Each resumed
run appends one more snapshot, and the table is still read in one
Parquet scan whatever the number of runs that wrote it. A run commits
only onto the snapshot whose lineage it read, so two concurrent runs
of a stage cannot both commit the same parts: the later one raises
``icetable.CommitConflict``.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from georaster_spark.session import local_df
from georaster_spark.sources import icetable

def content_checksum(df: DataFrame, part_col: str, cols: list[str]) -> DataFrame:
    """Order-independent per-partition checksum:
    bit_xor(xxhash64(cols)).

    XOR is commutative and overflow-free (sum would overflow int64
    under ANSI mode), so the value is stable under any row order /
    physical partitioning. Paired duplicates cancel under XOR — the
    recorded row count catches those.
    """
    return df.groupBy(F.col(part_col).cast("long").alias("part")).agg(
        F.bit_xor(F.xxhash64(*cols)).alias("checksum"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def lineage_rows(output_path: str, stage: str | None = None) -> list[dict]:
    """Committed lineage records from the output table's manifest
    chain (only pointer-reachable snapshots count)."""
    out: list[dict] = []
    try:
        chain = icetable.committed_chain(output_path)
    except FileNotFoundError:
        return out
    for m in chain:
        for row in m.get("extra", {}).get("lineage", []):
            if stage is None or row["stage"] == stage:
                out.append(row)
    return out


def done_partitions(output_path: str, stage: str) -> set[int]:
    return {r["part"] for r in lineage_rows(output_path, stage)}


def run_stage(
    spark: SparkSession,
    stage: str,
    source: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    part_col: str,
    output_path: str,
    checksum_cols: list[str] | None = None,
) -> dict[str, int]:
    """Run ``transform`` over only the not-yet-done partitions and
    commit (data + lineage) atomically as one snapshot.

    The transform must preserve ``part_col`` (the checkpoint key):
    output rows of partition p derive only from input rows of p.
    The output is written once and not persisted: each partition's
    ``output_rows``/``checksum`` come from a read-back of the written
    files (``write_table``'s ``extra`` function), before the commit.
    Raises ``icetable.CommitConflict`` if the table advanced after its
    done parts were read. Returns {"pending": n, "done_before": m}.
    """
    # the commit's basis: a run that commits after this read (say, a
    # concurrent run of the same stage) makes this commit conflict
    # instead of committing the same parts twice
    basis = icetable.current_snapshot(output_path)
    done = sorted(done_partitions(output_path, stage))
    done_df = local_df(spark, [(p,) for p in done], f"{part_col} long")
    pending = source.join(F.broadcast(done_df), part_col, "left_anti")

    in_rows = {
        r["part"]: r["count"]
        for r in pending.groupBy(F.col(part_col).cast("long").alias("part")).count().collect()
    }
    if not in_rows:
        return {"pending": 0, "done_before": len(done)}

    out = transform(pending)
    if part_col not in out.columns:
        raise ValueError(f"transform must preserve the checkpoint column {part_col!r}")
    ck_cols = checksum_cols or [part_col]

    def lineage_extra(written: DataFrame) -> dict:
        out_stats = {
            r["part"]: (r["n_rows"], r["checksum"])
            for r in content_checksum(written, part_col, ck_cols).collect()
        }
        now = time.time()
        rows = [
            {
                "stage": stage,
                "part": int(p),
                "input_rows": int(n),
                "output_rows": int(out_stats.get(p, (0, 0))[0]),
                "checksum": int(out_stats.get(p, (0, 0))[1]),
                "committed_at": now,
            }
            for p, n in in_rows.items()
        ]
        return {"stage": stage, "lineage": rows}

    icetable.write_table(
        out,
        output_path,
        mode="append" if basis else "overwrite",
        extra=lineage_extra,
        expected_parent=basis,
    )
    return {"pending": len(in_rows), "done_before": len(done)}


def verify_text_identity(
    source: DataFrame, sink: DataFrame, part_col: str, key_cols: list[str]
) -> bool:
    """North-rule audit: per-partition content checksums of
    ``key_cols`` (e.g. [url, text]) must match between pipeline
    source and sink."""
    a = content_checksum(source, part_col, key_cols)
    b = content_checksum(sink, part_col, key_cols)
    diff = (
        a.alias("a")
        .join(b.alias("b"), "part", "full")
        .where(
            F.col("a.checksum").isNull()
            | F.col("b.checksum").isNull()
            | (F.col("a.checksum") != F.col("b.checksum"))
            | (F.col("a.n_rows") != F.col("b.n_rows"))
        )
    )
    return diff.count() == 0
