"""Crawl-shard → Iceberg-style table ingestion as a ``spark-submit``
job: the upstream step of the north-star pipeline ("an Iceberg table
of Common-Crawl-style web pages").

Reads raw ``.warc.gz`` shards through the CDX-split WARC source and
materializes the input_hint table — columns exactly
``(url string, warc_ts timestamp, html binary, text string,
lang string)`` — in the engine's snapshot/manifest table layer, with
per-partition lineage so a killed 10^12-document ingest resumes
without re-reading finished shards:

- the checkpoint key is a stable hash of ``url`` (cluster-shape
  independent, same rule as the flagship job);
- the lineage checksum covers ``(url, text)`` — the byte-identity
  invariant is therefore recorded AT PIPELINE ENTRY, and
  ``verify_text_identity`` proves the committed table preserves the
  extracted text byte-for-byte;
- re-running with the same ``--output`` anti-joins committed
  partitions away first (no-op resume).

Text extraction here is ``warc.body_text`` (the ``<body>…</body>``
payload slice across lines, codegen regexp — no Python in the row
path), the rule the ``warc_ingest`` catalog entry uses too; a real
deployment swaps in its extractor at the marked line. The downstream
stages (geocode → cell-encode → PIP join) are ``flagship_job.py``.

Prints ONE JSON line with stage stats + the text-identity audit.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_session(app_name: str = "georaster-crawl-ingest"):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def pages_from_warc(spark, paths, split_bytes: int, parts: int):
    """WARC response records → input_hint rows + the checkpoint key."""
    from pyspark.sql import functions as F

    from georaster_spark.sources.warc import body_text, warc_records_df

    recs = warc_records_df(spark, paths, split_bytes=split_bytes)
    html = F.col("payload")
    # the body-text extractor; a real deployment replaces this line
    text = body_text(html)
    return recs.where(F.col("rec_type") == "response").select(
        "url",
        F.timestamp_seconds(F.col("ts_s")).alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        "lang",
        F.pmod(F.xxhash64("url"), F.lit(parts)).alias("part"),
    )


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--warc", nargs="*", default=None,
        help="shard paths (default: the deterministic fixture shards)",
    )
    ap.add_argument("--output", required=True, help="base dir for the table")
    ap.add_argument("--parts", type=int, default=64)
    ap.add_argument("--split-bytes", type=int, default=128 * 1024 * 1024)
    args = ap.parse_args(argv)

    spark = build_session()

    from georaster_spark.plans import lineage
    from georaster_spark.sources import icetable

    paths = args.warc
    if not paths:
        from georaster_spark.datagen import fixture_warc_paths

        paths = fixture_warc_paths()

    pages = pages_from_warc(spark, paths, args.split_bytes, args.parts)
    table_path = f"{args.output}/pages"
    s1 = lineage.run_stage(
        spark,
        "ingest",
        pages,
        lambda df: df,  # ingest stage: the transform IS the extraction
        part_col="part",
        output_path=table_path,
        checksum_cols=["url", "text"],
    )
    committed = icetable.read_table(spark, table_path)
    text_ok = lineage.verify_text_identity(
        pages, committed, "part", ["url", "text"]
    )

    result = {
        "ingest": s1,
        "text_identity_ok": bool(text_ok),
        "pages_rows": int(committed.count()),
        "n_shards": len(paths),
        # input_hint columns (minus the lineage checkpoint key)
        "schema": [
            f.name for f in committed.schema.fields if f.name != "part"
        ],
    }
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main(sys.argv[1:])
