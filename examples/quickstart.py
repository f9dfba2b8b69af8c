"""Quickstart: the engine's flagship path end-to-end on synthetic
data — the Spark-side analog of the reference's examples/ workflow.

    python examples/quickstart.py [n_docs]
"""

from __future__ import annotations

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F  # noqa: E402

from georaster_spark import get_spark  # noqa: E402
from georaster_spark.datagen import documents_df, geocode_cols, polygons  # noqa: E402
from georaster_spark.operators.knn import knn_join  # noqa: E402
from georaster_spark.operators.spatial_join import pip_join, salted_cell_counts  # noqa: E402
from georaster_spark import cells  # noqa: E402


def main(n_docs: int = 100_000) -> None:
    spark = get_spark("quickstart")

    # 1. a Common-Crawl-shaped corpus (url, warc_ts, html, text, lang)
    docs = documents_df(spark, n_docs)
    lon, lat = geocode_cols(F.col("doc_seq"))
    docs = docs.withColumn("lon", lon).withColumn("lat", lat)

    # 2. hierarchical cell index (pure Column algebra — JVM-side)
    docs = docs.withColumn("cell", cells.cell_encode_cols(F.col("lon"), F.col("lat"), 11))

    # 3. point-in-polygon join: broadcast cover + codegen ray-cast
    joined = pip_join(docs, polygons(), res=11)
    print("docs in polygons:")
    joined.groupBy("poly_id").count().orderBy(F.desc("count")).show(5)

    # 4. per-cell counts, aggregated map-side (20% of docs share one hot cell)
    print("hottest cells:")
    salted_cell_counts(docs).orderBy(F.desc("n_docs")).show(5)

    # 5. exact kNN around a query point: one pass, a top-k per task
    print("5 nearest docs to (7.5, 46.0):")
    knn_join(docs, [("q", 7.5, 46.0)], k=5, doc_key="url").show(truncate=False)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 100_000)
