"""Input-layout repair: minimum parallelism for compute-heavy stages.

A parquet input written as one file with one row group (the sf-dir
layout; in production, any table a non-Spark writer wrote with a huge
row group) scans as one task whatever the cluster size, so a stage
whose per-row work dwarfs a shuffle of its input (Python codec
kernels, all-pairs vector folds) runs on one core.

`ensure_min_parallelism` decides from the scan's layout alone: with at
least `defaultParallelism` input files it reads nothing and leaves the
plan alone; otherwise it sums the footers' row groups (Spark's own
parquet-hadoop reader, so any scheme the scan reads works), stopping
at `defaultParallelism`, and only a smaller sum adds one round-robin
exchange. A footer that cannot be read leaves the plan alone. It never
plans an RDD (`df.rdd.getNumPartitions()` costs ~50 ms warm and ~1 s
cold on 4 vCPUs; this decision 10-30 ms warm). Keyless round-robin is
retry-safe (SPARK-23207) and changes no output.

It is called where a consumer that won its own A/B loads its input
(4 vCPUs, sf0.1 = one row group per table, median of 5 alternating
pairs, with vs without the spread; CHANGES.md has all 16 former sites):
- `binary_ops._codec_docs`, the Python codec queries:
  multimodal_frame_sample 24.9 -> 8.2 s, decode_gif 6.6 -> 2.6 s,
  codec_attest..5 1.6-3.6 -> 0.9-1.3 s, decode_png 1.39 -> 1.29 s;
- dedup_embedding_cosine's streamed crossJoin side: 12.7 -> 3.9 s;
- knn_bruteforce_cosine's streamed corpus side: 0.56 -> 0.46 s.
ingestion_codec_attest and knn_random_projection did not win, and the
payload generators no registered query reaches (wav, avi, jpeg,
jpeg_color) are not spread.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin `df` over the session's default parallelism iff its
    parquet scan has fewer files and fewer row groups than that (see
    module docstring). Use on the load of a stage whose per-row compute
    dominates a shuffle of its input, never on cheap projections."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) >= p:
        return df
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    parquet = jvm.org.apache.parquet
    no_filter = parquet.format.converter.ParquetMetadataConverter.NO_FILTER
    groups = 0
    for f in files:
        try:
            footer = parquet.hadoop.ParquetFileReader.readFooter(
                conf, jvm.org.apache.hadoop.fs.Path(f), no_filter
            )
        except Py4JJavaError:  # not parquet, or unreadable: leave it
            return df
        groups += footer.getBlocks().size()
        if groups >= p:
            return df
    return df.repartition(p)
