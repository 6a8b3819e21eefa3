"""Storage-layout diagnostics: the small-files / skewed-files report.

At 100 TB the dominant silent performance killer is layout, not logic:
a table written by an over-parallel job becomes millions of KB-sized
files (per-file open/footer overhead swamps scan time, listing slows
planning), and a skew-written table hides one 50 GB file that pins a
task for an hour. This report prices both BEFORE a backfill/compaction
decision:

- rows per physical file come from ONE distributed pass
  (``groupBy(input_file_name())`` — map-side combined, |files| rows);
- bytes per file come from the driver-side filesystem listing via
  Hadoop's FileSystem API (storage-agnostic: works for file://, hdfs://,
  s3a://). Listing is metadata-scale — the same work every query's
  planner already does — but it IS proportional to file count, which is
  exactly what this report exists to bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.local import local_frame


def _list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(absolute uri, bytes) for every data file under ``path``,
    recursively, via Hadoop FileSystem (py4j — no Python fs assumption)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    out: list[tuple[str, int]] = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        name = p.rsplit("/", 1)[-1]
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS, checksums, hidden
        out.append((p, int(st.getLen())))
    return out


def _footer_counts(df: DataFrame) -> DataFrame:
    """(uri, n_rows) per file by reading ONLY parquet footers — a
    distributed metadata pass over the file list (pyarrow, Arrow-
    batched), zero data pages touched. Cost is O(files) footer reads
    spread across executors: the correct shape for a layout report,
    which exists precisely because the data may be too fragmented to
    scan cheaply."""
    import pandas as pd

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            n = [
                int(pq.ParquetFile(u).metadata.num_rows)
                for u in pdf["_local"]
            ]
            yield pd.DataFrame({"_uri": pdf["_uri"], "n_rows": n})

    return df.mapInPandas(read_footers, "_uri string, n_rows long")


def file_layout_report(
    spark: SparkSession,
    path: str | list[str],
    *,
    fmt: str = "parquet",
    small_file_bytes: int = 32 * 1024 * 1024,
    row_source: str | None = None,
) -> DataFrame:
    """Per-file layout report for one or more dataset directories:
    ``(file, n_rows, bytes, avg_row_bytes, is_small)`` ordered by bytes
    ascending — the compaction worklist. ``file`` is the basename
    (stable across filesystems/mounts; full URIs stay joinable
    driver-side if needed).

    Row counts per file come from one of two sources:

    - ``row_source='footer'`` (auto-selected for local parquet): a
      distributed pyarrow pass over the FILE LIST reading only parquet
      footers — no data pages, cost O(files) however large the rows.
    - ``row_source='scan'`` (auto for non-parquet formats or non-local
      URIs, where executor-side pyarrow can't open the path directly):
      one ``groupBy(input_file_name())`` count scan per dataset;
      multiple datasets (different schemas — they cannot share a scan)
      union into a SINGLE plan with ONE join against ONE combined size
      listing.

    Byte sizes always come from the Hadoop FileSystem listing
    (metadata-scale, storage-agnostic).
    """
    paths = [path] if isinstance(path, str) else list(path)
    if not paths:
        raise ValueError("file_layout_report: at least one path required")
    listing = [t for p in paths for t in _list_files(spark, p)]
    if row_source is None:
        local = all(
            u.startswith("file:") or "://" not in u for u, _ in listing
        )
        row_source = "footer" if fmt == "parquet" and local else "scan"
    if row_source not in ("footer", "scan"):
        raise ValueError(
            f"file_layout_report: unknown row_source {row_source!r}"
        )

    if row_source == "footer":
        uris = local_frame(
            spark,
            [(u, u.removeprefix("file:")) for u, _ in listing],
            "_uri string, _local string",
        )
        if listing:
            uris = uris.repartition(
                min(len(listing), spark.sparkContext.defaultParallelism)
            )
        rows = _footer_counts(uris)
    else:
        rows = None
        for p in paths:
            r = (
                spark.read.format(fmt)
                .load(p)
                .groupBy(F.input_file_name().alias("_uri"))
                .agg(F.count(F.lit(1)).alias("n_rows"))
            )
            rows = r if rows is None else rows.unionByName(r)
    rows = rows.withColumn(
        "file", F.element_at(F.split(F.col("_uri"), "/"), -1)
    )
    sizes = local_frame(
        spark,
        [(uri.rsplit("/", 1)[-1], b) for uri, b in listing],
        "file string, bytes bigint",
    )
    return (
        rows.join(sizes, "file", "full")
        .select(
            "file",
            F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
            F.coalesce(F.col("bytes"), F.lit(0)).alias("bytes"),
            F.round(
                F.try_divide(F.col("bytes"), F.col("n_rows")), 2
            ).alias("avg_row_bytes"),
            (F.coalesce(F.col("bytes"), F.lit(0)) < small_file_bytes).alias(
                "is_small"
            ),
        )
        .orderBy("bytes", "file")
    )
