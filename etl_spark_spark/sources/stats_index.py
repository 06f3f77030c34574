"""File-level statistics index + manifest-style file skipping.

What Delta/Iceberg manifests buy — "don't even open files whose
min/max can't match the predicate" — reconstructed for plain parquet
directories. Two pieces:

- :func:`build_stats_index` computes one row PER FILE (path, row
  count, per-column min/max) in a single scan keyed by
  ``input_file_name()`` — the aggregate output is proportional to the
  file count, not the row count, so the index for a 100 TB table with
  100k files is 100k tiny rows.
- :func:`indexed_read` consults the index and reads ONLY the files
  whose [min, max] ranges overlap every requested interval, then
  applies the exact residual row filter. The surviving file list is
  collected to the driver — bounded by file count (the same list
  Spark's own FileIndex holds), never by data. The S4 date-window form
  (``sources.parquet.read_date_range_indexed``) shares the same
  pruning step, so both prune in ONE job.

Works best on range-sorted or z-ordered layouts (see
``sinks.write.write_range_sorted`` and ``sinks.zorder.write_zordered``):
clustered layout → (near-)disjoint per-file ranges → most files
skipped. On a randomly-laid-out table every file overlaps and pruning
honestly degrades to a full read (correct, just not faster) — same
behavior as any min/max zone map.

File skipping alone is a superset guarantee (every matching row lives
in a kept file), exactly like parquet row-group stats one level up;
the residual filter restores exact semantics.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def build_stats_index(
    spark: SparkSession, path: str, columns: Sequence[str]
) -> DataFrame:
    """One row per physical file: (file, n_rows, min_<c>, max_<c>...).
    The table schema rides along as metadata of the ``file`` column, so
    a pruned read of the kept files needs no schema-inference job."""
    df = spark.read.parquet(path)
    file = F.input_file_name().alias(
        "file", metadata={"schema": df.schema.jsonValue()}
    )
    return df.groupBy(file).agg(
        F.count("*").alias("n_rows"),
        *[F.min(c).alias(f"min_{c}") for c in columns],
        *[F.max(c).alias(f"max_{c}") for c in columns],
    )


class PrunedScan(NamedTuple):
    """Result of :func:`indexed_read` and
    ``sources.parquet.read_date_range_indexed``: the DataFrame already
    carries the residual row filters (exact semantics, not a superset);
    the file counts expose the skipping for tests/telemetry to pin."""

    df: DataFrame
    n_files_read: int
    n_files_total: int


def indexed_read(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple],
    index: DataFrame | None = None,
    columns: Sequence[str] | None = None,
) -> PrunedScan:
    """First-class index-pruned scan — the engine's scan-path entry
    point composing the manifest-style file skip with the residual
    filter, so callers get EXACT range semantics in one call instead
    of orchestrating prune + filter by hand.

    ``ranges`` maps column -> (lo, hi) CLOSED intervals, ANDed: a file
    is read only if its [min, max] overlaps EVERY requested range
    (NULL-stat files conservatively kept), then the same intervals are
    applied row-level. Multi-column ranges are exactly what a
    z-ordered layout (``sinks.zorder.write_zordered``) makes
    discriminating — on a Morton-clustered table each listed column
    skips files independently; on a single-column range-sorted layout
    only that column's range skips.

    Scale shape: the index is file-count-sized (one tiny row per
    file); the kept-file list is driver-side but bounded by file
    count, exactly like Spark's own FileIndex. Pass a persisted
    ``index`` to amortize the stats scan across reads; the residual
    filters still push down to row groups within kept files.
    """
    if not ranges:
        raise ValueError("at least one column range required")
    scan = _pruned_scan(spark, path, ranges, index)
    df = scan.df
    for c, (lo, hi) in ranges.items():  # residual: exact, pushes down
        df = df.filter((F.col(c) >= lo) & (F.col(c) <= hi))
    if columns:
        df = df.select(*columns)
    return scan._replace(df=df)


def _pruned_scan(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple],
    index: DataFrame | None,
) -> PrunedScan:
    """Kept files read WITHOUT the residual filter, plus the file
    counts. A file is kept when its [min, max] overlaps every CLOSED
    (lo, hi) in ``ranges``; NULL-stat files are conservatively kept.

    One job: a single ``collect`` of (file, keep) over the index — one
    row per file, so bounded by file count — yields both the kept list
    and the total, and the schema ``build_stats_index`` records on the
    ``file`` column spares the kept-file read its footer-inference job.
    """
    idx = index if index is not None else build_stats_index(
        spark, path, list(ranges)
    )
    keep = F.lit(True)
    for c, (lo, hi) in ranges.items():
        keep &= (F.col(f"max_{c}").isNull() | (F.col(f"max_{c}") >= lo)) & (
            F.col(f"min_{c}").isNull() | (F.col(f"min_{c}") <= hi)
        )
    rows = idx.select("file", keep.alias("keep")).collect()
    files = [r["file"] for r in rows if r["keep"]]
    schema = idx.schema["file"].metadata.get("schema")
    reader = spark.read
    if schema:
        reader = reader.schema(StructType.fromJson(schema))
    df = reader.parquet(*files) if files else reader.parquet(path).limit(0)
    return PrunedScan(df, len(files), len(rows))
