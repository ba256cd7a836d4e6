"""Sources and sinks: the engine's format surface.

The reference's connector surface is Cosmos JSON in, a local zip file out,
XML as the payload encoding (SURVEY.md §2.1 O1-O7). Spark-natively that
becomes:

- Parquet as the primary table format (schema-on-write, partitioned) —
  `read_table` / `write_table`;
- a per-row byte sink mirroring `writeDocumentTofile`
  (BigDataLogControl.cs:354-361) — but distributed: each *executor*
  writes its partition's payloads, no driver collect.

All writers default to ZSTD + capped records-per-file: the reference's
1.5 MB document cap (LogChange.cs:23-24) is a physical-chunk-size policy,
and `maxRecordsPerFile` + parquet block size are the Spark-native knobs
for the same concern (bounded, splittable physical units).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: physical-tiling defaults (the engine's analogue of the 1.5 MB doc cap)
DEFAULT_MAX_RECORDS_PER_FILE = 1_000_000
DEFAULT_COMPRESSION = "zstd"


def read_table(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Primary table reader (parquet; partition columns auto-discovered).

    ``merge_schema=True`` unions the schemas of every file (columns added
    over a table's lifetime surface as NULL in pre-evolution files) — the
    read-side half of additive schema evolution. Off by default: merging
    reads every footer up front, which is exactly the 100k-round-trip
    cost manifests exist to avoid — evolving tables should record their
    current schema once (e.g. in the table's metadata dir) rather than
    rediscover it per scan."""
    r = spark.read
    if merge_schema:
        r = r.option("mergeSchema", "true")
    return r.parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "append",
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """Partitioned parquet writer with bounded file sizes.

    `partitionBy` = the Cosmos partition key analogue (O2); `append` mode
    = O3/O4 (the reference's per-document insert fan-out is one job here).
    """
    w = (
        df.write.mode(mode)
        .option("compression", DEFAULT_COMPRESSION)
        .option("maxRecordsPerFile", max_records_per_file)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_payload_files(
    df: DataFrame,
    out_dir: str,
    name_col: str = "id",
    payload_col: str = "payload",
    suffix: str = ".zip",
) -> int:
    """Distributed byte sink: one file per row, named ``{name}{suffix}``.

    Parity with the reference's `writeDocumentTofile` (byte[] → local
    .zip path, BigDataLogControl.cs:354-361), minus its driver-side
    single-threadedness: each executor writes its own partition's rows
    (`out_dir` must be shared storage in a real cluster). Returns the
    number of files written.

    Implemented with foreachPartition (imperative per-row IO is the one
    place SURVEY.md §2.1 sanctions leaving the DataFrame algebra).
    """
    os.makedirs(out_dir, exist_ok=True)
    sel = df.select(
        F.col(name_col).cast("string").alias("_name"), F.col(payload_col).alias("_payload")
    )

    def _write_partition(rows) -> None:
        for row in rows:
            with open(os.path.join(out_dir, f"{row['_name']}{suffix}"), "wb") as f:
                payload = row["_payload"]
                f.write(payload if isinstance(payload, (bytes, bytearray)) else bytes(payload))

    sel.foreachPartition(_write_partition)
    return len([n for n in os.listdir(out_dir) if n.endswith(suffix)])
