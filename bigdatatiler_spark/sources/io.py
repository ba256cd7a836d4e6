"""The O7 byte sink.

The reference's connector surface is Cosmos JSON in, a local zip file out,
XML as the payload encoding (SURVEY.md §2.1 O1-O7). The store side — the
partitioned parquet tables, inserts and reads of O1-O4 — is
``logstore.store.LogStore``. This module holds the per-row byte sink
mirroring `writeDocumentTofile` (BigDataLogControl.cs:354-361) — but
distributed: each *executor* writes its partition's payloads, no driver
collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
