"""Payload codec: zip compress/decompress as Arrow-batched Pandas UDFs.

Reference parity (SURVEY.md §2.8 O24/O25):
- ``zip_payload``   → CreateZipFromString (/root/reference/LogChange.cs:262-279):
  a single-entry zip archive whose entry is named ``{epoch_ms}.xml``.
- ``unzip_payload`` → ExtractStringFromZip (/root/reference/LogChange.cs:284-306):
  read the first entry, decode UTF-8.

Engine-native note: Parquet already applies columnar compression, so the
zip codec is *semantic parity* (byte-compatible payloads a reference
client could unzip), not a storage optimization — SURVEY.md §7 records
that plain text + Parquet codec is the preferred storage path. These are
Arrow-batched pandas_udfs (one Python call per ~10k rows, not per row)
over :func:`zip_bytes`, the one zip kernel, which ``tile.tile_bytecap``
also calls inside its per-record pass.
"""

from __future__ import annotations

import io
import zipfile

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType


def zip_bytes(text: str | None, name: str | None) -> bytes | None:
    """Single-entry zip archive of ``text`` (UTF-8) under entry ``name``.

    Deterministic: a fixed 1980 timestamp, so identical payloads produce
    identical bytes (the reference uses wall-clock metadata). The one zip
    kernel behind :func:`zip_payload` and ``tile.tile_bytecap``."""
    if text is None:
        return None
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        info = zipfile.ZipInfo(name or "payload.xml", date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        zf.writestr(info, text.encode("utf-8"))
    return buf.getvalue()


@pandas_udf(BinaryType())
def _zip_udf(payload: pd.Series, entry_name: pd.Series) -> pd.Series:
    return pd.Series(map(zip_bytes, payload, entry_name))


@pandas_udf(StringType())
def _unzip_udf(blob: pd.Series) -> pd.Series:
    def _one(b):
        if b is None:
            return None
        with zipfile.ZipFile(io.BytesIO(bytes(b))) as zf:
            first = zf.namelist()[0]  # single-entry archive (LogChange.cs:292)
            return zf.read(first).decode("utf-8")

    return blob.map(_one)


def zip_payload(payload: Column, entry_name: Column) -> Column:
    """Compress a string column into a single-entry zip archive (O24)."""
    return _zip_udf(payload, entry_name)


def unzip_payload(blob: Column) -> Column:
    """Extract the first entry of a zip archive as UTF-8 text (O25)."""
    return _unzip_udf(blob)
