"""Tiling operator pair: size-bounded record splitting and reassembly.

Reference parity (SURVEY.md §2.9, §2.4):
- ``tile``       → LogChange.loadXmlFile's chunk fan-out
  (/root/reference/LogChange.cs:99-175): payloads over a size threshold are
  split into fixed-size chunks emitted as linked rows (parent keeps the
  record id; children carry ``split_index``/``total_splits``/``parent_id``).
- ``tile_bytecap`` → the same fan-out under the reference's compressed-size
  cap (LogChange.cs:99-175 + 214-257): zip, estimate a chunk size, cut,
  validate each chunk's archive and re-split the ones over the cap.
- ``reassemble`` → CombineSplitLogs' ordered concatenation merge
  (/root/reference/LogChange.cs:312-342 + BigDataLogControl.cs:120-190):
  gather chunks by parent, sort by split_index, concatenate.

Spark-first design: chunking is ``sequence + transform + substring`` +
``posexplode`` (pure built-ins, whole-stage codegen — no UDF); reassembly
is the order-sensitive-agg-inside-unordered-groupBy pattern:
``array_join(transform(array_sort(collect_list(struct(idx, chunk)))))``.
The reference's compression-ratio chunk-size
estimation (LogChange.cs:122-130) is environment-dependent; in ``tile``
chunk size is an explicit parameter for reproducibility (SURVEY.md §7 hard
parts). ``tile_bytecap`` keeps the estimate: its recursion needs nothing
from any other record, so it runs per record inside one narrow
Arrow-batched Python pass, with no shuffle and no round loop.
Round-trip invariant: ``reassemble(tile(df)) == df`` — tested in
tests/test_tiling.py across the unsplit/split boundary.

At 100 TB: ``tile`` and ``tile_bytecap`` are narrow and ``reassemble`` is
shuffle-once, key-partitioned on the record id — no per-round jobs, no
collect; Parquet has no 2 MB record limit so tiling is a *semantic*
operator (downstream batch sizing), not a storage workaround.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

#: Reference default: 1.5 MB compressed-chunk cap (LogChange.cs:23-24).
#: For text tiling the analog is a character budget per chunk.
DEFAULT_CHUNK_CHARS = 1_500_000

# O26 policy constants, straight from the reference:
MAX_ZIP_BYTES = 1_500_000  # compressed-chunk byte cap (LogChange.cs:23-24)
EST_SAFETY = 0.7           # compression-ratio estimate safety (LogChange.cs:123)
FIRST_FLOOR = 50_000       # first-pass min chunk chars (LogChange.cs:127-130)
RESPLIT_FLOOR = 10_000     # re-split min chunk chars (LogChange.cs:232-235)
RESPLIT_MARGIN = 1.3       # shrink margin on observed overage (LogChange.cs:229)
MAX_RESPLIT_ROUNDS = 8     # recursion depth bound (the floor guarantees termination anyway)


def tile(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    chunk_chars: int = DEFAULT_CHUNK_CHARS,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split oversized payloads into linked chunk rows.

    Output columns: ``id_col``, ``*keep_cols``, ``split_index`` (0-based),
    ``total_splits``, ``parent_id`` (null on unsplit rows, = id on chunks —
    mirroring LogChange.cs:110-118 vs 143-170), ``chunk``.
    Unsplit fast path (payload fits) emits exactly one row with
    ``total_splits = 1``, like the reference's short-circuit.
    """
    n_chunks = F.ceil(F.length(payload_col) / F.lit(chunk_chars)).cast("int")
    chunks = F.when(
        n_chunks <= 1, F.array(F.col(payload_col))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.col(payload_col).substr(
                i * F.lit(chunk_chars) + 1, F.lit(chunk_chars)
            ),
        )
    )
    keep = [F.col(c) for c in keep_cols]
    exploded = df.select(
        F.col(id_col),
        *keep,
        F.posexplode(chunks).alias("split_index", "chunk"),
        F.size(chunks).alias("total_splits"),
    )
    return exploded.withColumn(
        "parent_id",
        F.when(F.col("total_splits") > 1, F.col(id_col)).otherwise(F.lit(None)),
    )


def _cut(text: str, cc: int) -> list[str]:
    """``cc``-char substrings covering ``text`` (≥1 element)."""
    return [text[i : i + cc] for i in range(0, len(text), cc)] or [text]


def _bytecap_leaves(
    text: str | None,
    name: str | None,
    cap: int,
    first_floor: int,
    resplit_floor: int,
    max_rounds: int,
) -> list[tuple[str | None, bytes | None]]:
    """(chunk, archive) leaves of one record, in text order: the
    reference's zip → estimate → validate → re-split recursion
    (LogChange.cs:99-175 + 214-257)."""
    from .codec import zip_bytes

    whole = zip_bytes(text, name)
    if text is None or len(whole) <= cap:
        return [(text, whole)]

    def validate(chunk: str, cc: int, depth: int):
        z = zip_bytes(chunk, name)
        new_cc = max(math.floor(cc * cap / (len(z) * RESPLIT_MARGIN)), resplit_floor)
        if len(z) > cap and new_cc < cc and depth < max_rounds:
            for sub in _cut(chunk, new_cc):
                yield from validate(sub, new_cc, depth + 1)
        else:
            yield chunk, z

    cc = max(math.floor(cap * EST_SAFETY * len(text) / len(whole)), first_floor)
    return [leaf for sub in _cut(text, cc) for leaf in validate(sub, cc, 1)]


def tile_bytecap(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_zip_bytes: int = MAX_ZIP_BYTES,
    keep_cols: tuple[str, ...] = (),
    first_floor: int = FIRST_FLOOR,
    resplit_floor: int = RESPLIT_FLOOR,
    max_rounds: int = MAX_RESPLIT_ROUNDS,
) -> DataFrame:
    """O26/O29: compressed-size-validated tiling — the reference's one
    engine-specific physical policy (LogChange.cs:99-175 + 214-257), run
    per record in one narrow, Arrow-batched ``mapInArrow`` pass:

    1. Zip the whole payload; a record whose archive fits the cap emits
       unsplit (the short-circuit at LogChange.cs:110-118).
    2. An oversized record estimates a chunk size from the *observed*
       compression ratio × 0.7 safety, floor ``first_floor`` chars
       (LogChange.cs:122-130), and cuts the text into chunks of that size.
    3. Each chunk is zipped and VALIDATED: a chunk over the cap shrinks
       its chunk size by the observed overage × 1.3 margin, floor
       ``resplit_floor`` chars (LogChange.cs:214-257), and is re-cut in
       place. A chunk emits as-is, archive over the cap or not, once the
       shrunk size would not be smaller (it is at the floor, as where the
       reference's recursion bottoms out) or once it is ``max_rounds``
       validations deep (the recursion depth bound).

    Leaves come out in text order, so ``split_index``, ``total_splits``
    and ``parent_id`` are set by the pass itself, and the round-trip
    invariant ``reassemble(tile_bytecap(x)) == x`` holds by construction
    (property-tested). Precondition: ``id_col`` is unique. Records that
    share an id each get their own ``split_index`` run, so a reassembly
    keyed on the id would mix them in no defined order. The registry
    query guarantees uniqueness with the
    ``operators.tiling._dedupe_conflicting_ids`` arbiter.

    Scale: no shuffle, no round loop and no job at call time; the only
    work is the per-record zip recursion, which needs nothing from any
    other record. Output: ``id_col``, ``keep_cols``, ``split_index``,
    ``total_splits``, ``parent_id``, ``chunk``, ``zipped`` (the validated
    archive), ``zip_bytes``.
    """
    from ..operators._util import ensure_parallelism

    n_keys = 1 + len(keep_cols)
    src = ensure_parallelism(
        df.select(
            F.col(id_col),
            *keep_cols,
            F.col(payload_col).alias("chunk"),
            # entry name as Spark casts the id, whatever its type
            F.concat(F.col(id_col).cast("string"), F.lit(".xml")).alias("entry"),
        )
    )
    schema = StructType(
        src.schema.fields[:n_keys]
        + [
            StructField("split_index", IntegerType(), False),
            StructField("total_splits", IntegerType(), False),
            StructField("parent_id", src.schema.fields[0].dataType),
            StructField("chunk", StringType()),
            StructField("zipped", BinaryType()),
            StructField("zip_bytes", IntegerType()),
        ]
    )

    def tile_batches(batches):
        import pyarrow as pa

        for batch in batches:
            rows, split_index, total, chunks, zips = [], [], [], [], []
            texts = batch.column(n_keys).to_pylist()
            names = batch.column(n_keys + 1).to_pylist()
            for row, (text, name) in enumerate(zip(texts, names)):
                leaves = _bytecap_leaves(
                    text, name, max_zip_bytes, first_floor, resplit_floor, max_rounds
                )
                for k, (chunk, z) in enumerate(leaves):
                    rows.append(row)
                    split_index.append(k)
                    total.append(len(leaves))
                    chunks.append(chunk)
                    zips.append(z)
            take = pa.array(rows, pa.int64())
            parent_rows = pa.array(
                [r if t > 1 else None for r, t in zip(rows, total)], pa.int64()
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(j).take(take) for j in range(n_keys)]
                + [
                    pa.array(split_index, pa.int32()),
                    pa.array(total, pa.int32()),
                    batch.column(0).take(parent_rows),
                    pa.array(chunks, pa.string()),
                    pa.array(zips, pa.binary()),
                    pa.array([None if z is None else len(z) for z in zips], pa.int32()),
                ],
                names=schema.fieldNames(),
            )

    return src.mapInArrow(tile_batches, schema)


def reassemble(
    chunks_df: DataFrame,
    id_col: str,
    parent_col: str | None = "parent_id",
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Inverse of :func:`tile` — ordered merge of chunk chains.

    Groups by the logical record id (``coalesce(parent_id, id)`` handles
    unsplit rows), sorts chunks by ``split_index`` *inside* the aggregate
    (array_sort over collected structs — never bare collect_list, which has
    no ordering guarantee across partitions), and concatenates.

    ``parent_col=None`` (r12): for chunk frames whose every row already
    carries the record id in ``id_col`` (``tile``/``tile_bytecap`` output,
    where ``parent_id`` is id-or-null by construction), group on ``id_col``
    directly — value-identical to the coalesce key, but Catalyst can then
    PROVE the grouping matches an upstream hash partitioning on the id and
    skip the exchange. ``extra_aggs`` folds additional per-record
    aggregates (e.g. ``max(zip_bytes)`` for cap validation) into the same
    groupBy instead of a second aggregation pass + join over the chunk
    frame."""
    record_id = (
        F.col(id_col)
        if parent_col is None
        else F.coalesce(F.col(parent_col), F.col(id_col))
    )
    return (
        chunks_df.groupBy(record_id.alias("record_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("split_index", "chunk"))),
                    lambda s: s["chunk"],
                ),
                "",
            ).alias("payload"),
            F.count("*").alias("n_chunks"),
            F.max("total_splits").alias("total_splits"),
            *[c.alias(n) for n, c in (extra_aggs or {}).items()],
        )
    )
