"""Log-store query builder and partitioned persistence.

Reference parity map (see SURVEY.md §2 for the full inventory):
- ``filtered_scan``  → getLogChangesByType's dynamically-composed Cosmos SQL
  (/root/reference/BigDataLogControl.cs:206-330): conditional equality
  predicates, half-open time range [start, end), ORDER BY time DESC,
  OFFSET/LIMIT. We implement the *intended* semantics — the caller's
  partition key is honored (the reference hardcodes "Account1" at
  BigDataLogControl.cs:285, a bug documented in SURVEY.md §2.12) and the
  timeline is optional (the reference NREs on null, :213).
- ``LogStore.point_read`` → ReadItemAsync point read
  (/root/reference/BigDataLogControl.cs:192-204).
- ``LogStore.gather``     → the split-gather disjunctive query
  (/root/reference/BigDataLogControl.cs:135-150).
- ``LogStore.append``     → CreateItemAsync partition-routed writes
  (/root/reference/BigDataLogControl.cs:67-112), as one partitioned job.

Scale design: every method returns a lazy DataFrame; filters land in the
parquet scan (PushedFilters), the partition column prunes directories, and
ORDER BY+LIMIT compiles to TakeOrderedAndProject (no global sort). A
``LogStore`` lists the store once per write and infers its schema once:
every read between two writes starts from the same relation, so a point
read, scan or page is one Spark job, like the reference's one round trip
each, and the first read after an append runs no schema-inference job.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, functions as F


def _lit(v) -> Column:
    """Literal coercion that also accepts prebuilt Column literals (e.g.
    tables.event_ts timestamp literals for pushdown-friendly range filters)."""
    return v if isinstance(v, Column) else F.lit(v)


def _half_open(col: Column, window) -> Column:
    """``start <= col < end`` — the reference's asymmetric range predicate
    (BigDataLogControl.cs:259-263 uses >= @start AND < @end; preserved)."""
    start, end = window
    return (col >= _lit(start)) & (col < _lit(end))


def filtered_scan(
    df: DataFrame,
    *,
    user_id=None,
    event_type: str | None = None,
    between: tuple | None = None,
    limit: int | None = 100,
    offset: int = 0,
    time_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Declarative rebuild of the reference's conjunctive query builder.

    Each predicate is appended only when its argument is present, mirroring
    the WHERE/AND state machine at BigDataLogControl.cs:212-275 — but as
    Column expressions, so Catalyst pushes them into the scan. Sort is
    newest-first with a unique id tiebreak (total order → deterministic
    top-k; the reference relies on Cosmos's stable index order).
    """
    out = df
    if user_id is not None:
        out = out.where(F.col(user_col) == _lit(user_id))
    if event_type is not None:
        out = out.where(F.col(type_col) == _lit(event_type))
    if between is not None:
        out = out.where(_half_open(F.col(time_col), between))
    out = out.orderBy(F.col(time_col).desc(), F.col(id_col).desc())
    if offset:
        # Non-zero offset needs a global row numbering; the reference always
        # uses OFFSET 0 (BigDataLogControl.cs:268), so this path is rare.
        from pyspark.sql import Window

        w = Window.orderBy(F.col(time_col).desc(), F.col(id_col).desc())
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > offset)
            .drop("__rn")
        )
    if limit is not None:
        out = out.limit(limit)
    return out


def keyset_page(
    df: DataFrame,
    *,
    anchor: tuple | None = None,
    page_size: int = 100,
    time_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """One cursor page: rows strictly after ``anchor`` in
    (``time_col`` DESC, ``id_col`` DESC) order — O6, the reference's
    FeedIterator paging (BigDataLogControl.cs:141-150, 281-296) with
    *intended* semantics (a real page size, not the MaxItemCount=1
    pathology documented in SURVEY.md §2.12).

    The anchor tuple from the previous page's last row becomes a sargable
    composite predicate (``t < aT OR (t = aT AND id < aId)``), so every
    page compiles to pushed-filter scan + TakeOrderedAndProject — O(page)
    at any depth, unlike OFFSET's O(offset + page). The (time, id) pair
    is a total order, so pages are disjoint and exhaustive.
    """
    out = df
    if anchor is not None:
        a_time, a_id = anchor
        out = out.where(
            (F.col(time_col) < _lit(a_time))
            | ((F.col(time_col) == _lit(a_time)) & (F.col(id_col) < _lit(a_id)))
        )
    return out.orderBy(F.col(time_col).desc(), F.col(id_col).desc()).limit(page_size)


class LogStore:
    """Partitioned append-only log table (Parquet), keyed like the reference
    container: hash partition on user — here a directory-partition column,
    giving partition pruning on every user-scoped query.

    Reads share one relation per write: :meth:`df` keeps the frame
    ``spark.read.parquet`` returns, and every write through this store drops
    it, so the next read lists the directory again. The schema is inferred
    on the first read only and reused after an append; :meth:`create`
    forgets it. The inferred schema is kept, not the written frame's:
    partition discovery types the user column differently from the frame.
    A write made through this store is visible to the next read. Files
    written by another writer become visible after this store's next write,
    or in a new ``LogStore`` — as for any Spark DataFrame over a path
    before ``REFRESH``."""

    def __init__(self, spark, path: str, user_col: str = "user_id"):
        self.spark = spark
        self.path = path
        self.user_col = user_col
        self._df: DataFrame | None = None
        self._schema = None

    # --- writes ---------------------------------------------------------
    def _write(self, df: DataFrame, mode: str) -> None:
        self._df = None
        # Cluster by user first: one file per user directory per write,
        # however the input's rows are spread over its partitions. The
        # explicit count keeps AQE from coalescing the exchange, which would
        # write every user directory from one task.
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        df.repartition(n, self.user_col).write.mode(mode).partitionBy(
            self.user_col
        ).parquet(self.path)

    def create(self, df: DataFrame) -> None:
        """DDL + initial load (reference: createAzureDocumentDatabase,
        BigDataLogControl.cs:38-66). Partitioned overwrite."""
        self._schema = None
        self._write(df, "overwrite")

    def append(self, df: DataFrame) -> None:
        """Batch insert (reference: AddLogDocuments' sequential per-doc loop,
        BigDataLogControl.cs:83-112 — here one parallel partitioned job; no
        2 MB size policing needed, Parquet has no per-record limit)."""
        self._write(df, "append")

    # --- reads ----------------------------------------------------------
    def df(self) -> DataFrame:
        """The whole store, listed once per write; the schema is inferred
        on the first read after :meth:`create`."""
        if self._df is None:
            reader = self.spark.read
            if self._schema is not None:
                reader = reader.schema(self._schema)
            self._df = reader.parquet(self.path)
            self._schema = self._df.schema
        return self._df

    def point_read(self, user_id, doc_id, id_col: str = "id") -> DataFrame:
        """ReadItemAsync(id, PartitionKey(userId)) → partition-pruned scan +
        pushed id filter (BigDataLogControl.cs:192-204)."""
        return self.df().where(
            (F.col(self.user_col) == F.lit(user_id)) & (F.col(id_col) == F.lit(doc_id))
        )

    def _chain(self, user_id, parent_id, id_col, parent_col) -> DataFrame:
        """The chunk rows of one record, unordered: ``id = @P OR
        parent_log_id = @P``, partition-scoped."""
        return (
            self.df()
            .where(F.col(self.user_col) == F.lit(user_id))
            .where((F.col(id_col) == F.lit(parent_id)) | (F.col(parent_col) == F.lit(parent_id)))
        )

    def gather(self, user_id, parent_id, id_col="id", parent_col="parent_log_id") -> DataFrame:
        """Self-or-children fetch: ``id = @P OR parent_log_id = @P`` ordered
        by split_index (BigDataLogControl.cs:135), partition-scoped."""
        return self._chain(user_id, parent_id, id_col, parent_col).orderBy("split_index")

    def scan(self, **kwargs) -> DataFrame:
        return filtered_scan(self.df(), user_col=self.user_col, **kwargs)

    def page(
        self,
        user_id=None,
        anchor: tuple | None = None,
        page_size: int = 100,
        time_col: str = "ts",
        id_col: str = "id",
    ) -> DataFrame:
        """One keyset page of this store (O6), optionally partition-scoped."""
        df = self.df()
        if user_id is not None:
            df = df.where(F.col(self.user_col) == F.lit(user_id))
        return keyset_page(
            df, anchor=anchor, page_size=page_size, time_col=time_col, id_col=id_col
        )

    def cursor(
        self,
        user_id=None,
        page_size: int = 100,
        time_col: str = "ts",
        id_col: str = "id",
        max_pages: int | None = None,
    ):
        """Drain loop over keyset pages — the reference's
        ``while HasMoreResults: ReadNextAsync`` cursor
        (BigDataLogControl.cs:141-150) as a generator of row lists.

        This is deliberately a CLIENT API (each page collects), mirroring
        the reference's request/response cursor; the per-page *plan* stays
        O(page) via :func:`keyset_page`, so draining N rows costs N log
        work total instead of re-scanning from offset 0 per page. Bulk
        processing should use the DataFrame surface instead.
        """
        anchor = None
        n = 0
        while max_pages is None or n < max_pages:
            rows = self.page(
                user_id=user_id,
                anchor=anchor,
                page_size=page_size,
                time_col=time_col,
                id_col=id_col,
            ).collect()
            if not rows:
                return
            yield rows
            anchor = (rows[-1][time_col], rows[-1][id_col])
            n += 1

    def combined(
        self, user_id, parent_id, id_col="id", parent_col="parent_log_id"
    ) -> DataFrame:
        """E3, the reassembly read: GetCombinedLogChange(userId, parentId)
        (BigDataLogControl.cs:120-190) as ONE plan — gather self-or-children
        (O13) → ordered merge (O17). The reference's two service round-trips
        (point read, then gather query) and its client-side unsplit
        short-circuit (O18) collapse into the same group-and-merge: an
        unsplit parent is simply a 1-chunk group. Single shuffle on the
        record id, partition-pruned to one user. The chunks go in unsorted:
        :func:`reassemble` orders them by split_index inside its aggregate."""
        from .tile import reassemble

        return reassemble(
            self._chain(user_id, parent_id, id_col, parent_col),
            id_col=id_col,
            parent_col=parent_col,
        )


__all__ = ["LogStore", "filtered_scan"]
