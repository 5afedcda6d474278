"""Streaming sinks — the keyed upsert store (A2) with exactly-once
micro-batch semantics, on plain parquet.

The reference stores each accepted event as ``SET event:{id}`` inside
a per-batch Redis pipeline and commits offsets after the flush
(auto_kafka_redis.py:368-405) — at-least-once with replay dedup. Our
sink is strictly stronger: a log-structured keyed store where each
micro-batch lands as one epoch partition with *dynamic partition
overwrite*, so a replayed epoch (restart between write and WAL
commit) overwrites itself instead of duplicating — idempotent ⇒
effectively exactly-once. In production this is one Delta/Iceberg
MERGE; the log+compaction shape here is the same pattern without the
table-format dependency, and scales: appends are partition-local,
compaction is one keyed arg-max (SURVEY §2.A A2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


class ParquetKeyedStore:
    """Latest-write-wins KV store over an epoch-partitioned parquet log."""

    def __init__(self, path: str, key: str = "event_id", ts_col: str = "ts"):
        self.path = path
        self.key = key
        self.ts_col = ts_col

    def upsert_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch hook — idempotent per epoch. Dynamic overwrite
        is a per-write option, so the caller's session keeps its own
        partitionOverwriteMode."""
        (
            batch_df.withColumn("_epoch", F.lit(int(epoch_id)))
            .write.partitionBy("_epoch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path)
        )

    def log(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def compact(self, spark: SparkSession) -> None:
        """Log-structured compaction: rewrite the epoch log as a single
        epoch holding only the latest row per key. Run periodically (a
        maintenance job, exactly like table-format compaction) so read
        amplification stays bounded while appends remain cheap."""
        latest = self.compacted(spark)
        max_epoch = (
            self.log(spark).agg(F.max("_epoch")).first()[0]
        )
        tmp = self.path + ".compacting"
        (
            latest.withColumn("_epoch", F.lit(int(max_epoch)))
            .write.partitionBy("_epoch")
            .mode("overwrite")
            .parquet(tmp)
        )
        import shutil

        shutil.rmtree(self.path)
        shutil.move(tmp, self.path)

    def compacted(
        self, spark: SparkSession, as_of_epoch: int | None = None
    ) -> DataFrame:
        """The KV view: latest write per key wins (ties broken by the
        later epoch — replay order, mirroring 'latest SET wins').
        ``as_of_epoch`` reads the state as it stood AFTER that epoch
        committed (lakehouse time travel over the epoch log: epochs
        are immutable partitions, so a historical snapshot is a
        partition-pruned filter, no extra storage). Within-epoch ties
        break on event_id when present — deterministic snapshots."""
        log = self.log(spark)
        if as_of_epoch is not None:
            log = log.filter(F.col("_epoch") <= as_of_epoch)
        order = [F.col(self.ts_col).desc(), F.col("_epoch").desc()]
        if "event_id" in log.columns and self.key != "event_id":
            order.append(F.col("event_id").desc())
        w = Window.partitionBy(self.key).orderBy(*order)
        return (
            log.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "_epoch")
        )


class MergeKeyedStore(ParquetKeyedStore):
    """The production MERGE shape as a drop-in sibling: each micro-batch
    is applied as ``MERGE INTO store USING batch ON store.key = batch.key
    WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`` — expressed
    here as a full-outer join rewrite because plain parquet has no
    transactional row-level MERGE. Swapping in Delta/Iceberg is exactly
    one method: override ``upsert_batch`` with ``DeltaTable.merge`` /
    ``MERGE INTO`` SQL and delete the rewrite. Everything downstream
    (``current()``, epoch idempotence, sink wiring) is already
    MERGE-semantics-shaped.

    Layout: state is hash-bucketed by key — partition column
    ``_bucket = pmod(xxhash64(key), n_buckets)`` — and an epoch
    rewrites ONLY the buckets its batch touches (dynamic partition
    overwrite; untouched buckets' files are not rewritten — pinned
    byte-identical by test). This is the honest approximation of
    Delta/Iceberg file-level copy-on-write pruned by the merge join:
    per-epoch cost is O(state/`n_buckets` × touched buckets), not
    O(state). At 100 TB, ``n_buckets`` scales with state size exactly
    like table-format file counts do.

    Idempotence: the merge is row-level idempotent — a batch row
    replaces its key's whole row, so replaying an epoch onto its own
    post-state reproduces that post-state bit-for-bit (each batch key
    overwrites itself with the same values; non-batch keys pass
    through). A
    replay after a PARTIAL bucket write (crash mid-overwrite) is
    therefore also safe: already-written and not-yet-written buckets
    both converge on the same result (exactly-once effect).
    """

    def __init__(
        self,
        path: str,
        key: str = "event_id",
        ts_col: str = "ts",
        n_buckets: int = 16,
    ):
        super().__init__(path, key=key, ts_col=ts_col)
        self.n_buckets = n_buckets

    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets))

    def _latest_per_key(self, batch_df: DataFrame) -> DataFrame:
        """Resolve duplicate keys inside one batch (MERGE requires a
        unique source key): latest ts wins, like the log store."""
        w = Window.partitionBy(self.key).orderBy(F.col(self.ts_col).desc())
        return (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _first_epoch(self, src: DataFrame) -> DataFrame:
        """What to write when no prior state exists."""
        return src

    def _merge(self, target: DataFrame, src: DataFrame) -> DataFrame:
        """MERGE one deduped batch onto the pre-state: a matched key
        takes the whole batch row, NULLs included (UPDATE), unmatched
        batch rows INSERT, unmatched target rows pass through."""
        cols = [c for c in target.columns]
        src = src.select(*cols)
        t, s = target.alias("t"), src.alias("s")
        in_batch = F.col(f"s.{self.key}").isNotNull()
        return t.join(
            s, F.col(f"t.{self.key}") == F.col(f"s.{self.key}"), "full_outer"
        ).select(
            *[
                F.when(in_batch, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in cols
            ]
        )

    def upsert_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch hook — MERGE semantics, idempotent per epoch."""
        import os

        spark = batch_df.sparkSession
        src = self._latest_per_key(batch_df).withColumn(
            "_bucket", self._bucket()
        )
        target = None
        # existence check is explicit (first epoch ⇒ nothing to merge
        # onto); any OTHER read failure propagates so the micro-batch
        # fails and retries instead of silently dropping merged state
        # (a bare catch here turned transient read errors into state
        # loss). Local-FS check is the container seam; at scale this
        # is a catalog/table-exists call. An EMPTY directory counts as
        # no prior state (callers may pre-create the store path).
        if os.path.isdir(self.path) and any(os.scandir(self.path)):
            # driver-side list of touched buckets: bounded by
            # n_buckets values, and it turns the pre-state read into
            # a statically partition-pruned scan
            touched = [
                r[0] for r in src.select("_bucket").distinct().collect()
            ]
            log = spark.read.parquet(self.path)
            # localCheckpoint: materialize pre-state so the write
            # below doesn't scan the path it is overwriting
            target = (
                log.filter(F.col("_bucket").isin(touched))
                .localCheckpoint(eager=True)
            )
        merged = (
            self._merge(target, src)
            if target is not None
            else self._first_epoch(src)
        )
        # dynamic overwrite rewrites exactly the _bucket partitions
        # present in `merged` = the touched buckets
        (
            merged.write.partitionBy("_bucket")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path)
        )

    def current(self, spark: SparkSession) -> DataFrame:
        """The merged table state: union of all bucket partitions."""
        return spark.read.parquet(self.path).drop("_bucket")


class CdcKeyedStore(MergeKeyedStore):
    """CDC-aware MERGE sink: batches carry an ``op`` column and the
    merge honors deletes — ``MERGE ... WHEN MATCHED AND s.op = 'D'
    THEN DELETE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED AND s.op <>
    'D' THEN INSERT`` — the standard changelog-apply shape (Debezium →
    lakehouse). Within a batch the LATEST op per key wins (ts +
    event_id tie-break, so replay order is deterministic); across
    batches the store converges on the last op per key: a delete
    removes the key, a later upsert resurrects it.

    Deletes persist as TOMBSTONES (``_deleted`` flag), not physical
    removals: dynamic partition overwrite cannot erase a bucket whose
    post-state is empty (nothing would be written to it), so a delete
    writes a flagged row that ``current()`` filters — exactly how
    log-structured stores and table formats (delete files) express
    row deletion; compaction would drop old tombstones offline. Epoch
    idempotence is inherited unchanged: replaying a delete overwrites
    its own tombstone.
    """

    def __init__(
        self,
        path: str,
        key: str = "user_id",
        ts_col: str = "ts",
        n_buckets: int = 16,
        op_col: str = "op",
    ):
        super().__init__(path, key=key, ts_col=ts_col, n_buckets=n_buckets)
        self.op_col = op_col

    def _latest_per_key(self, batch_df: DataFrame) -> DataFrame:
        order = [F.col(self.ts_col).desc()]
        if "event_id" in batch_df.columns:
            order.append(F.col("event_id").desc())
        w = Window.partitionBy(self.key).orderBy(*order)
        return (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _tombstoned(self, src: DataFrame) -> DataFrame:
        return src.withColumn(
            "_deleted", (F.col(self.op_col) == "D").cast("boolean")
        ).drop(self.op_col)

    def _first_epoch(self, src: DataFrame) -> DataFrame:
        return self._tombstoned(src)

    def _merge(self, target: DataFrame, src: DataFrame) -> DataFrame:
        # batch rows (tombstones included) replace the target row via
        # the inherited merge — a delete lands as _deleted=true, a
        # later upsert resurrects the key by overwriting the flag
        return super()._merge(target, self._tombstoned(src))

    def current(self, spark: SparkSession) -> DataFrame:
        return (
            super()
            .current(spark)
            .filter(~F.col("_deleted"))
            .drop("_deleted")
        )
