"""Exactly-once streaming sinks via foreachBatch, and the one drain
every ingest service runs through.

Structured Streaming's file sinks are append-only and its checkpoint
guarantees at-least-once delivery to arbitrary sinks: after a crash
between "sink write" and "checkpoint commit", the next run REPLAYS the
last micro-batch. A sink that appends blindly duplicates that batch.
Every service here survives the replay in one of three ways:

- **Epoch partitions** (``idempotent_parquet_sink`` and the dedup,
  semantic and segment services): every micro-batch writes to its own
  ``batch_id=<epoch>`` partition with a per-write dynamic partition
  overwrite, so a replayed epoch OVERWRITES its own (possibly partial)
  output instead of appending beside it. Write + re-write converge to
  the same bytes — effectively exactly-once at the file level, the
  same idea table formats implement with manifest commits.
- **Epoch-guarded state** (``epoch_guarded_sink``: the rollup, zonemap,
  anomaly, manifest, scrub and m4 services): each batch is folded into
  a versioned state table that stores the last applied epoch in an
  ``__epoch`` column. Sum merges double-apply under replay, so
  ``batch_id == last`` (the crash replay) is skipped, and ``batch_id <
  last`` raises: a new checkpoint lineage is pointed at an existing
  table, whose batches would otherwise be dropped silently. Cost: one
  scalar read off the (small) state table per epoch. Idempotent merges
  (m4) take the same guard; on their own lineage it changes nothing.
- **Keyed convergence** (cdc_stream): a seq-guarded upsert re-applies
  as a no-op; see that module.

Every ``*_sink`` factory returns a foreachBatch function, and every
``run_*`` function is ``drain(stream.writeStream.foreachBatch(sink),
ckpt)``, which returns the per-epoch progress.

The reference appends per-day CSVs with no replay story
(src/data_processor.py single-shot batch); this is what its output
contract needs to survive a mid-batch crash when run continuously.

At 100 TB: the epoch-partition sinks add no shuffle (partitionBy on a
literal column), each epoch directory is independently compactable
(see sources/writers.compact_partition), and downstream batch readers
just read the root — Spark merges the batch_id partitions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..sources.versioned import current_version, read_version, write_version


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> list:
    """Run ``writer`` with ``Trigger.AvailableNow`` against
    ``checkpoint_dir``, block until everything available is processed,
    and return the query's ``recentProgress``: one record per epoch
    (``batchId``, ``numInputRows``, ``durationMs``, ...), the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100) of
    them. A long-lived service would ``start()`` without AvailableNow
    and run forever."""
    query = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query.recentProgress


def epoch_guarded_sink(
    table_dir: str,
    delta_fn: Callable[[DataFrame], DataFrame],
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function folding each batch into the versioned state
    table at ``table_dir``: ``delta_fn(batch)`` reduces the batch to a
    delta state, ``merge_fn(stored, delta)`` merges it, and the result
    is committed as the next version tagged with the epoch. Skips empty
    batches and the crash-replayed epoch; raises on an epoch behind the
    table (see the module docstring)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # the emptiness probe and every branch of the delta read one
        # cached copy, so the source is scanned once per epoch and the
        # epoch's progress counts each input row once
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return  # no rows -> no new (identical) version committed
            delta = delta_fn(batch_df)
            if current_version(table_dir) is None:
                out = delta
            else:
                cur = read_version(batch_df.sparkSession, table_dir)
                last = cur.agg(F.max("__epoch")).first()[0]
                if last is not None and batch_id == last:
                    return  # crash-replayed epoch, already applied
                if last is not None and batch_id < last:
                    raise ValueError(
                        f"epoch_guarded_sink({table_dir}): batch_id "
                        f"{batch_id} is behind the table's last applied "
                        f"epoch {last} — a new checkpoint lineage is "
                        "pointed at an existing state table; use a fresh "
                        "table_dir (or resume the original checkpoint)"
                    )
                out = merge_fn(cur.drop("__epoch"), delta)
            write_version(
                out.withColumn("__epoch", F.lit(batch_id).cast("bigint")),
                table_dir,
            )
        finally:
            batch_df.unpersist()

    return apply


def write_epoch_partition(df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Write ``df`` as the ``batch_id=<batch_id>`` partition of the
    parquet store ``out_dir``, overwriting that partition only. The
    dynamic overwrite is a per-write option, so the session's
    ``partitionOverwriteMode`` is never touched."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def idempotent_parquet_sink(
    out_dir: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function writing each epoch to its own overwritten
    partition."""
    return lambda batch_df, batch_id: write_epoch_partition(
        batch_df, batch_id, out_dir
    )


def quarantine_parquet_sink(
    clean_dir: str,
    quarantine_dir: str,
    rules,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: route each micro-batch through the
    data-quality gate (``operators.quality.split_by_expectations``) —
    clean rows to ``clean_dir``, violating rows (tagged with their
    ';'-joined rule list) to ``quarantine_dir``. Both sides are
    epoch-partitioned with dynamic partition overwrite, so a replayed
    epoch converges instead of duplicating — bad rows are never silently
    dropped OR double-counted.

    The streaming rendition of dq1/dq2: the reference drops NaN rows
    inline (src/data_processor.py:320-335); a 24/7 ingest needs the
    rejects routed somewhere replayable for triage and backfill.

    Scale: the split is a pair of filters over the SAME tagged frame —
    row-local rules are pure column expressions, so the gate adds no
    shuffle and no extra pass beyond the two writes. ``rules`` must be
    row-local or foreign_key (see ``tag_violations``).
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.quality import split_by_expectations

        clean, bad = split_by_expectations(batch_df, rules)
        write_epoch_partition(clean, batch_id, clean_dir)
        write_epoch_partition(bad, batch_id, quarantine_dir)

    return write


def idempotent_jdbc_sink(
    url: str,
    table: str,
    user: str = "",
    password: str = "",
    driver: str | None = None,
    batch_col: str = "batch_id",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function delivering each epoch to a JDBC table
    exactly-once-under-replay: DELETE the epoch's rows, then append them
    tagged with the epoch id.

    The transactional-store twin of :func:`idempotent_parquet_sink`:
    Structured Streaming replays the last uncommitted micro-batch after
    a crash, so a blind append duplicates it — the epoch-keyed
    delete-then-insert converges instead (replaying epoch n first wipes
    whatever partial slice of epoch n landed). The DELETE runs on the
    driver over one JDBC statement (it touches one epoch's keys); the
    INSERT is Spark's distributed JDBC writer, one connection per
    partition.

    The delete+insert pair is not atomic; a reader polling mid-replay
    can briefly see the epoch missing. Stores with MERGE support would
    collapse the pair into one statement — same idempotence, no window.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark.sparkContext._jvm
        if driver:
            jvm.java.lang.Class.forName(driver)
        conn = jvm.java.sql.DriverManager.getConnection(url, user, password)
        try:
            md = conn.getMetaData()
            # first epoch: the table does not exist yet (Spark's writer
            # will create it) — checked explicitly via metadata so that a
            # REAL delete failure (lock timeout, dropped connection,
            # revoked grant) still raises: swallowing it would let the
            # append run and duplicate the replayed epoch, the exact
            # failure this sink exists to prevent. The probe is SCOPED:
            # name and schema are store-case-folded and passed into
            # getTables as filters — an unqualified name resolves in the
            # connection's CURRENT schema (where the writer's CREATE and
            # the DELETE both resolve), so a same-named table in another
            # schema can neither flip exists=True (breaking first-run
            # bootstrap with a doomed DELETE) nor be deleted from.
            # Supports plain or schema-qualified ("app.events") unquoted
            # names, matching what Spark's dbtable option accepts.
            if md.storesUpperCaseIdentifiers():
                fold = str.upper
            elif md.storesLowerCaseIdentifiers():
                fold = str.lower
            else:
                fold = lambda s: s  # noqa: E731 — store keeps mixed case
            t_parts = [fold(p) for p in table.split(".")]
            t_name = t_parts[-1]
            t_schema = t_parts[-2] if len(t_parts) > 1 else None
            if t_schema is None:
                try:
                    t_schema = conn.getSchema()  # JDBC 4.1
                except Exception:
                    t_schema = None  # older driver: match any schema
            rs = md.getTables(None, t_schema, t_name, None)
            exists = False
            try:
                # getTables' patterns are LIKE patterns ('_' wildcards),
                # so re-check the name exactly
                while rs.next():
                    if rs.getString("TABLE_NAME") == t_name:
                        exists = True
                        break
            finally:
                rs.close()
            if exists:
                # Spark's JDBC writer QUOTES column names at CREATE
                # TABLE, so the epoch column is case-sensitive — quote
                # it (and the store-folded table identifier) with the
                # store's own identifier quote (portable: Derby/Postgres
                # `"`, MySQL backtick)
                qt = md.getIdentifierQuoteString()
                q_table = ".".join(f"{qt}{p}{qt}" for p in t_parts)
                stmt = conn.createStatement()
                try:
                    stmt.executeUpdate(
                        f"DELETE FROM {q_table} "
                        f"WHERE {qt}{batch_col}{qt} = {int(batch_id)}"
                    )
                finally:
                    stmt.close()
        finally:
            conn.close()

        writer = (
            batch_df.withColumn(batch_col, F.lit(int(batch_id)))
            .write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("user", user)
            .option("password", password)
            .mode("append")
        )
        if driver:
            writer = writer.option("driver", driver)
        writer.save()

    return write


def vacuum_epoch_partitions(
    store_dir: str,
    keep_latest: int,
    partition_col: str | None = None,
) -> list[int]:
    """Retire old epoch partitions from an epoch-partitioned store
    (``batch_id=<n>/`` or ``epoch=<n>/`` dirs — the layout every
    foreachBatch service here writes), keeping the newest
    ``keep_latest``. Returns the vacuumed epoch ids.

    The replay contract shrinks accordingly: a vacuumed epoch can no
    longer be re-fired convergently (its partition — and for the
    segment store, its first-seen segments; for the model store, the
    model its successor read — is gone), so keep the retention at least
    as deep as the streaming checkpoint's replay horizon, exactly like
    ``sources.versioned.vacuum_versions``. Deleting a whole partition
    directory is metadata-only for readers: the next scan simply lists
    fewer partitions; no rewrite, no tombstone files.

    NOTE for the dedup/segment corpus stores: vacuuming ADMISSION
    epochs changes dedup semantics (early segments/vectors stop
    guarding future arrivals). That is sometimes exactly what a
    retention policy wants (dedup against the last N days only) — this
    function is that policy's mechanism; it is NOT safe compaction for
    a store meant to guard forever. For the model store it is always
    safe beyond the replay horizon: only the newest version is read.
    """
    import re
    import shutil
    from pathlib import Path

    root = Path(store_dir)
    if not root.is_dir():
        return []
    pat = re.compile(
        rf"^{re.escape(partition_col)}=(\d+)$"
        if partition_col
        else r"^(?:batch_id|epoch)=(\d+)$"
    )
    parts = sorted(
        (int(m.group(1)), p)
        for p in root.iterdir()
        if p.is_dir() and (m := pat.match(p.name))
    )
    victims = parts[:-keep_latest] if keep_latest > 0 else parts
    for _, p in victims:
        shutil.rmtree(p)
    return [e for e, _ in victims]
