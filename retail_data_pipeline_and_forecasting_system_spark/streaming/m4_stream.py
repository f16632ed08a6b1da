"""Streaming M4 maintenance: h15's viz downsample, kept current per
epoch.

The IDEMPOTENT-merge class of ingest service: the M4 state is four
lexicographic-extreme structs per (series, day-bucket), and min/max of
a multiset ignores multiplicity — re-applying already-seen rows is a
no-op (``tests/test_m4_stream.py`` pins it), the replay class of
cdc_stream's keyed upsert. The sink still takes
``sinks.epoch_guarded_sink``: on its own lineage the guard only skips
work the merge would undo, and a foreign checkpoint lineage pointed at
an existing table fails loudly instead of merging silently.

Operationally this is the live-dashboard shape: a monitoring UI
renders the maintained M4 table directly — pixel-perfect line charts
over any history at (series x days x 4) rows — while the raw event
stream is never re-scanned. Per epoch the cost is one
map-side-combined agg over the delta plus a group-keyed full-outer
join against the (small) state.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.m4 import finalize_m4, m4_state, merge_m4_states
from ..sources.versioned import read_version
from .sinks import drain, epoch_guarded_sink

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


def m4_state_sink(table_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function maintaining the per-(series, bucket) M4
    state (a ``sinks.epoch_guarded_sink``; see module docstring)."""
    return epoch_guarded_sink(table_dir, m4_state, merge_m4_states)


def read_m4(
    spark, table_dir: str, version: int | None = None
) -> DataFrame:
    """The maintained downsample, shaped exactly like
    h15_m4_downsample's batch output (role rows derived from the
    extreme structs at read time)."""
    state = read_version(spark, table_dir, version).drop("__epoch")
    return finalize_m4(state)


def run_m4_ingest(
    spark, input_dir: str, table_dir: str, checkpoint_dir: str
) -> list:
    """Drain a parquet drop-dir of event rows into the M4 state, one
    epoch per file; returns the per-epoch progress (``sinks.drain``)."""
    return drain(
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(m4_state_sink(table_dir)),
        checkpoint_dir,
    )
