"""Streaming export-manifest maintenance: x55's receipt, per epoch.

A documents stream maintains the per-shard export manifest
INCREMENTALLY — each micro-batch reduces to a per-shard delta state
(``operators.manifest.manifest_state``) and merges into the stored
state (``merge_manifest_states``). Because every state column is
algebraic — counts/bytes/tokens sum, spans min/max, and the content
digest is a commutative u64 sum mod 2^64 — draining the same documents
through ANY epoch slicing yields the identical manifest the batch query
``x55_export_manifest`` computes in one pass, Merkle root included
(``tests/test_manifest_stream.py`` asserts exact equality).

This is the 100 TB operational story for the export receipt: a
continuously-appended corpus keeps its manifest CURRENT at
delta-proportional cost per epoch (the full-corpus rehash is never
paid again), and the ingest side can verify any snapshot against the
maintained root.

Replay safety: a digest/count merge double-counts if an epoch
re-fires, so the sink is a ``sinks.epoch_guarded_sink`` (the replay
contract is stated there).

Scale: the stored state is shard-cardinality-sized (16 rows here,
~100k at 100 TB — still trivially small); each epoch hashes ONLY its
delta rows (map-side combined) and merges by one shard-keyed
full-outer join. The state rewrite per epoch is the versioned-table
O(state) write — and state is shard-grain, so it is O(#shards), not
O(corpus).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.manifest import (
    finalize_manifest,
    manifest_state,
    merge_manifest_states,
)
from ..sources.versioned import read_version
from .sinks import drain, epoch_guarded_sink

DOC_SCHEMA = "doc_id long, text string, source string"


def manifest_state_sink(
    table_dir: str, **manifest_kwargs
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function maintaining the per-shard manifest state.
    """
    return epoch_guarded_sink(
        table_dir,
        lambda batch: manifest_state(batch, **manifest_kwargs),
        merge_manifest_states,
    )


def read_manifest(
    spark, table_dir: str, version: int | None = None
) -> DataFrame:
    """The maintained manifest, shaped exactly like
    x55_export_manifest's batch output (per-shard rows + the corpus
    Merkle root recomputed from the shard-grain state at read time)."""
    state = read_version(spark, table_dir, version).drop("__epoch")
    return finalize_manifest(state)


def run_manifest_ingest(
    spark, input_dir: str, table_dir: str, checkpoint_dir: str, **sink_kwargs
) -> list:
    """Drain a parquet drop-dir of document rows into the manifest
    state, one epoch per file; returns the per-epoch progress
    (``sinks.drain``)."""
    return drain(
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(
            manifest_state_sink(table_dir, **sink_kwargs)
        ),
        checkpoint_dir,
    )
