"""Streaming export-manifest maintenance (manifest_stream.py): the
drained state must EQUAL x55's single-shot batch manifest — Merkle
root included (the commutative-digest contract carried to the stream)
— and a replayed epoch must be applied exactly once (epoch guard)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)
from retail_data_pipeline_and_forecasting_system_spark.sources.versioned import (
    current_version,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming.manifest_stream import (
    manifest_state_sink,
    read_manifest,
    run_manifest_ingest,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_equals_batch_manifest(spark, tmp_path):
    """Drain sf0.001 documents through 3 arbitrary epoch slices; the
    maintained manifest must equal x55's batch output EXACTLY (the
    digest is a commutative sum, so slicing cannot move it)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    drop = tmp_path / "in"
    drop.mkdir()
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(tmp_path / f"slice{i}")
        )
    import glob
    import shutil

    for j, f in enumerate(
        sorted(glob.glob(str(tmp_path / "slice*" / "*.parquet")))
    ):
        shutil.copy(f, drop / f"part-{j}.parquet")

    table = str(tmp_path / "state")
    run_manifest_ingest(
        spark, str(drop), table, str(tmp_path / "ckpt"),
    )
    assert current_version(table) == 3  # one committed version per epoch

    got = read_manifest(spark, table)
    want = QUERIES["x55_export_manifest"].fn(spark, SF)
    assert _rows(got) == _rows(want)


def test_manifest_epoch_guard(spark, tmp_path):
    """Re-firing an epoch must NOT double-count the digest; an epoch
    BEHIND the stored one (fresh checkpoint on an old table) fails
    loudly."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    table = str(tmp_path / "state")
    sink = manifest_state_sink(table)

    sink(a, 0)
    sink(b, 1)
    v_before = current_version(table)
    state_before = _rows(read_manifest(spark, table))

    sink(b, 1)  # crash-replayed epoch: exactly-once, no new version
    assert current_version(table) == v_before
    assert _rows(read_manifest(spark, table)) == state_before
    # and the replayed-converged state is still the batch answer
    assert state_before == _rows(
        QUERIES["x55_export_manifest"].fn(spark, SF)
    )

    with pytest.raises(ValueError, match="behind"):
        sink(a, 0)  # a new lineage pointed at an old table


def test_manifest_ingest_restart_resumes_checkpoint(spark, tmp_path):
    """Stop-and-resume: drain two files, then drop a third and re-run
    with the SAME checkpoint — the resumed stream must apply only the
    new file and land on the full-corpus batch manifest."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    drop = tmp_path / "in"
    drop.mkdir()
    import glob
    import shutil

    def add_slice(i):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(tmp_path / f"slice{i}")
        )
        f = glob.glob(str(tmp_path / f"slice{i}" / "*.parquet"))[0]
        shutil.copy(f, drop / f"part-{i}.parquet")

    table = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    add_slice(0)
    add_slice(1)
    run_manifest_ingest(spark, str(drop), table, ckpt)
    v_first = current_version(table)
    assert v_first == 2

    add_slice(2)  # new arrival after the first drain
    run_manifest_ingest(spark, str(drop), table, ckpt)
    assert current_version(table) == 3  # ONE new epoch, not a replay

    got = read_manifest(spark, table)
    want = QUERIES["x55_export_manifest"].fn(spark, SF)
    assert _rows(got) == _rows(want)
