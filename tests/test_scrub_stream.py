"""Streaming decontamination gate (scrub_stream.py): the drained state
must EQUAL x60's single-shot batch scrub manifest — kept digest
included (per-doc verdicts depend only on the frozen eval index, so
epoch slicing cannot move any cell) — and a replayed epoch must apply
exactly once."""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)
from retail_data_pipeline_and_forecasting_system_spark.sources.versioned import (
    current_version,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming.scrub_stream import (
    freeze_eval_index,
    read_scrub,
    run_scrub_ingest,
    scrub_state_sink,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )


def test_stream_equals_batch_scrub(spark, tmp_path):
    """Freeze the eval index from the sf0.001 corpus, then drain ALL
    sf0.001 documents (train and eval rows interleaved — eval arrivals
    pass through unscored) in 3 arbitrary epoch slices; the maintained
    manifest must equal x60's batch output EXACTLY. (At this SF no
    shingle exceeds the rarity cap under either the corpus-side or
    eval-side definition, so the gate's eval-side cap coincides with
    the batch query's corpus-side cap — see the module docstring.)"""
    docs = _docs(spark)
    idx = freeze_eval_index(docs)
    drop = tmp_path / "in"
    drop.mkdir()
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(tmp_path / f"slice{i}")
        )
    for j, f in enumerate(
        sorted(glob.glob(str(tmp_path / "slice*" / "*.parquet")))
    ):
        shutil.copy(f, drop / f"part-{j}.parquet")

    table = str(tmp_path / "state")
    run_scrub_ingest(
        spark, str(drop), table, str(tmp_path / "ckpt"), idx,
    )
    assert current_version(table) == 3  # one committed version per epoch

    got = read_scrub(spark, table)
    want = QUERIES["x60_leakage_scrub"].fn(spark, SF)
    assert _rows(got) == _rows(want)


def test_scrub_epoch_guard(spark, tmp_path):
    """Re-firing an epoch must NOT double-count verdicts or the kept
    digest; an epoch BEHIND the stored one fails loudly."""
    docs = _docs(spark)
    idx = freeze_eval_index(docs)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    table = str(tmp_path / "state")
    sink = scrub_state_sink(idx, table)

    sink(a, 0)
    sink(b, 1)
    v_before = current_version(table)
    state_before = _rows(read_scrub(spark, table))

    sink(b, 1)  # crash-replayed epoch: exactly-once, no new version
    assert current_version(table) == v_before
    assert _rows(read_scrub(spark, table)) == state_before
    # and the replay-converged state is still the batch answer
    assert state_before == _rows(
        QUERIES["x60_leakage_scrub"].fn(spark, SF)
    )

    with pytest.raises(ValueError, match="behind"):
        sink(a, 0)  # a new lineage pointed at an old table


def test_scrub_ingest_restart_resumes_checkpoint(spark, tmp_path):
    """Stop-and-resume: drain two files, then drop a third and re-run
    with the SAME checkpoint — the resumed stream must apply only the
    new file and land on the full-corpus batch scrub manifest."""
    docs = _docs(spark)
    idx = freeze_eval_index(docs)
    drop = tmp_path / "in"
    drop.mkdir()

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
    run_scrub_ingest(spark, str(drop), table, ckpt, idx)
    assert current_version(table) == 2

    add_slice(2)  # new arrival after the first drain
    run_scrub_ingest(spark, str(drop), table, ckpt, idx)
    assert current_version(table) == 3  # ONE new epoch, not a replay

    got = read_scrub(spark, table)
    want = QUERIES["x60_leakage_scrub"].fn(spark, SF)
    assert _rows(got) == _rows(want)


def test_scrub_gate_verdicts_on_seeded_leaks(spark, tmp_path):
    """Operational check on a seeded corpus (the x59/x60 fixture):
    arriving train docs that exact-dup or near-dup the frozen eval set
    are counted dropped; an ngram-only hit is flagged but kept; clean
    and NULL-text docs pass. Eval rows arriving in the stream are NOT
    scored (they are the index, not the corpus)."""
    rows = [
        (4, "alpha beta gamma delta"),
        (14, "alpha beta gamma delta"),
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),
        (6, "one two three four five six seven nine"),
        (3, "one two three four five six seven eight"),
        (7, "red green blue purple"),
        (5, "red green blue orange"),
        (9, "quux corge grault flarp"),
        (11, None),
        (None, "alpha beta gamma delta"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).withColumn("source", F.lit("s"))
    idx = freeze_eval_index(docs)
    table = str(tmp_path / "state")
    sink = scrub_state_sink(idx, table)
    # two epochs splitting the train docs; eval rows ride along in both
    sink(docs.filter(F.coalesce(F.col("doc_id"), F.lit(99)) < 7), 0)
    sink(docs.filter(F.coalesce(F.col("doc_id"), F.lit(99)) >= 7), 1)
    got = {
        r["train_shard"]: (
            r["n_docs"], r["n_dropped"], r["n_flagged_kept"], r["n_kept"]
        )
        for r in read_scrub(spark, table).collect()
    }
    assert got == {
        10: (2, 2, 0, 0),  # docs 4, 14: exact dups of eval -> dropped
        1: (1, 1, 0, 0),   # doc 6: verified near-dup -> dropped
        8: (1, 0, 1, 1),   # doc 7: ngram-only -> flagged, kept
        4: (1, 0, 0, 1),   # doc 9: clean
        6: (1, 0, 0, 1),   # doc 11: NULL text, kept, no tokens
    }
