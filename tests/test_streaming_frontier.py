"""Streaming bloom frontier: exactly-new keys per micro-batch, incremental
driver bitmap, restart-rebuild from the durable history, and idempotent
epoch retry (the at-least-once foreachBatch contract must stay
exactly-once on disk)."""

import datetime as dt
import os

import pandas as pd

from b_pdf_parser_spark.streaming.frontier_stream import (
    FrontierState,
    frontier_stream,
)

T0 = dt.datetime(2024, 1, 1)
M = 1 << 14
K = 7


def _write_cands(spark, path, urls, offset=0):
    pdf = pd.DataFrame(
        [(u, T0 + dt.timedelta(seconds=offset + j)) for j, u in enumerate(urls)],
        columns=["url", "ts"],
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(path)


def _stream(spark, path):
    return spark.readStream.schema("url string, ts timestamp").parquet(path)


def _run(spark, src, hist, ckpt):
    q = frontier_stream(
        _stream(spark, src), hist, ckpt, key_col="url", m_bits=M, k=K
    )
    q.awaitTermination()


def _history_urls(spark, hist):
    return sorted(
        r.url for r in spark.read.parquet(hist, recursiveFileLookup=True).collect()
    )


def test_frontier_stream_emits_exactly_new_per_batch(spark, tmp_path):
    src, hist, ckpt = (str(tmp_path / d) for d in ("src", "hist", "ckpt"))
    _write_cands(spark, src, ["a", "b", "c"])
    _run(spark, src, hist, ckpt)
    assert _history_urls(spark, hist) == ["a", "b", "c"]

    # batch 2 overlaps batch 1 → only the genuinely new keys are emitted
    _write_cands(spark, src, ["b", "c", "d", "e"], offset=100)
    _run(spark, src, hist, ckpt)
    assert _history_urls(spark, hist) == ["a", "b", "c", "d", "e"]


def test_frontier_stream_restart_rebuilds_bitmap(spark, tmp_path):
    src, hist, ckpt = (str(tmp_path / d) for d in ("src", "hist", "ckpt"))
    _write_cands(spark, src, ["a", "b"])
    _run(spark, src, hist, ckpt)
    # a FRESH frontier_stream call (new FrontierState, bitmap rebuilt from
    # the history dir) must still dedup against everything already seen
    _write_cands(spark, src, ["a", "c"], offset=100)
    _run(spark, src, hist, ckpt)
    assert _history_urls(spark, hist) == ["a", "b", "c"]


def test_frontier_stream_epoch_retry_is_idempotent(spark, tmp_path):
    hist = str(tmp_path / "hist")
    state = FrontierState(spark, hist, key_col="url", m_bits=M, k=K)
    b1 = spark.createDataFrame([("a",), ("b",)], "url string")
    b2 = spark.createDataFrame([("b",), ("c",), ("d",)], "url string")
    state.process_batch(b1, epoch_id=0)
    state.process_batch(b2, epoch_id=1)
    assert _history_urls(spark, hist) == ["a", "b", "c", "d"]
    epoch1 = sorted(
        r.url for r in spark.read.parquet(os.path.join(hist, "epoch=1")).collect()
    )
    assert epoch1 == ["c", "d"]

    # crash-retry: a NEW process (fresh state, bitmap rebuilt from history
    # that already INCLUDES epoch 1's durable write) re-delivers epoch 1 —
    # the output must be reproduced, not erased or duplicated
    state2 = FrontierState(spark, hist, key_col="url", m_bits=M, k=K)
    state2.process_batch(b2, epoch_id=1)
    epoch1_retry = sorted(
        r.url for r in spark.read.parquet(os.path.join(hist, "epoch=1")).collect()
    )
    assert epoch1_retry == ["c", "d"]
    assert _history_urls(spark, hist) == ["a", "b", "c", "d"]


def test_frontier_stream_matches_batch_antijoin(spark, tmp_path):
    # exactness across many overlapping batches: each epoch emits exactly
    # its keys not seen in an earlier epoch (so every key lands in the
    # first epoch where it appears), and the union of all epoch outputs
    # equals DISTINCT(all candidates) — the batch anti-join contract, held
    # online
    hist = str(tmp_path / "hist")
    state = FrontierState(spark, hist, key_col="url", m_bits=M, k=K)
    seen = set()
    all_urls = []
    for e in range(5):
        urls = [f"u{(7 * e + j) % 23}" for j in range(9)]  # heavy overlap
        all_urls.extend(urls)
        state.process_batch(
            spark.createDataFrame([(u,) for u in urls], "url string"), epoch_id=e
        )
        epoch_urls = [
            r.url
            for r in spark.read.parquet(os.path.join(hist, f"epoch={e}")).collect()
        ]
        assert len(epoch_urls) == len(set(epoch_urls))
        assert not (set(epoch_urls) & seen), "re-emitted an already-seen key"
        assert set(epoch_urls) == set(urls) - seen, "key missed its first epoch"
        seen |= set(epoch_urls)
    assert seen == set(all_urls)


def test_frontier_history_scanned_once_per_lifetime(spark, tmp_path):
    # the durable history parquet is read ONCE at startup into a persisted
    # key cache; every later confirm join must read cached blocks (startup
    # epochs) and locally-checkpointed frames (epochs this process
    # committed) — never the files again
    hist = str(tmp_path / "hist")
    seed = FrontierState(spark, hist, key_col="url", m_bits=M, k=K)
    seed.process_batch(spark.createDataFrame([("a",), ("b",)], "url string"), 0)
    seed.process_batch(spark.createDataFrame([("c",), ("d",)], "url string"), 1)

    state = FrontierState(spark, hist, key_col="url", m_bits=M, k=K)  # restart
    state.process_batch(spark.createDataFrame([("d",), ("e",)], "url string"), 2)
    plan = (
        state._history_df(exclude_epoch=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # BOTH legs are checkpointed RDD scans: the startup key set (file
    # lineage severed — the epoch-overwrite path may delete those files)
    # and the in-process epoch-2 output; no file scan anywhere
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "FileScan" not in plan and "Scan parquet" not in plan, plan
    # and the retry exclusion still sees the right key set through the cache
    # epoch0={a,b}, epoch1={c,d} (startup cache), epoch2={e} (in-process;
    # d was already seen) — excluding epoch 1 drops c AND d
    urls = sorted(r.url for r in state._history_df(exclude_epoch=1).collect())
    assert urls == ["a", "b", "e"]


def test_frontier_compaction_keeps_exactness(spark, tmp_path, monkeypatch):
    # long streams fold per-epoch frames into one labeled checkpoint every
    # _COMPACT_EVERY epochs (constant-size confirm plan); the fold must
    # not change emitted keys, and the retry exclusion must still be able
    # to drop an epoch that lives INSIDE the compacted blob
    import b_pdf_parser_spark.streaming.frontier_stream as fs

    monkeypatch.setattr(fs, "_COMPACT_EVERY", 3)
    hist = str(tmp_path / "hist")
    blocks_before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    state = FrontierState(spark, hist, key_col="url", m_bits=M, k=K)
    seen = set()
    for e in range(7):
        urls = [f"u{(5 * e + j) % 17}" for j in range(6)]  # heavy overlap
        state.process_batch(
            spark.createDataFrame([(u,) for u in urls], "url string"), epoch_id=e
        )
        epoch_urls = {
            r.url
            for r in spark.read.parquet(os.path.join(hist, f"epoch={e}")).collect()
        }
        assert not (epoch_urls & seen), "re-emitted an already-seen key"
        seen |= epoch_urls
    # 7 epochs at interval 3 → two level-0 folds merged binary-counter
    # style into one level-1 leg; 1 epoch frame still pending
    assert state._legs and len(state._committed) < 3
    assert [lv for lv, _ in state._legs] == [1], state._legs
    # excluding an epoch inside the compacted blob really drops its keys
    ep2 = {
        r.url for r in spark.read.parquet(os.path.join(hist, "epoch=2")).collect()
    }
    visible = {r.url for r in state._history_df(exclude_epoch=2).collect()}
    assert visible == seen - ep2
    # ADVICE r5: folds must free consumed frames' checkpoint blocks NOW,
    # not at GC time — live block entries stay bounded by legs + pending
    # frames (7 epochs compacted twice would otherwise pin ~9 RDDs)
    # delta vs test start: other tests' lingering blocks don't count
    live = len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) - blocks_before
    expect = len(state._legs) + len(state._committed)
    assert live <= expect + 1, (live, expect)  # +1: the startup key cache


def test_frontier_stream_rejects_foreign_checkpoint(spark, tmp_path):
    # epoch ids come from the stream checkpoint: pairing a history dir
    # with a DIFFERENT checkpoint restarts numbering at 0 and the
    # idempotent epoch overwrite would clobber durable history - must
    # fail loudly instead
    import pytest

    src, hist, ckpt = (str(tmp_path / d) for d in ("src", "hist", "ckpt"))
    _write_cands(spark, src, ["a", "b"])
    _run(spark, src, hist, ckpt)
    assert _history_urls(spark, hist) == ["a", "b"]
    # same checkpoint → resume is fine
    _write_cands(spark, src, ["c"], offset=100)
    _run(spark, src, hist, ckpt)
    assert _history_urls(spark, hist) == ["a", "b", "c"]
    # fresh checkpoint against the same history → refused
    with pytest.raises(ValueError, match="collide"):
        _run(spark, src, hist, str(tmp_path / "ckpt2"))
    # object-store URI history → refused at construction
    from b_pdf_parser_spark.streaming.frontier_stream import FrontierState
    with pytest.raises(ValueError, match="driver-visible"):
        FrontierState(spark, "s3a://bucket/frontier")
