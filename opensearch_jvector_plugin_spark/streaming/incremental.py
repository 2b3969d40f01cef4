"""Incremental index append via Structured Streaming.

The reference has no streaming surface — near-real-time visibility is
OpenSearch core's refresh, and incremental data becomes NEW SEGMENTS through
the same flush path that batch indexing uses (flush and merge share
writeField, JVectorWriter.java:145,163,183). Our engine mirrors that shape:

    readStream (new transcript files / Iceberg snapshots)
      -> foreachBatch(append_batch)
           each micro-batch becomes fresh doc-range segments appended after
           the highest committed segment; stats.json + dict are re-finalized
           so BM25 idf/avgdl reflect the grown corpus
      -> periodic merge_segments() compacts small streaming segments
         (the forceMerge analog)

DocID contract for appends: each batch is sorted by (conv_id, turn_idx) and
assigned docIDs from the next free segment boundary at or above both the
highest committed segment and the docID high-water mark (max manifest
doc_hi + 1, stats.json's `max_doc`), so appended docIDs never collide with
earlier ones and appended segment doc ranges stay disjoint and ascending
in seg_id order.

Exactly-once (round 4 — the same epoch-journal discipline as the vector
index's append): segment-manifest resume alone is NOT idempotent across a
partial crash, because a retry that recomputes base_seg from the
partially-committed state would re-append the whole batch at NEW segment
ids, duplicating every document the crashed attempt already committed.
`append_batch(batch_id=...)` therefore journals epochs in
`stream_log.json`:

  - intent (`pending: {batch_id, base_seg}`) is recorded BEFORE any
    segment is built;
  - a retry of the SAME epoch reuses the journaled base_seg, so
    build_index's manifest resume completes exactly the crashed attempt's
    missing segments (deterministic: same input, same base, same ids);
  - a retry AFTER full commit is a no-op (batch_id in `committed`);
  - a stale pending from a DIFFERENT epoch (possible only outside the
    single-stream contract) is rolled back by deleting its segments —
    appends are strictly increasing, so `seg_id >= pending.base_seg`
    identifies exactly the crashed batch's output.

Without batch_id the pre-round-4 best-effort behavior is kept (manifest
resume only) for direct programmatic use.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.build import (
    _manifest_path,
    build_index,
    committed_segments,
    finalize_index,
)


def _stream_log_path(index_dir: str) -> str:
    return os.path.join(index_dir, "stream_log.json")


def _read_stream_log(index_dir: str, storage=None) -> dict:
    from ..operators.build import _text_storage

    st = _text_storage(storage)
    p = _stream_log_path(index_dir)
    if st.exists(p):
        return json.loads(st.read_bytes(p))
    return {"committed": {}, "pending": None}


def _write_stream_log(index_dir: str, log: dict, storage=None) -> None:
    """Epoch-journal commit marker — one atomic whole-object PUT through
    the IndexStorage client (object-store-portable, like every other
    commit marker in the engine)."""
    from ..operators.build import _text_storage

    st = _text_storage(storage)
    st.mkdirs(index_dir)
    st.put_bytes(
        _stream_log_path(index_dir),
        json.dumps(log, indent=1, sort_keys=True).encode(),
    )


def _rollback_segments_from(
    spark: SparkSession, index_dir: str, base_seg: int
) -> int:
    """Delete every committed segment with seg_id >= base_seg (the crashed
    append's output — append seg_ids are strictly increasing) and
    re-finalize stats/dict. Returns the number of segments removed."""
    removed = 0
    for sid in sorted(committed_segments(index_dir)):
        if sid >= base_seg:
            os.remove(_manifest_path(index_dir, sid))
            shutil.rmtree(
                os.path.join(index_dir, "segments", f"seg_id={sid}"),
                ignore_errors=True,
            )
            removed += 1
    if removed:
        finalize_index(spark, index_dir)
    return removed


def append_batch(
    batch: DataFrame,
    index_dir: str,
    seg_size: int = 100_000,
    text_col: str = "text",
    batch_id: int | None = None,
) -> dict:
    """Append one micro-batch of transcript turns as new segments.

    batch_id: the streaming epoch (foreachBatch's epoch_id) — enables the
    exactly-once journal described in the module docstring."""
    spark = batch.sparkSession
    log = None
    resume_base = None
    if batch_id is not None:
        log = _read_stream_log(index_dir)
        key = str(int(batch_id))
        if key in log["committed"]:
            # Re-delivery of a fully-committed epoch: no-op.
            stats_path = os.path.join(index_dir, "stats.json")
            if os.path.exists(stats_path):
                with open(stats_path) as f:
                    return json.load(f)
            return finalize_index(spark, index_dir)
        pend = log.get("pending")
        if pend is not None:
            if int(pend["batch_id"]) == int(batch_id):
                resume_base = int(pend["base_seg"])
            else:
                _rollback_segments_from(
                    spark, index_dir, int(pend["base_seg"])
                )
                log["pending"] = None
                _write_stream_log(index_dir, log)

    if batch.rdd.isEmpty():
        stats = finalize_index(spark, index_dir)
        if log is not None:
            log["committed"][key] = {"n_segments": 0}
            log["pending"] = None
            _write_stream_log(index_dir, log)
        return stats

    if resume_base is not None:
        base_seg = resume_base
    else:
        # Start above both the highest segment and the docID high-water
        # mark: an align_partitions build numbers segments by partition,
        # so its docIDs can run past (max seg + 1) * seg_size.
        done = committed_segments(index_dir)
        max_doc = max((m["doc_hi"] for m in done.values()), default=-1) + 1
        base_seg = max(max(done, default=-1) + 1, -(-max_doc // seg_size))
        if log is not None:
            log["pending"] = {
                "batch_id": int(batch_id), "base_seg": int(base_seg)
            }
            _write_stream_log(index_dir, log)
    base_doc = base_seg * seg_size

    # Scalable docID assignment (plans/docids offsets method) rebased to the
    # next free segment boundary. A catch-up replay after downtime can make
    # one micro-batch arbitrarily large, so the single-partition global
    # window is not acceptable here; the offsets method keeps every stage
    # multi-partition and is deterministic because (conv_id, turn_idx) is
    # unique.
    from ..plans.docids import assign_doc_ids

    assigned = assign_doc_ids(batch, ["conv_id", "turn_idx"])
    with_ids = assigned.withColumn(
        "doc_id", (F.col("doc_id") + F.lit(base_doc)).cast("long")
    )
    try:
        stats = build_index(
            with_ids, index_dir, seg_size=seg_size, text_col=text_col,
            resume=True,
        )
    finally:
        persisted = getattr(assigned, "_ojs_persisted", None)
        if persisted is not None:
            persisted.unpersist()
    if log is not None:
        log["committed"][key] = {"base_seg": int(base_seg)}
        log["pending"] = None
        _write_stream_log(index_dir, log)
    return stats


def start_index_stream(
    spark: SparkSession,
    input_path: str,
    index_dir: str,
    schema,
    checkpoint_dir: str,
    seg_size: int = 100_000,
    max_files_per_trigger: int = 8,
):
    """File-source streaming ingestion: every new parquet file under
    input_path becomes part of the next micro-batch of index segments."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        append_batch(
            batch_df, index_dir, seg_size=seg_size, batch_id=int(epoch_id)
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
