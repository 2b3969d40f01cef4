"""Distributed index build: corpus -> per-segment posting files + manifests.

Lifecycle mirror of the reference's flush path (JVectorWriter flush ->
writeField -> writeGraph -> meta offsets -> finish() sentinel + footers,
JVectorWriter.java:177-196,333-350), Spark-first:

    corpus (doc_id assigned)
      -> segment layout: either seg_id = doc_id // seg_size with ONE
         shuffle (deterministic doc ranges, fine-grained resume), or
         align_partitions=True: each ingest partition IS a segment —
         ZERO shuffle (the Lucene writer model; the scaling-bench path)
      -> applyInPandas/mapInPandas(encode_segment) (whole-segment NumPy)
           executor writes  segments/seg_id=K/postings.parquet  via pyarrow
           returns one summary row per segment
      -> driver writes manifests/seg-K.json      (commit marker: a segment
                                                  whose manifest exists is
                                                  DONE and skipped on resume)
      -> stats.json (N, total_dl, avgdl, max_doc) (the "trained state";
                                                  finalize_index is its one
                                                  writer, net of merge purges)
      -> dict/ parquet (term -> global df, ctf)  (column-pruned scan of the
                                                  segment metadata, no blobs)

Scale notes (100 TB / 10^12 turns):
- seg_size bounds per-task memory: a segment is one task and one in-memory
  encode; size it so tokens-per-segment fits an executor (config knob).
- The shuffle moves raw rows once; tokenization happens AFTER the shuffle so
  only (text, doc_id) bytes move, not exploded tokens (~10x smaller).
- The dict job reads only (term, df, ctf) columns - Parquet column pruning
  keeps blobs on disk.
- Resume: manifests are the checkpoint; re-running the build recomputes only
  segments with no committed manifest (per-partition lineage in each row).
"""

from __future__ import annotations

import json
import os
import time


import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import FORMAT_VERSION
from ..functions.tokenizer import TOKENIZER_VERSION
from .codec import CODEC_VERSION
from .deletes import _read as _read_deletes
from .segment import encode_segment

POSTINGS_SPARK_SCHEMA = (
    "seg_id INT, term STRING, df INT, ctf LONG, max_tf INT, "
    "tf_offset INT, dl_offset INT, checksum LONG, blob BINARY, "
    "block_last_doc ARRAY<LONG>, block_max_tf ARRAY<INT>, "
    "block_min_dl ARRAY<INT>"
)

SUMMARY_SCHEMA = (
    "seg_id INT, n_docs LONG, sum_dl LONG, doc_lo LONG, doc_hi LONG, "
    "n_terms LONG, n_postings LONG, crc LONG, build_ms LONG, path STRING"
)


def _seg_dir(index_dir: str, seg_id: int) -> str:
    return os.path.join(index_dir, "segments", f"seg_id={seg_id}")


def _manifest_path(index_dir: str, seg_id: int) -> str:
    return os.path.join(index_dir, "manifests", f"seg-{seg_id:05d}.json")


def _text_storage(storage):
    if storage is not None:
        return storage
    from ..storage import PosixStorage

    return PosixStorage()


def committed_segments(index_dir: str, storage=None) -> dict[int, dict]:
    """seg_id -> manifest for every committed (resumable-skip) segment."""
    st = _text_storage(storage)
    mdir = os.path.join(index_dir, "manifests")
    out = {}
    for name in st.list_dir(mdir):
        if name.startswith("seg-") and name.endswith(".json"):
            m = json.loads(st.read_bytes(os.path.join(mdir, name)))
            out[int(m["segment_id"])] = m
    return out


def build_index(
    corpus: DataFrame,
    index_dir: str,
    seg_size: int = 100_000,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    resume: bool = True,
    input_fingerprint: str = "",
    align_partitions: bool = False,
    storage=None,
) -> dict:
    """Build (or resume building) the segment index. Returns the final
    index-level stats dict (also persisted as stats.json).

    align_partitions=True is the shuffle-free fast path (the Lucene model:
    each ingest writer flushes its own segments, no data movement): every
    INPUT PARTITION becomes one segment (seg_id = partition id), so the
    build is scan -> encode -> write with zero shuffle. Segment doc ranges
    may then overlap; query is unaffected (docIDs are global) and merge
    re-sorts by docID. Resume granularity follows partition ids, which are
    stable only if the input file layout and read conf are unchanged.

    Storage contract (round 5): segment DATA files are written
    executor-side through the cluster filesystem layer, create-only —
    visibility is gated by the manifest, never by the data write, so no
    rename is load-bearing there. COMMIT MARKERS (per-segment manifests,
    stats.json) flow through the driver-side IndexStorage client
    (`storage`, default PosixStorage) — one atomic whole-object PUT each,
    the same object-store-portable protocol as the vector index.
    """
    spark = corpus.sparkSession
    st = _text_storage(storage)
    st.mkdirs(os.path.join(index_dir, "manifests"))
    st.mkdirs(os.path.join(index_dir, "segments"))

    done = committed_segments(index_dir, storage=st) if resume else {}
    skip_ids = sorted(done)

    if align_partitions:
        work = corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        )
    else:
        work = corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
            (F.col(doc_id_col).cast("long") / F.lit(seg_size))
            .cast("int")
            .alias("seg_id"),
        )
        if skip_ids:
            work = work.where(~F.col("seg_id").isin(skip_ids))

    def _empty_summary():
        import pandas as pd

        return pd.DataFrame(
            columns=["seg_id", "n_docs", "sum_dl", "doc_lo", "doc_hi",
                     "n_terms", "n_postings", "crc", "build_ms", "path"]
        )

    def write_segment(seg_id, doc_ids, texts):
        import pandas as pd

        t0 = time.monotonic()
        rows, summary = encode_segment(doc_ids, texts)
        out_dir = _seg_dir(index_dir, seg_id)
        os.makedirs(out_dir, exist_ok=True)
        table = pa.Table.from_pydict(
            {
                "term": pa.array(rows["term"], pa.string()),
                "df": pa.array(rows["df"], pa.int32()),
                "ctf": pa.array(rows["ctf"], pa.int64()),
                "max_tf": pa.array(rows["max_tf"], pa.int32()),
                "tf_offset": pa.array(rows["tf_offset"], pa.int32()),
                "dl_offset": pa.array(rows["dl_offset"], pa.int32()),
                "checksum": pa.array(rows["checksum"], pa.int64()),
                "blob": pa.array(rows["blob"], pa.binary()),
                "block_last_doc": pa.array(
                    [list(map(int, b)) for b in rows["block_last_doc"]],
                    pa.list_(pa.int64()),
                ),
                "block_max_tf": pa.array(
                    [list(map(int, b)) for b in rows["block_max_tf"]],
                    pa.list_(pa.int32()),
                ),
                "block_min_dl": pa.array(
                    [list(map(int, b)) for b in rows["block_min_dl"]],
                    pa.list_(pa.int32()),
                ),
                "codec": pa.array(rows["codec"], pa.int32()),
            }
        )
        tmp = os.path.join(out_dir, "_postings.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, os.path.join(out_dir, "postings.parquet"))
        ms = int((time.monotonic() - t0) * 1000)
        return pd.DataFrame(
            [
                {
                    "seg_id": seg_id,
                    "n_docs": summary["n_docs"],
                    "sum_dl": summary["sum_dl"],
                    "doc_lo": summary["doc_lo"],
                    "doc_hi": summary["doc_hi"],
                    "n_terms": summary["n_terms"],
                    "n_postings": summary["n_postings"],
                    "crc": summary["crc"],
                    "build_ms": ms,
                    "path": out_dir,
                }
            ]
        )

    if align_partitions:
        skip_set = set(skip_ids)

        def build_partition(batches):
            import pandas as pd
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            if pid in skip_set:
                yield _empty_summary()
                return
            parts = [pdf for pdf in batches if len(pdf)]
            if not parts:
                yield _empty_summary()
                return
            pdf = pd.concat(parts, ignore_index=True)
            yield write_segment(pid, pdf["doc_id"].to_numpy(), pdf["text"])

        summaries = work.mapInPandas(
            build_partition, SUMMARY_SCHEMA
        ).collect()
    else:

        def build_one(pdf):
            if len(pdf) == 0:
                return _empty_summary()
            seg_id = int(pdf["seg_id"].iloc[0])
            return write_segment(seg_id, pdf["doc_id"].to_numpy(), pdf["text"])

        summaries = (
            work.groupBy("seg_id").applyInPandas(build_one, SUMMARY_SCHEMA).collect()
        )

    # Commit markers, one per completed segment (atomic rename).
    for row in summaries:
        m = {
            "format_version": FORMAT_VERSION,
            "tokenizer_version": TOKENIZER_VERSION,
            "codec_version": CODEC_VERSION,
            "segment_id": int(row["seg_id"]),
            "n_docs": int(row["n_docs"]),
            "sum_dl": int(row["sum_dl"]),
            "doc_lo": int(row["doc_lo"]),
            "doc_hi": int(row["doc_hi"]),
            "n_terms": int(row["n_terms"]),
            "n_postings": int(row["n_postings"]),
            "crc": int(row["crc"]),
            "build_ms": int(row["build_ms"]),
            "input_fingerprint": input_fingerprint,
        }
        st.put_bytes(
            _manifest_path(index_dir, int(row["seg_id"])),
            json.dumps(m, indent=1, sort_keys=True).encode(),
        )

    stats = finalize_index(spark, index_dir, storage=st)
    from ..plans.metrics import append_metrics

    append_metrics(
        index_dir,
        {
            "job": "build",
            "segments_built": len(summaries),
            "segments_skipped": len(skip_ids),
            "n_docs": stats["n_docs"],
            "build_ms_total": stats["build_ms_total"],
            "align_partitions": align_partitions,
            "input_fingerprint": input_fingerprint,
        },
        storage=st,
    )
    return stats


def finalize_index(spark: SparkSession, index_dir: str, storage=None) -> dict:
    """The one writer of stats.json, plus the global term dictionary.

    Stats fold the committed manifests minus what merges purged (the
    `purged` ids and their `purged_dl` in deletes.json). The dict reads
    only metadata columns of the postings - Parquet column pruning never
    touches the blobs. Once a merge has purged docs, their postings are
    gone only from the merged generation, so the dict then reads that
    generation plus the raw segments it has not seen."""
    st = _text_storage(storage)
    manifests = committed_segments(index_dir, storage=st)
    deletes = _read_deletes(index_dir)
    n_docs = sum(m["n_docs"] for m in manifests.values()) - len(
        deletes["purged"]
    )
    total_dl = sum(m["sum_dl"] for m in manifests.values()) - int(
        deletes["purged_dl"]
    )
    stats = {
        "format_version": FORMAT_VERSION,
        "tokenizer_version": TOKENIZER_VERSION,
        "codec_version": CODEC_VERSION,
        "n_docs": n_docs,
        # docID high-water mark: purge shrinks n_docs but never renumbers,
        # and raw manifests are never rewritten, so max_doc never shrinks.
        # Deletes validate against it; appends start above it.
        "max_doc": max((m["doc_hi"] for m in manifests.values()), default=-1)
        + 1,
        "total_dl": total_dl,
        "avgdl": (total_dl / n_docs) if n_docs else 0.0,
        "n_segments": len(manifests),
        "build_ms_total": sum(m["build_ms"] for m in manifests.values()),
    }
    st.put_bytes(
        os.path.join(index_dir, "stats.json"),
        json.dumps(stats, indent=1, sort_keys=True).encode(),
    )

    if manifests:
        raw = spark.read.parquet(os.path.join(index_dir, "segments"))
        postings_meta = raw.select("term", "df", "ctf")
        if deletes["purged"]:
            merged = json.loads(
                st.read_bytes(os.path.join(index_dir, "merged_manifest.json"))
            )
            postings_meta = (
                spark.read.parquet(os.path.join(index_dir, "merged"))
                .select("term", "df", "ctf")
                .unionByName(
                    raw.where(~F.col("seg_id").isin(merged["input_segments"]))
                    .select("term", "df", "ctf")
                )
            )
        (
            postings_meta.groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"),
                 F.sum("ctf").cast("long").alias("ctf"))
            # coalesce: bound the output file count WITHOUT the second
            # full exchange a repartition() pays after the groupBy's
            # (round 7, guide §2.4; dict content is set-identical).
            .coalesce(max(1, min(32, len(manifests))))
            .write.mode("overwrite")
            .parquet(os.path.join(index_dir, "dict"))
        )
    return stats
