"""Segment merge: N doc-range segments -> fewer (default 1) doc-range
segments, Lucene-codec-style.

Counterpart of the reference's forced merge (ForceMergesOnlyMergePolicy
merges ALL segments in one forced merge, ForceMergesOnlyMergePolicy.java:41-61;
JVectorWriter.mergeOneField re-streams every input segment's values in
baseDocId order, JVectorWriter.java:132-175). For posting lists the merge is
cheaper than the reference's graph rebuild: segments cover disjoint,
ascending docID ranges, so a term's merged posting list is the concatenation
of its per-segment lists in segment order — pure decode + concat + re-encode,
O(N) per term, no rebase needed because our docIDs are global from build
time (the docID-rebasing discipline is paid once, at docID assignment).

Shuffle shape: one shuffle keyed by (merged_seg, term-hash) — each merged
segment is assembled by one task; fan_in controls memory per task.
"""

from __future__ import annotations

import json
import os
import time
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .build import committed_segments, finalize_index
from .codec import (
    PostingList,
    decode_postings,
    decode_postings_batch,
    encode_postings,
)
from .query import IndexHandle

MERGE_SUMMARY_SCHEMA = (
    "seg_id INT, n_terms LONG, n_postings LONG, crc LONG, merge_ms LONG, "
    "dl_purged LONG"
)


def merge_segments(
    spark: SparkSession,
    index: IndexHandle,
    fan_in: int | None = None,
    codec: str = "varint",
    storage=None,
) -> dict:
    """Merge the segment index into ceil(n_segments / fan_in) merged
    segments (fan_in=None -> one segment, the forceMerge(1) analog).
    The merged-manifest commit marker flows through the IndexStorage
    client (one atomic PUT; same protocol as build/vector maintenance);
    merged DATA files are create-only through the cluster FS, gated by
    that marker."""
    from .build import _text_storage

    st = _text_storage(storage)
    manifests = committed_segments(index.index_dir, storage=st)
    seg_ids = sorted(manifests)
    if not seg_ids:
        raise ValueError("no committed segments to merge")
    if fan_in is None:
        fan_in = len(seg_ids)
    group_of = {s: i // fan_in for i, s in enumerate(seg_ids)}
    merged_dir = index.merged_path
    os.makedirs(merged_dir, exist_ok=True)
    # Drop stale output dirs from a previous merge with a different output
    # set (e.g. a larger fan_in produced more merged segments): the
    # post-purge dict rebuild and the serving scan read merged_dir
    # wholesale, so a surviving stale seg_id=N dir would double-count
    # df/ctf and duplicate postings.
    import shutil

    out_ids = {f"seg_id={g}" for g in set(group_of.values())}
    for name in os.listdir(merged_dir):
        if name.startswith("seg_id=") and name not in out_ids:
            shutil.rmtree(os.path.join(merged_dir, name), ignore_errors=True)

    mapping = spark.createDataFrame(
        [(int(s), int(g)) for s, g in group_of.items()],
        "seg_id INT, merged_seg INT",
    )
    postings = spark.read.parquet(index.segments_path).join(
        F.broadcast(mapping), "seg_id"
    )

    # Expunge-deletes (the forceMerge contract): the merged output drops
    # every deleted doc's postings; stats are adjusted afterwards for the
    # ids not yet purged by a previous merge (idempotent re-merge).
    from .deletes import deleted_docs, mark_purged, pending_purge

    _deleted = deleted_docs(index.index_dir)
    _pending = pending_purge(index.index_dir)
    bc_deleted = spark.sparkContext.broadcast(
        _deleted if len(_deleted) else None
    )
    bc_pending = spark.sparkContext.broadcast(
        _pending if len(_pending) else None
    )

    # Hybrid decode threshold, MEASURED (BENCH.md round 2): per-term/
    # per-list processing beats whole-group vectorization at merge shape —
    # merge lists are LARGE (hot terms: df ~ 1e5+), so one monolithic
    # decode/lexsort/encode over ~25M postings thrashes DRAM (44s) while
    # the per-term loop stays cache-resident (12s). Batching only pays for
    # SMALL lists, where the per-call decode overhead dominates (the round-1
    # query-kernel lesson — query terms are many and small). So: varint
    # lists with df <= SMALL_DF decode in bounded batched chunks; everything
    # else decodes per-list.
    SMALL_DF = 4096
    BATCH_VALUES = 2_000_000  # cap per batched decode call (cache-sized)

    def _decode_inputs(pdf: pd.DataFrame) -> list:
        """Decode every input posting list (hybrid small-batched / large-
        per-list). Returns PostingLists in pdf row order."""
        codecs = (
            pdf["codec"].to_numpy()
            if "codec" in pdf.columns
            else np.ones(len(pdf), dtype=np.int64)
        )
        dfs = pdf["df"].to_numpy()
        blobs = pdf["blob"].to_numpy()
        cks = pdf["checksum"].to_numpy()
        lists: list = [None] * len(pdf)
        small = np.flatnonzero((codecs == 1) & (dfs <= SMALL_DF))
        i = 0
        while i < len(small):
            j, acc = i, 0
            while j < len(small) and (acc == 0 or acc + 3 * int(dfs[small[j]]) <= BATCH_VALUES):
                acc += 3 * int(dfs[small[j]])
                j += 1
            sel = small[i:j]
            decoded = decode_postings_batch(
                [blobs[s] for s in sel], dfs[sel], cks[sel]
            )
            for s, dec in zip(sel, decoded):
                lists[s] = dec
            i = j
        for s in np.flatnonzero((codecs != 1) | (dfs > SMALL_DF)):
            r = pdf.iloc[int(s)]
            lists[int(s)] = decode_postings(
                r["blob"], int(r["df"]), int(r["tf_offset"]),
                int(r["dl_offset"]), int(r["checksum"]),
                codec=int(codecs[s]),
            )
        return lists

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.monotonic()
        merged_seg = int(pdf["merged_seg"].iloc[0])
        pdf = pdf.sort_values(["term", "seg_id"], kind="stable").reset_index(
            drop=True
        )
        lists = _decode_inputs(pdf)
        term_vals = pdf["term"].to_numpy()
        new_term = np.ones(len(pdf), dtype=bool)
        new_term[1:] = term_vals[1:] != term_vals[:-1]
        t_row_starts = np.flatnonzero(new_term)
        t_row_ends = np.append(t_row_starts[1:], len(pdf))

        out = {
            "term": [], "df": [], "ctf": [], "max_tf": [], "tf_offset": [],
            "dl_offset": [], "checksum": [], "blob": [], "block_last_doc": [],
            "block_max_tf": [], "block_min_dl": [], "codec": [],
        }
        seg_crc = 0
        n_postings = 0
        deleted = bc_deleted.value
        pending = bc_pending.value
        # dl of each PENDING-purge doc seen in this group (dl is constant
        # per doc; a doc lives in exactly one group) — exact stats credit.
        pending_dl: dict[int, int] = {}
        # Per-term concat + sort + encode: cache-resident per term, and the
        # encoder is byte-identical to the build's (CRC-identity contract;
        # with no deletes the masking below is skipped entirely).
        for rs, re_ in zip(t_row_starts, t_row_ends):
            term = term_vals[rs]
            segs = lists[rs:re_]
            if len(segs) == 1:
                cat_docs, cat_tfs, cat_dls = (
                    segs[0].doc_ids, segs[0].tfs, segs[0].dls
                )
            else:
                cat_docs = np.concatenate([l.doc_ids for l in segs])
                cat_tfs = np.concatenate([l.tfs for l in segs])
                cat_dls = np.concatenate([l.dls for l in segs])
            if deleted is not None:
                idx = np.searchsorted(deleted, cat_docs)
                idx[idx == len(deleted)] = 0
                dead = deleted[idx] == cat_docs
                if pending is not None and dead.any():
                    dd, dld = cat_docs[dead], cat_dls[dead]
                    pidx = np.searchsorted(pending, dd)
                    pidx[pidx == len(pending)] = 0
                    pmask = pending[pidx] == dd
                    for doc, dl in zip(dd[pmask], dld[pmask]):
                        pending_dl.setdefault(int(doc), int(dl))
                if dead.any():
                    live = ~dead
                    cat_docs = cat_docs[live]
                    cat_tfs = cat_tfs[live]
                    cat_dls = cat_dls[live]
                if not len(cat_docs):
                    continue  # the term died with its only docs
            # Global docID order regardless of segment range layout (doc
            # ranges need not be disjoint when segments were built
            # shuffle-free from ingest partitions).
            ordr = np.argsort(cat_docs, kind="stable")
            enc = encode_postings(
                term,
                PostingList(cat_docs[ordr], cat_tfs[ordr], cat_dls[ordr]),
                codec=codec,
            )
            out["term"].append(enc.term)
            out["df"].append(enc.df)
            out["ctf"].append(enc.ctf)
            out["max_tf"].append(enc.max_tf)
            out["tf_offset"].append(enc.tf_offset)
            out["dl_offset"].append(enc.dl_offset)
            out["checksum"].append(enc.checksum)
            out["blob"].append(enc.blob)
            out["block_last_doc"].append(enc.block_last_doc.tolist())
            out["block_max_tf"].append(enc.block_max_tf.tolist())
            out["block_min_dl"].append(enc.block_min_dl.tolist())
            out["codec"].append(enc.codec)
            seg_crc = zlib.crc32(enc.blob, seg_crc) & 0xFFFFFFFF
            n_postings += enc.df

        out_dir = os.path.join(merged_dir, f"seg_id={merged_seg}")
        os.makedirs(out_dir, exist_ok=True)
        table = pa.Table.from_pydict(
            {
                "term": pa.array(out["term"], pa.string()),
                "df": pa.array(out["df"], pa.int32()),
                "ctf": pa.array(out["ctf"], pa.int64()),
                "max_tf": pa.array(out["max_tf"], pa.int32()),
                "tf_offset": pa.array(out["tf_offset"], pa.int32()),
                "dl_offset": pa.array(out["dl_offset"], pa.int32()),
                "checksum": pa.array(out["checksum"], pa.int64()),
                "blob": pa.array(out["blob"], pa.binary()),
                "block_last_doc": pa.array(out["block_last_doc"], pa.list_(pa.int64())),
                "block_max_tf": pa.array(out["block_max_tf"], pa.list_(pa.int32())),
                "block_min_dl": pa.array(out["block_min_dl"], pa.list_(pa.int32())),
                "codec": pa.array(out["codec"], pa.int32()),
            }
        )
        tmp = os.path.join(out_dir, "_postings.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, os.path.join(out_dir, "postings.parquet"))
        ms = int((time.monotonic() - t0) * 1000)
        return pd.DataFrame(
            [{"seg_id": merged_seg, "n_terms": len(out["term"]),
              "n_postings": n_postings, "crc": seg_crc, "merge_ms": ms,
              "dl_purged": int(sum(pending_dl.values()))}]
        )

    summaries = (
        postings.groupBy("merged_seg")
        .applyInPandas(merge_group, MERGE_SUMMARY_SCHEMA)
        .collect()
    )
    manifest = {
        "fan_in": fan_in,
        "input_segments": seg_ids,
        "n_docs_purged": int(len(_pending)),
        "merged_segments": [
            {
                "seg_id": int(r["seg_id"]),
                "n_terms": int(r["n_terms"]),
                "n_postings": int(r["n_postings"]),
                "crc": int(r["crc"]),
                "merge_ms": int(r["merge_ms"]),
            }
            for r in sorted(summaries, key=lambda r: r["seg_id"])
        ],
    }
    st.put_bytes(
        os.path.join(index.index_dir, "merged_manifest.json"),
        json.dumps(manifest, indent=1, sort_keys=True).encode(),
    )
    # Expunge-deletes bookkeeping: record the ids this merge purged for the
    # first time, then re-finalize stats and the dict from the committed
    # generation. Idempotent: a re-merge finds pending empty and skips both.
    if len(_pending):
        mark_purged(
            index.index_dir, sum(int(r["dl_purged"]) for r in summaries),
            storage=st,
        )
        finalize_index(spark, index.index_dir, storage=st)
    from ..plans.metrics import append_metrics

    append_metrics(
        index.index_dir,
        {
            "job": "merge",
            "fan_in": fan_in,
            "codec": codec,
            "inputs": len(seg_ids),
            "outputs": len(manifest["merged_segments"]),
            "merge_ms_total": sum(
                m["merge_ms"] for m in manifest["merged_segments"]
            ),
        },
    )
    return manifest
