"""Document deletion — the Lucene liveDocs / soft-deletes analog.

The reference inherits Lucene's deletion model: a delete marks the doc in
a live-docs bitmap; every search filters through it immediately, but
corpus statistics (docCount, avgdl, per-term df) stay STALE until a merge
rewrites the segments without the dead docs (forceMerge expunges). This
engine mirrors that contract exactly:

- `delete_docs` unions ids into `deletes.json` (atomic PUT through the
  text-index storage client; single-writer, like the merge marker).
- The deleted set applies in one place: `query.scan_segments`, the
  per-segment search behind every index-served query, ships it in its
  broadcast and hands it to the collector, which applies it INSIDE the
  kernel, before any top-k cut, so a filtered query still fills k from
  live matches.
- BM25 stats stay stale until `merge_segments`, which drops the dead
  postings from its output and records the purge; `build.finalize_index`
  then recomputes stats.json (n_docs = Σ manifest n_docs − |purged|;
  total_dl = Σ manifest sum_dl − purged_dl, the dead docs' dls recovered
  exactly from their postings — a tokenless doc contributes 0, which is
  its true dl) and rebuilds the dictionary from the merged postings plus
  the raw segments appended after that merge.

Bookkeeping: deletes.json carries BOTH the full `deleted` set (the
serving filter — kept forever, a no-op once postings are gone, and still
required when serving the unpurged base segments) and the `purged`
subset (with `purged_dl`, the sum of their dls) that stats already
exclude, so a re-merge is idempotent (it re-drops the same postings from
its fresh output but purges only the pending ids). docIDs are validated
against `max_doc`, the docID high-water mark stats.json records at
finalize (max manifest doc_hi + 1 — purge shrinks n_docs but never
renumbers).
"""

from __future__ import annotations

import json
import os

import numpy as np

DELETES_FILE = "deletes.json"


def _read(index_dir: str) -> dict:
    p = os.path.join(index_dir, DELETES_FILE)
    if not os.path.exists(p):
        return {"deleted": [], "purged": [], "purged_dl": 0}
    with open(p) as f:
        d = json.load(f)
    d.setdefault("deleted", [])
    d.setdefault("purged", [])
    d.setdefault("purged_dl", 0)
    return d


def _write(index_dir: str, d: dict, storage) -> None:
    from .build import _text_storage

    _text_storage(storage).put_bytes(
        os.path.join(index_dir, DELETES_FILE),
        json.dumps(
            {
                "deleted": [int(x) for x in sorted(d["deleted"])],
                "purged": [int(x) for x in sorted(d["purged"])],
                "purged_dl": int(d["purged_dl"]),
            },
            sort_keys=True,
        ).encode(),
    )


def deleted_docs(index_dir: str) -> np.ndarray:
    """Sorted int64 array of ALL deleted docIDs (the serving filter)."""
    return np.asarray(sorted(_read(index_dir)["deleted"]), dtype=np.int64)


def pending_purge(index_dir: str) -> np.ndarray:
    """Deleted docIDs whose stats adjustment has not happened yet."""
    d = _read(index_dir)
    return np.setdiff1d(
        np.asarray(d["deleted"], dtype=np.int64),
        np.asarray(d["purged"], dtype=np.int64),
    )


def mark_purged(index_dir: str, dl_purged: int, storage=None) -> None:
    """Record that every currently-deleted id has been purged; `dl_purged`
    is the summed dl of the ids this merge purged for the first time."""
    d = _read(index_dir)
    d["purged"] = list(d["deleted"])
    d["purged_dl"] = int(d["purged_dl"]) + int(dl_purged)
    _write(index_dir, d, storage)


def delete_docs(index_dir: str, doc_ids, storage=None) -> dict:
    """Mark docIDs deleted (idempotent union). Visible to every
    subsequent search immediately; purged at the next merge_segments.
    Returns {"deleted": total, "new": newly_added}."""
    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    if len(ids) and ids[0] < 0:
        raise ValueError(f"negative docID in delete set: {ids[0]}")
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    # The docID high-water mark; indexes finalized before it was recorded
    # fall back to n_docs.
    max_doc = int(stats.get("max_doc", stats["n_docs"]))
    if len(ids) and ids[-1] >= max_doc:
        raise ValueError(
            f"docID {int(ids[-1])} out of range (docID space is "
            f"[0, {max_doc}))"
        )
    d = _read(index_dir)
    existing = set(d["deleted"])
    merged = existing | {int(x) for x in ids}
    d["deleted"] = sorted(merged)
    _write(index_dir, d, storage)
    return {"deleted": len(merged), "new": len(merged) - len(existing)}
