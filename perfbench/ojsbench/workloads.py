"""The benchmark's workloads, built from the engine's public calls:
synthesize_transcripts, assign_doc_ids, build_index, merge_segments,
append_batch, delete_docs, load_index and search.

- ingest: the window repeats a lifecycle (build, merge, an append, a
  delete, a few queries on the live index) on fresh index directories and
  ends with the oracle-checked reference queries. Build-side layers do
  nearly all the work.
- search_merged: the set-up builds the force-merged index the window
  serves from (build, one streamed tail batch, forceMerge(1)). The window
  sends single queries from a popularity-skewed mix, then fixed-size
  batches (closed loop, one client).
- search_live: the set-up builds an unmerged index; the window sends
  distinct queries while every few requests are an append or a delete,
  reloading the index handle after each write. After the window the index
  is force-merged (expunging the deletes) and checked once more.

Every end-to-end metric is reported on every workload, so each workload
runs each lifecycle step at least once.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from opensearch_jvector_plugin_spark.operators.build import (
    build_index,
    committed_segments,
)
from opensearch_jvector_plugin_spark.operators.deletes import delete_docs
from opensearch_jvector_plugin_spark.operators.merge import merge_segments
from opensearch_jvector_plugin_spark.operators.query import (
    DICT_DRIVER_MAX_BYTES,
    K_MAX,
    load_index,
    search,
)
from opensearch_jvector_plugin_spark.plans.docids import assign_doc_ids
from opensearch_jvector_plugin_spark.sources.transcripts import (
    reference_queries,
    synthesize_transcripts,
    synthesize_transcripts_pdf,
)
from opensearch_jvector_plugin_spark.streaming.incremental import append_batch

from . import environment
from .gate import Oracle
from .queries import BLOCK, QueryMix, frame
from .replay import replay
from .runner import Run, dir_bytes

# append_batch's default segment size: appended docIDs start at the next
# free multiple of it.
APPEND_SEG_SIZE = 100_000

SIZES = {
    "turns": 10_000,          # corpus turns (10 turns per conversation)
    "turns_per_conv": 10,
    "warmup_turns": 1_000,    # corpus turns of the set-up's warm-up lifecycle
    "append_turns": 500,      # one append_batch micro-batch
    "delete_docs": 24,        # docIDs per delete_docs call
    "batch_size": 48,         # queries per batch request: 4 mix blocks
    "ingest_cycle_s": 12,     # nominal seconds per ingest lifecycle
    "ingest_batches": 1,      # batch requests per ingest lifecycle
    "merged_warmup": 2,       # unsampled single queries after set-up
    "merged_single_blocks": 1,  # single-query requests, in mix blocks
    "live_write_every": 5,    # every 5th search_live request is a write
    "live_batch_every": 7,    # every 7th search_live request is a batch
}

MARK_EVERY = 10  # every 10th appended turn carries its batch's marker term
WARMUP = "warmup"  # request id of the set-up's unsampled warm-up calls

# ingest's single queries, as SHAPES indices: the reference set's 2-term,
# 4-term-with-a-rare-term and 4-term shapes. All of them match, so ingest's
# few latency samples do not depend on which shapes a seed draws.
INGEST_SHAPES = (4, 5, 6)


def text_bytes(corpus: pd.DataFrame) -> int:
    """UTF-8 bytes of the corpus text."""
    return int(corpus["text"].map(lambda t: len(t.encode("utf-8"))).sum())


class Lifecycle:
    """Shared steps: corpus, build, merge, append, delete, query requests.

    With `record=False` (the warm-up) nothing is sampled or recorded as a
    workload property; results are still oracle-checked."""

    def __init__(self, run: Run, turns: int, name: str, record: bool = True):
        self.run = run
        self.spark = run.spark
        self.n = turns
        self.name = name
        self.record = record
        self.tpc = run.sizes["turns_per_conv"]
        self.rng = np.random.default_rng(run.seed)
        self.mix = QueryMix(run.seed)
        self.seen_queries: list[str] = []
        self.terms: set[str] = set()

    def sample(self, metric: str, value: float) -> None:
        if self.record:
            self.run.sample(metric, value)

    # --- set-up ---------------------------------------------------------

    def write_corpus(self) -> tuple[str, pd.DataFrame]:
        run = self.run
        path = run.ws.path(f"{self.name}-corpus")
        run.call("sources.synthesize", lambda: synthesize_transcripts(
            self.spark, self.n // self.tpc, self.tpc, seed=run.seed,
        ).write.parquet(path))
        # The driver-side copy is for the oracle and the bytes ratio only;
        # the engine never makes it, so it stays out of set-up time.
        with run.oracle():
            pdf = synthesize_transcripts_pdf(
                np.arange(self.n), self.n // self.tpc, self.tpc, seed=run.seed)
            pdf["doc_id"] = np.arange(self.n, dtype=np.int64)
            self.text_bytes = text_bytes(pdf)
        if self.record:
            run.props["turns"] = self.n
            run.props["text_bytes"] = self.text_bytes
        return path, pdf

    def batch_pdf(self, a: int) -> pd.DataFrame:
        """Append micro-batch `a`: the next fresh turns of the corpus, every
        MARK_EVERY-th one carrying the marker term fresh<a>."""
        b = self.run.sizes["append_turns"]
        lo = self.n + a * b
        pdf = synthesize_transcripts_pdf(
            np.arange(lo, lo + b), 0, self.tpc, seed=self.run.seed)
        marked = np.arange(b) % MARK_EVERY == 0
        pdf.loc[marked, "text"] = pdf.loc[marked, "text"] + f" fresh{a}"
        return pdf

    # --- engine calls ---------------------------------------------------

    def build(self, corpus_path: str, index_dir: str,
              first_turns: int | None = None) -> None:
        """Build from the corpus at `corpus_path`, or from its first
        `first_turns` turns (whole conversations)."""
        run = self.run
        source = self.spark.read.parquet(corpus_path)
        if first_turns is not None:
            source = source.where(
                source["conv_id"] < f"conv{first_turns // self.tpc:08d}")
        corpus, asp = run.call("docids.assign", lambda: assign_doc_ids(
            source, ["conv_id", "turn_idx"]))
        try:
            stats, bsp = run.call("build.build_index", lambda: build_index(
                corpus, index_dir, align_partitions=True))
        finally:
            corpus._ojs_persisted.unpersist()
        run.expect("build n_docs", stats["n_docs"] == self.n)
        self.sample("build_turns_per_s", self.n / (asp.seconds + bsp.seconds))
        index_bytes = dir_bytes(index_dir)
        self.sample("index_bytes_per_text_byte", index_bytes / self.text_bytes)
        segs = committed_segments(index_dir)
        if self.record:
            run.props.setdefault("segments_built", []).append(len(segs))
        if run.traced:
            busy = sum(m["build_ms"] for m in segs.values()) / 1000.0
            run.tracer.note(
                bsp, segments=len(segs), segment_busy_s=busy,
                busy_fraction=busy / (bsp.seconds * environment.n_cores()),
                postings=sum(m["n_postings"] for m in segs.values()),
                bytes_written=index_bytes)

    def merge(self, index_dir: str, expect_docs: int) -> None:
        run = self.run
        handle = load_index(index_dir)
        manifest, sp = run.call(
            "merge.merge_segments", lambda: merge_segments(self.spark, handle))
        run.expect("merge n_docs", load_index(index_dir).n_docs == expect_docs)
        self.sample("merge_s", sp.seconds)
        if run.traced:
            run.tracer.note(
                sp, segments_in=len(manifest["input_segments"]),
                busy_s=sum(m["merge_ms"] for m in manifest["merged_segments"])
                / 1000.0,
                bytes_rewritten=dir_bytes(handle.merged_path))

    def append(self, index_dir: str, a: int, oracle: Oracle) -> None:
        run = self.run
        before = committed_segments(index_dir)
        pdf = self.batch_pdf(a)
        batch = self.spark.createDataFrame(pdf)
        stats, sp = run.call(
            "append.append_batch", lambda: append_batch(batch, index_dir))
        # append_batch's docID contract: (conv_id, turn_idx) order from the
        # next free segment boundary.
        pdf["doc_id"] = (max(before) + 1) * APPEND_SEG_SIZE + np.arange(len(pdf))
        with run.oracle():
            oracle.append(pdf)
        run.expect("append n_docs", stats["n_docs"] == oracle.n_docs)
        self.sample("append_s", sp.seconds)
        if run.traced:
            run.tracer.note(sp, segments_added=len(
                committed_segments(index_dir)) - len(before))

    def victims(self, oracle: Oracle, recent: pd.DataFrame | None) -> list[int]:
        """Docs to delete: half from the latest results (so deletes change
        what queries return), half uniformly from the base corpus."""
        m = self.run.sizes["delete_docs"]
        picked: list[int] = []
        if recent is not None and len(recent):
            base = recent[recent["doc_id"] < self.n]["doc_id"].astype(int)
            picked = list(dict.fromkeys(base))[: m // 2]
        while len(picked) < m:
            d = int(self.rng.integers(self.n))
            if d not in picked:
                picked.append(d)
        return picked

    def delete(self, index_dir: str, victims: list[int], oracle: Oracle) -> None:
        run = self.run
        fresh = len(set(victims) - oracle.deleted)
        out, _ = run.call("deletes.delete_docs",
                          lambda: delete_docs(index_dir, victims), spark=False)
        oracle.delete(victims)
        run.expect("delete count", out["new"] == fresh)

    def load(self, index_dir: str):
        handle, _ = self.run.call("query.load_index",
                                  lambda: load_index(index_dir), spark=False)
        return handle

    def request(self, handle, rows: list[tuple[str, int]], oracle: Oracle,
                first_id: int = 0, sample: bool = True) -> pd.DataFrame:
        """One search() call for `rows`, timed until results are collected,
        then oracle-checked (outside the timing)."""
        run = self.run
        qf = frame(rows, first_id)
        n = len(qf)
        sample = sample and self.record
        if sample:
            self.seen_queries.extend(r[0] for r in rows)
            for text, _ in rows:
                self.terms.update(text.split())
        with run.tracer.span("client.request") as rsp:
            df, csp = run.call("query.compile",
                               lambda: search(self.spark, handle, qf), ops=n)
            got, esp = run.call("query.execute", df.toPandas, ops=0)
        latency = csp.seconds + esp.seconds
        if run.corrupt and len(got) >= 2:
            got = got.copy()
            got.loc[got.index[:2], "doc_id"] = got["doc_id"].iloc[[1, 0]].to_numpy()
        if sample:
            if n == 1:
                run.sample("query_ms", latency * 1000.0)
            else:
                run.sample("batch_qps", n / latency)
        with run.oracle():
            run.gate(got, oracle.expected(qf))
        if run.traced:
            run.tracer.note(rsp, queries=n, **{
                key: csp.counts.get(key, 0) + esp.counts.get(key, 0)
                for key in ("spark_jobs", "spark_stages", "spark_tasks")})
            replay(run, handle, qf)
        return got

    def finish(self) -> None:
        run = self.run
        total = len(self.seen_queries)
        run.props["queries"] = total
        run.props["query_repeat_share"] = (
            1.0 - len(set(self.seen_queries)) / total if total else 0.0)
        run.props["distinct_query_terms"] = len(self.terms)


def _reference_rows(n_docs: int) -> list[tuple[str, int]]:
    """The reference query set; its "k larger than the corpus" query is
    sent at K_MAX, since search() rejects a larger k."""
    ref = reference_queries(n_docs)
    return [(t, min(int(k), K_MAX)) for t, k in zip(ref["query_text"], ref["k"])]


def _dict_props(run: Run, index_dir: str) -> None:
    run.props["dict_bytes"] = dir_bytes(os.path.join(index_dir, "dict"))
    run.props["dict_driver_max_bytes"] = DICT_DRIVER_MAX_BYTES


def warm_up(run: Run, corpus_path: str, corpus: pd.DataFrame) -> None:
    """The set-up's warm-up, not sampled: one lifecycle (build, merge,
    append, a query, a delete, a batch) on the first `warmup_turns` turns
    of the corpus. It pays what the first call of each kind pays in a fresh
    process (class loading, JIT, Spark code generation, the Python workers'
    engine imports), which hardly depends on the corpus size."""
    with run.tracer.span("session.warmup", request=WARMUP):
        life = Lifecycle(run, run.sizes["warmup_turns"], "warmup",
                         record=False)
        with run.oracle():
            first = corpus.iloc[: life.n]
            oracle = Oracle(first)
            life.text_bytes = text_bytes(first)
        index_dir = run.ws.path("warmup-index")
        life.build(corpus_path, index_dir, first_turns=life.n)
        life.merge(index_dir, life.n)
        life.append(index_dir, 0, oracle)
        handle = life.load(index_dir)
        recent = life.request(
            handle, [life.mix.query("fresh0", INGEST_SHAPES[0])], oracle)
        life.delete(index_dir, life.victims(oracle, recent), oracle)
        handle = life.load(index_dir)
        life.request(handle, [life.mix.query()
                              for _ in range(run.sizes["batch_size"])], oracle)
    shutil.rmtree(index_dir, ignore_errors=True)


def ingest(run: Run) -> None:
    sizes = run.sizes
    with run.setup():
        run.start(environment.n_cores())
        life = Lifecycle(run, sizes["turns"], "ingest")
        corpus_path, corpus = life.write_corpus()
        with run.oracle():
            base_oracle = Oracle(corpus)
        warm_up(run, corpus_path, corpus)
        environment.collect_garbage(run.spark)

    def lifecycle(index_dir: str):
        with run.oracle():
            oracle = base_oracle.copy()
        life.build(corpus_path, index_dir)
        life.merge(index_dir, life.n)
        life.append(index_dir, 0, oracle)
        handle = life.load(index_dir)
        # A query that hits the turns just appended; half of the docs
        # deleted next come from its results.
        shapes = iter(INGEST_SHAPES)
        recent = life.request(
            handle, [life.mix.query("fresh0", next(shapes))], oracle)
        life.delete(index_dir, life.victims(oracle, recent), oracle)
        handle = life.load(index_dir)
        for shape in shapes:
            life.request(handle, [life.mix.query(shape=shape)], oracle)
        life.mix.new_block()
        for _ in range(sizes["ingest_batches"]):
            life.request(handle, [life.mix.query()
                                  for _ in range(sizes["batch_size"])],
                         oracle)
        life.sample("storage_index_bytes", dir_bytes(index_dir))
        return oracle, handle

    # A fixed number of lifecycles per run (about one per `ingest_cycle_s`
    # of the window, at least two), so that every run does the same work.
    cycles = max(2, round(run.seconds / sizes["ingest_cycle_s"]))
    for cycle in range(cycles):
        index_dir = run.ws.path(f"ingest-{cycle}")
        with run.tracer.span("client.cycle", request=f"cycle{cycle}"):
            oracle, handle = lifecycle(index_dir)
        if cycle == 0:
            _dict_props(run, index_dir)
        if cycle == cycles - 1:
            # The run ends with the reference queries, checked, not sampled.
            with run.tracer.span("client.reference", request="reference"):
                life.request(handle, _reference_rows(life.n), oracle,
                             sample=False)
        shutil.rmtree(index_dir, ignore_errors=True)
    run.props["cycles"] = cycles
    life.finish()


def search_merged(run: Run) -> None:
    sizes = run.sizes
    batch = sizes["batch_size"]
    with run.setup():
        run.start(environment.n_cores())
        life = Lifecycle(run, sizes["turns"], "merged")
        corpus_path, corpus = life.write_corpus()
        with run.oracle():
            oracle = Oracle(corpus)
        warm_up(run, corpus_path, corpus)
        # The served index: a bulk build, one streamed tail batch, then a
        # forceMerge(1). (The tail batch is there so that append_p50_s has
        # a sample on this workload too.)
        index_dir = run.ws.path("merged-index")
        life.build(corpus_path, index_dir)
        life.append(index_dir, 0, oracle)
        life.merge(index_dir, oracle.n_docs)
        handle = life.load(index_dir)
        draw = life.mix.popular()
        # The first requests on the merged layout compile its serving path;
        # not sampled.
        with run.tracer.span("session.warmup", request=WARMUP):
            for _ in range(sizes["merged_warmup"]):
                life.request(handle, [draw()], oracle, sample=False)
            life.request(handle, [draw() for _ in range(batch)], oracle,
                         sample=False)
        environment.collect_garbage(run.spark)
    run.sample("storage_index_bytes", dir_bytes(index_dir))
    _dict_props(run, index_dir)

    # Closed loop, one client: `merged_single_blocks` whole blocks of the
    # mix as single-query requests, then fixed-size batches until the
    # window ends.
    life.mix.new_block()
    deadline = run.deadline()
    i = b = 0
    while i < BLOCK * sizes["merged_single_blocks"]:
        with run.tracer.span("client.single", request=f"q{i}"):
            life.request(handle, [draw()], oracle, first_id=i)
        i += 1
    while run.now() < deadline or b < 2:
        with run.tracer.span("client.batch", request=f"b{b}"):
            life.request(handle, [draw() for _ in range(batch)], oracle,
                         first_id=i)
        i += batch
        b += 1
    life.finish()


def search_live(run: Run) -> None:
    sizes = run.sizes
    with run.setup():
        run.start(environment.n_cores())
        life = Lifecycle(run, sizes["turns"], "live")
        corpus_path, corpus = life.write_corpus()
        with run.oracle():
            oracle = Oracle(corpus)
        warm_up(run, corpus_path, corpus)
        index_dir = run.ws.path("live-index")
        life.build(corpus_path, index_dir)
        handle = life.load(index_dir)
        environment.collect_garbage(run.spark)
    _dict_props(run, index_dir)

    seen: set[str] = set()

    def fresh_query(marker: str | None):
        while True:
            row = life.mix.query(marker)
            if row[0] not in seen:
                seen.add(row[0])
                return row

    write_every = sizes["live_write_every"]
    deadline = run.deadline()
    step = qid = appends = 0
    recent = None
    while run.now() < deadline or step < 2 * write_every:
        with run.tracer.span("client.step", request=f"s{step}"):
            if step % write_every == write_every - 1:
                if (step // write_every) % 2 == 0:
                    life.append(index_dir, appends, oracle)
                    appends += 1
                else:
                    life.delete(index_dir, life.victims(oracle, recent), oracle)
                handle = life.load(index_dir)
            else:
                marker = (f"fresh{appends - 1}"
                          if appends and step % 3 == 0 else None)
                size = (sizes["batch_size"]
                        if step % sizes["live_batch_every"] == 0 else 1)
                rows = [fresh_query(marker) for _ in range(size)]
                recent = life.request(handle, rows, oracle, first_id=qid)
                qid += size
        step += 1
    run.props["appends"] = appends
    run.sample("storage_index_bytes", dir_bytes(index_dir))
    # Compaction after the traffic: merge expunges the deletes, and the
    # purged statistics are checked once more.
    life.merge(index_dir, oracle.n_docs - len(oracle.deleted))
    with run.oracle():
        oracle.purge()
    handle = life.load(index_dir)
    life.request(handle, [fresh_query(None) for _ in range(sizes["batch_size"])],
                 oracle, first_id=qid, sample=False)
    life.finish()


WORKLOADS = {
    "ingest": ingest,
    "search_merged": search_merged,
    "search_live": search_live,
}
