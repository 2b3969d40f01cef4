"""One benchmark run: its Spark session, tracer, oracle gate and samples."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from . import environment
from .gate import mismatch
from .tracing import Tracer


class OperationFailed(Exception):
    """An engine call raised; the run stops and reports it as failed."""


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(base, name))
               for base, _, files in os.walk(path) for name in files)


class Run:
    def __init__(self, ws: environment.Workspace, seed: int, seconds: float,
                 trace: bool, sizes: dict):
        self.ws = ws
        self.seed = seed
        self.seconds = seconds
        self.sizes = sizes
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.props: dict = {"seed": seed, "seconds": seconds}
        self.errors: list[str] = []
        # Self-test only: swap two doc_ids in every result the engine
        # returns, to show the oracle gate fails.
        self.corrupt = False
        # Wall time spent in the oracle; kept out of every timing.
        self.oracle_s = 0.0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def call(self, name: str, fn, spark: bool = True, ops: int = 1):
        """Run one engine call inside a span; returns (result, span).
        `ops` is how many operations it carries (queries in a batch)."""
        self.attempted += ops
        with self.tracer.span(name, spark=spark) as sp:
            try:
                out = fn()
            except Exception as exc:
                self.failed += max(ops, 1)
                self.errors.append(f"{name}: {exc!r}")
                traceback.print_exc(file=sys.stderr)
                raise OperationFailed(name) from exc
        return out, sp

    def expect(self, what: str, ok: bool, ops: int = 1) -> None:
        """Count a wrong engine output (a failed oracle check)."""
        if not ok:
            self.failed += ops
            self.errors.append(f"wrong result: {what}")

    def gate(self, got, want) -> None:
        """Oracle-check a result frame, one failure per mismatched query."""
        got_by = {int(q): f for q, f in got.groupby("query_id")}
        want_by = {int(q): f for q, f in want.groupby("query_id")}
        for qid in sorted(got_by.keys() | want_by.keys()):
            why = mismatch(got_by.get(qid, got.iloc[:0]),
                           want_by.get(qid, want.iloc[:0]))
            if why is not None:
                self.expect(f"query {qid}: {why}", False)

    @contextmanager
    def oracle(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.oracle_s += time.perf_counter() - t0

    @contextmanager
    def setup(self):
        """The set-up span; `setup_s` is its duration minus oracle time."""
        before = self.oracle_s
        with self.tracer.span("client.setup") as sp:
            yield sp
        self.sample("setup_s", sp.seconds - (self.oracle_s - before))

    def start(self, cores: int) -> None:
        with self.tracer.span("session.start"):
            self.spark = environment.start_spark(self.ws, cores)
        self.tracer.spark = self.spark

    def deadline(self) -> float:
        """When a window that starts now ends."""
        return time.perf_counter() + self.seconds

    @staticmethod
    def now() -> float:
        return time.perf_counter()


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0
