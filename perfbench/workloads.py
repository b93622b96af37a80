"""The benchmark's workloads.  Each is a closed loop with one client.

A workload generates its inputs, warms the session up inside the timed
set-up, computes its expected answers outside any timed interval, and
hands out one pass of operations at a time.  An operation is one unit a
user waits for -- one pipeline run, one query built and forced, or the
first-call builds on an unseen corpus.  Running it returns a check that
is called after the timed interval and gives the reason the output is
wrong, or None.

``perfbench.oracle`` (DuckDB) is imported where it is used, so that its
import stays out of the timed set-up.
"""

from __future__ import annotations

import shutil
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Iterator

from big_data_processing_spark import run_pipeline
from big_data_processing_spark.monitoring import PipelineMonitor

from perfbench.inputs import generate, input_bytes, source_dir
from perfbench.tracing import Tracer

Check = Callable[[], "str | None"]


@dataclass
class Context:
    spark: object
    tracer: Tracer
    group_jobs: bool
    # per-operation measurements reported next to its latency
    extras: dict = field(default_factory=dict)

    @contextmanager
    def phase(self, name: str, op_id: str) -> Iterator[None]:
        """A span around one layer call.  In a traced run its Spark jobs
        are tagged ``<op id>|<name>`` for the event log."""
        if self.group_jobs:
            self.spark.sparkContext.setJobGroup(f"{op_id}|{name}", name)
        with self.tracer.span(name):
            yield


@dataclass
class Op:
    name: str
    run: Callable[[Context, str], Check]
    latency_sample: bool = True


class SpanMonitor(PipelineMonitor):
    """The pipeline's public monitor hook, also recording each stage as
    a span."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self.tracer = tracer

    @contextmanager
    def stage(self, name: str):
        with self.tracer.span(f"stage:{name}"), super().stage(name) as rec:
            yield rec


class Workload:
    name = ""
    scale = ""  # testdata scale factor the inputs are permuted from
    tables: list[str] = []
    primary = ""  # table whose rows define rows_per_s

    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.data = work / "inputs"
        self.rows: dict[str, int] = {}
        self.expected = None

    def prepare(self) -> None:
        """Generate the inputs (not timed)."""
        self.rows = generate(source_dir(self.scale), self.data, self.tables, self.seed)

    def warmup(self, ctx: Context) -> None:
        """Untimed work inside set-up that brings the session to steady state."""

    def expect(self) -> None:
        """Compute expected answers (not timed)."""

    def ops(self) -> list[Op]:
        """One pass of operations."""
        raise NotImplementedError


class EtlPipeline(Workload):
    name = "etl_pipeline"
    scale = "0.1"  # 600k rows: stages long enough that scheduling jitter averages out
    tables = ["lineitem"]
    primary = "lineitem"

    def prepare(self) -> None:
        super().prepare()
        self.in_bytes = input_bytes(self.data, self.tables)

    def _pipeline(self, ctx: Context, out: Path, monitor=None):
        return run_pipeline(ctx.spark, str(self.data), str(out), monitor=monitor)

    def warmup(self, ctx: Context) -> None:
        # two runs: the first one in a fresh JVM is several times slower
        # than steady state, the second still compiles
        for i in range(2):
            out = self.work / f"out-warmup-{i}"
            self._pipeline(ctx, out)
            shutil.rmtree(out)

    def expect(self) -> None:
        from big_data_processing_spark.plans.parity_queries import CLEAN_WHERE
        from perfbench import oracle

        con = oracle.connect(self.data, self.tables)
        self.expected = oracle.pipeline_expected(con, CLEAN_WHERE)
        con.close()

    def _run(self, ctx: Context, op_id: str) -> Check:
        from perfbench import oracle

        out = self.work / f"out-{op_id.partition(':')[0]}"
        monitor = SpanMonitor(ctx.tracer) if ctx.tracer.enabled else None
        with ctx.phase("pipeline", op_id):
            result = self._pipeline(ctx, out, monitor)

        def check() -> str | None:
            written = sum(p.stat().st_size for p in out.rglob("*") if p.is_file())
            ctx.extras["bytes_written"] = written
            ctx.extras["write_amp"] = written / self.in_bytes
            try:
                return oracle.check_pipeline(result, self.expected)
            finally:
                shutil.rmtree(out)

        return check

    def ops(self) -> list[Op]:
        return [Op("run_pipeline", self._run)]


# Consumers of the memoized near-dup frames (plans/doc_clusters.py) and
# the dedup kernels that ROADMAP directions 2-4 act on, over the same
# corpus.
NEAR_DUP = [
    "near_dup_clusters", "cluster_representatives", "minhash_near_dup",
    "minhash_fastpath_audit", "simhash_near_dup", "ngram_jaccard_pairs",
    "ngram_jaccard_capped", "semantic_dedup", "dup_span_removal",
    "embedding_near_dup_ivf",
]

# Row counts of the registered queries that have no oracle, on the
# sf0.01 corpus.  A row-order permutation must not change them.
ROWS_ONLY_EXPECTED = {"minhash_near_dup": 25, "simhash_near_dup": 17,
                      "embedding_near_dup_ivf": 57}


class NearDupDedup(Workload):
    name = "near_dup_dedup"
    # the 500-document corpus: at sf0.1 (5000 documents) the cold build
    # alone takes about 25 s on 4 cores, too long for one run
    scale = "0.01"
    tables = ["documents", "embeddings"]
    primary = "documents"
    built = False

    def expect(self) -> None:
        from big_data_processing_spark.plans.registry import SPECS
        from perfbench import oracle

        self.expected = oracle.expectations(
            {q: SPECS[q].oracle for q in NEAR_DUP}, ROWS_ONLY_EXPECTED,
            self.data, self.tables, self.work.parent / "oracle-cache")

    def _cold_build(self, ctx: Context, op_id: str) -> Check:
        from big_data_processing_spark.plans.doc_clusters import (
            doc_near_dup_clusters, md5_gram_bits, md5_minhash_frames)

        data = str(self.data)
        with ctx.phase("cold_build", op_id):
            with ctx.tracer.span("doc_clusters.build"):
                doc_near_dup_clusters(ctx.spark, data)
            with ctx.tracer.span("doc_clusters.md5_build"):
                md5_minhash_frames(ctx.spark, data)
                md5_gram_bits(ctx.spark, data)
        return lambda: None  # checked through its consumers

    def _query(self, query: str) -> Callable[[Context, str], Check]:
        from big_data_processing_spark.plans.registry import SPECS

        def run(ctx: Context, op_id: str) -> Check:
            with ctx.phase("build", op_id):
                df = SPECS[query].fn(ctx.spark, str(self.data))
            with ctx.phase("action", op_id):
                got = df.toPandas()
            return lambda: self.expected[query].check(got)

        return run

    def ops(self) -> list[Op]:
        # a fixed order: each consumer's first call pays its own JIT and
        # Python-worker warm-up, so a shuffled order would move that cost
        # between consumers from seed to seed
        ops = [Op(q, self._query(q)) for q in NEAR_DUP]
        if not self.built:
            # the session's first call on this corpus: every build misses
            self.built = True
            ops.insert(0, Op("cold_build", self._cold_build, latency_sample=False))
        return ops


WORKLOADS = {w.name: w for w in (EtlPipeline, NearDupDedup)}
