"""Benchmark harness: runs the engine's headline queries and prints
ONE JSON line {"metric", "value", "unit", "queries", "sf", "warmup"}.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all cores),
     SPARK_GRAFT_BENCH_WARMUP (default "adaptive").

Each query is forced end-to-end with the noop sink (full
computation, no driver-side result materialization cost). By
default each query runs adaptive passes until its runtime stops
improving by >20% (max 3) plus one final pass, every pass timed,
and records the MINIMUM — the steady-state floor, not
whole-stage-codegen compilation or C2 JIT warm-up. Min-of-passes
because the noise is one-sided: identical reruns of codegen-heavy
queries measured 3.4-10 s while the floor stayed put, so any
single designated "timed" pass tracks JIT/GC luck, not the query.
Set SPARK_GRAFT_BENCH_WARMUP=<int> for a fixed UNTIMED pass count
(0 = true cold) with one timed pass; the JSON reports which mode
ran.

Before ANY timing, a JIT pre-warm micro-runs the streaming-parity
and checkpoint machinery at SPARK_GRAFT_WARM_DIR (default
/root/testdata/sf0.001; set empty to disable) — the r7 snapshot
spread (152-180 s over six idle runs) traced to WHERE in the run
those paths first compiled, not to the queries (SCALE.md "snapshot
policy").
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def force(df) -> int:
    """Execute the full plan; return row count cheaply."""
    try:
        df.write.format("noop").mode("overwrite").save()
        return -1
    except Exception:  # noqa: BLE001 — noop sink unavailable: fall back
        return df.count()


def _previous_line_names() -> set[str]:
    """Query names of the last committed bench line: the
    ``parsed.queries`` keys of the highest-numbered BENCH_r<NN>.json
    next to this file (empty when there is none)."""
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        (int(m.group(1)), name)
        for name in os.listdir(here)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", name))
    ]
    if not rounds:
        return set()
    with open(os.path.join(here, max(rounds)[1])) as fh:
        return set(json.load(fh)["parsed"]["queries"])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from big_data_processing_spark import get_spark
    from big_data_processing_spark.plans.registry import SPECS

    spark = get_spark(app_name="bench")
    # Warm the JVM + file-listing caches so per-query numbers measure
    # the query, not first-touch overhead.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    warmup_env = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "adaptive")
    timings: dict[str, float] = {}

    # SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the suite to a named
    # subset — for targeted slope runs (e.g. pricing just a round's
    # new entries at sf1) when the full suite doesn't fit a
    # measurement window. Parsed BEFORE the warm builds so a subset
    # run doesn't pay (or record) build entries whose consumers
    # aren't requested. The emitted JSON is a partial artifact:
    # "only" records the restriction so it can't be mistaken for a
    # full-suite total.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    only = {q for q in only_env.split(",") if q} if only_env else None
    # Queries that read a session-memoized frame some build entry
    # below materializes: the build runs (and is timed) only when a
    # consumer is in the requested subset. Full runs pay all builds.
    build_consumers = {
        "doc_cluster_build": {
            "near_dup_clusters", "cluster_representatives",
        },
        "md5_minhash_build": {
            "minhash_near_dup_checked", "minhash_fastpath_audit",
            "streaming_near_dup_parity", "minhash_near_dup",
        },
        "pq_train_build": {
            "cosine_topk_pq", "cosine_topk_pq_rerank",
            "cosine_topk_ivfpq", "pq_recall_floor_audit",
        },
    }
    if only is not None:
        # a misspelled name would otherwise be silently skipped and
        # the partial artifact would look like a real measurement
        unknown = only - set(SPECS) - set(build_consumers)
        if unknown:
            raise SystemExit(
                f"bench: SPARK_GRAFT_BENCH_ONLY names not in the "
                f"registry: {sorted(unknown)}"
            )

    def build_wanted(build_name: str) -> bool:
        if only is None:
            return True
        return build_name in only or bool(build_consumers[build_name] & only)

    def hygiene() -> None:
        """Between-passes isolation: clear Dataset caches, free leaked
        localCheckpoint blocks (clearCache can't), and force BOTH
        collectors — Python first so py4j drops its JVM handles
        (broadcasts, DataFrames), then the JVM's. Without this,
        accumulated garbage from neighboring passes showed up as
        5-8× timing outliers on Arrow/broadcast-heavy queries
        (ann_recall_audit: 4.4 s clean vs 34 s under pressure)."""
        import gc

        spark.catalog.clearCache()
        release_leaked_checkpoints(spark, pinned_rdd_ids())
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    # The shared near-dup cluster frame (plans/doc_clusters.py) is
    # memoized per application, so its one-time materialization would
    # otherwise hide inside the first consumer's warmup pass and the
    # suite total would understate true cold cost. Time the cold
    # build as its OWN entry: the consuming queries
    # (near_dup_clusters / cluster_representatives) then honestly
    # report steady-state reads of the pinned frame.
    from big_data_processing_spark.operators.graph import (
        release_leaked_checkpoints,
    )
    from big_data_processing_spark.plans.doc_clusters import (
        doc_near_dup_clusters,
        pinned_rdd_ids,
    )

    # JIT pre-warm (r7 verdict #7): the ±8% run-to-run spread sat on
    # the checkpoint-heavy iterative and streaming-parity entries —
    # their first execution in a fresh JVM compiles the micro-batch
    # engine, state store, Python runner and localCheckpoint block
    # paths, and WHICH timed pass pays that varies per session. One
    # micro-run of each machinery family at the smallest sf
    # (seconds of work) moves the compilation BEFORE any timing, so
    # every timed entry — including the deliberately-cold
    # doc_cluster_build — starts from the same JIT state.
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001"
    )
    if warm_dir and os.path.isdir(warm_dir):
        t0 = time.perf_counter()
        for warm_q in ("stateful_sessions_parity", "streaming_join_parity"):
            try:
                force(SPECS[warm_q].fn(spark, warm_dir))
            except Exception as e:  # noqa: BLE001 — warm-up is best-effort
                print(f"bench: pre-warm {warm_q} failed: {e}",
                      file=sys.stderr)
        # Skip the doc-clusters pre-warm when it would populate the
        # very cache key the timed doc_cluster_build entry is about
        # to build (warm dir == benched dir, e.g. an sf0.001 bench):
        # otherwise the "deliberately cold" entry times a cache hit.
        if os.path.realpath(warm_dir) != os.path.realpath(sf_dir):
            try:
                doc_near_dup_clusters(spark, warm_dir)
            except Exception as e:  # noqa: BLE001
                print(f"bench: pre-warm doc_clusters failed: {e}",
                      file=sys.stderr)
        else:
            print("bench: skipping doc_clusters pre-warm "
                  "(warm dir == benched dir)", file=sys.stderr)
        hygiene()  # timing starts from a clean storage/GC state
        print(f"bench: jit pre-warm "
              f"{round(time.perf_counter() - t0, 3)}s at {warm_dir}",
              file=sys.stderr)

    if build_wanted("doc_cluster_build"):
        t0 = time.perf_counter()
        doc_near_dup_clusters(spark, sf_dir)  # eager checkpoint
        timings["doc_cluster_build"] = round(time.perf_counter() - t0, 3)
        print(f"bench: doc_cluster_build {timings['doc_cluster_build']}s "
              "(cold, memoized for consumers)", file=sys.stderr)

    # Same honesty rule for the md5 MinHash audit frames (r7): their
    # one-time materialization is timed as its own entry so
    # minhash_near_dup_checked reports steady-state reads.
    from big_data_processing_spark.plans.doc_clusters import (
        md5_gram_bits,
        md5_minhash_frames,
    )

    if build_wanted("md5_minhash_build"):
        t0 = time.perf_counter()
        md5_minhash_frames(spark, sf_dir)  # eager checkpoints
        md5_gram_bits(spark, sf_dir)  # memoized gram bitmaps
        timings["md5_minhash_build"] = round(time.perf_counter() - t0, 3)
        print(f"bench: md5_minhash_build {timings['md5_minhash_build']}s "
              "(cold, memoized for consumers)", file=sys.stderr)

    # Same rule for PQ/IVFPQ codebook training (r10: the first
    # PQ-family entry in a cold session absorbed training — 75.0 s
    # cold vs 9.7 s warm for ivfpq at sf1): train the registered
    # parameter sets once, timed as their own entry, so the PQ
    # queries report steady-state execution.
    from big_data_processing_spark.functions.similarity import (
        warm_pq_training,
    )
    from big_data_processing_spark.sources.catalog import load_table

    if build_wanted("pq_train_build"):
        t0 = time.perf_counter()
        warm_pq_training(load_table(spark, sf_dir, "embeddings"))
        timings["pq_train_build"] = round(time.perf_counter() - t0, 3)
        print(f"bench: pq_train_build {timings['pq_train_build']}s "
              "(cold, memoized for consumers)", file=sys.stderr)

    # fixed alphabetical execution order, independent of registry
    # insertion order, so per-query timings stay comparable across
    # rounds (JVM/JIT warm-state depends on position)
    for name in sorted(SPECS):
        spec = SPECS[name]
        if only is not None and name not in only:
            continue
        try:
            if warmup_env == "adaptive":
                # Every pass is timed and the MINIMUM is recorded:
                # C2-JIT/GC noise on codegen-heavy queries is
                # one-sided (a pass is only ever slower than steady
                # state, never faster), so min-of-passes is the
                # robust steady-state estimator — a single "timed"
                # pass measured 3.4-10 s across identical reruns of
                # minhash_near_dup while its floor stayed put.
                passes = []
                prev = None
                for _ in range(3):
                    t0 = time.perf_counter()
                    force(spec.fn(spark, sf_dir))
                    passes.append(time.perf_counter() - t0)
                    hygiene()
                    if prev is not None and passes[-1] >= 0.8 * prev:
                        break  # steady state: <20% improvement
                    prev = passes[-1]
                start = time.perf_counter()
                force(spec.fn(spark, sf_dir))
                passes.append(time.perf_counter() - start)
                timings[name] = round(min(passes), 3)
            else:
                for _ in range(int(warmup_env)):
                    force(spec.fn(spark, sf_dir))
                    hygiene()
                start = time.perf_counter()
                force(spec.fn(spark, sf_dir))
                timings[name] = round(time.perf_counter() - start, 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench: {name} failed: {e}", file=sys.stderr)
            continue
        print(f"bench: {name} {timings[name]}s", file=sys.stderr)
        # isolate queries: a query that persists intermediates must
        # not tax the ones after it with storage or GC pressure
        hygiene()

    total = round(sum(timings.values()), 3)

    # Full per-query detail goes to a sidecar file; the stdout JSON
    # line must stay SHORT — the driver locates it inside a bounded
    # tail window of captured output (BENCH_r02 failed to parse when
    # the line outgrew ~2000 chars), so cap it well under that.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as fh:
        detail = {"metric": "total_query_wall_time", "value": total,
                  "unit": "sec", "queries": timings, "sf": sf,
                  "warmup": warmup_env}
        if only is not None:
            detail["only"] = sorted(only)
        json.dump(detail, fh, indent=1)

    # same 3-dp precision as the sidecar and the total
    shown = {k: round(v, 3) for k, v in timings.items()}
    budget = 1400

    # Names printed in the previous round's committed one-line JSON
    # (the highest-numbered BENCH_r<NN>.json; the _c8 files are the
    # 8-core width runs). The cheapest-first eviction below made the
    # printed set depend on the current round's timings, so every
    # optimization round scrambled the driver's round-over-round
    # window: 10 now-fast queries fell out of the r11 line and PERF
    # reported them as dropped_from_bench (r11 VERDICT #2 — a
    # reporting artifact, not removal; the sidecar always carries
    # every entry). Pin the previous line's names: they are evicted
    # only after every non-pinned name is gone, so the comparison
    # window stays a superset of last round's as long as the budget
    # allows. This is a measurement-reporting fix only — timings,
    # sidecar, and the one-line contract are unchanged.
    _pinned_line = _previous_line_names()

    def line(q: dict) -> str:
        payload = {"metric": "total_query_wall_time", "value": total,
                   "unit": "sec", "queries": q, "sf": sf,
                   "warmup": warmup_env}
        if only is not None:
            payload["only_subset"] = len(only)
        omitted = len(timings) - len(q)
        if omitted:
            payload["queries_omitted"] = omitted
            payload["detail"] = "BENCH_DETAIL.json"
        return json.dumps(payload, separators=(",", ":"))

    # Drop the cheapest NON-PINNED queries first until the line
    # fits; pinned (previous-round) names go last, cheapest first,
    # only if the budget still overflows.
    for name in sorted(
        shown, key=lambda n: (n in _pinned_line, shown[n])
    ):
        if len(line(shown)) <= budget:
            break
        del shown[name]
    print(line(shown))


if __name__ == "__main__":
    main()
