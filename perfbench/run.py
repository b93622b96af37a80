"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 20 --trace 0

The engine is driven only through its public functions.  The run
generates seeded inputs under ``.perfbench/`` in the checkout, starts
and warms a session (timed as ``setup_s``), computes the expected
answers with DuckDB (not timed), then runs whole passes of the
workload's operations until at least ``--seconds`` of operation time
have passed, checking every output outside the timed intervals.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run first repeats itself
untraced in a child process as the reference, then runs with spans and
the Spark event log on, and reports the per-layer metrics, including
the tracing overhead against the reference.  A traced run also writes
its spans, self times and per-operation counters to
``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = ROOT / ".perfbench"


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def size_for_host() -> dict[str, str]:
    """One local executor per core, and a driver heap of a quarter of
    host memory (the engine's 48g default is sized for larger hosts)."""
    with open("/proc/meminfo") as fh:
        mem_kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(48, mem_kib // (4 * 1024 * 1024)))}g",
    }
    os.environ.update(env)
    return env


@dataclass
class OpRecord:
    op_id: str
    name: str
    latency_s: float
    latency_sample: bool
    error: str | None
    extras: dict = field(default_factory=dict)
    peak_rss_mb: float = 0.0  # highest resident memory during the operation


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def run_reference(args) -> dict:
    """The same run untraced, in a child process: the baseline for the
    tracing overhead."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True, timeout=170)
    return json.loads(out.stdout.strip().splitlines()[-1])


def descendants(pid: int) -> list[int]:
    from perfbench.tracing import child_pids

    out, todo = [], [pid]
    while todo:
        kids = child_pids(todo.pop())
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except FileNotFoundError:
        return False
    return state != "Z"


def stop_processes(pids: list[int], timeout_s: float = 20.0) -> None:
    """Terminate the stopped session's JVM and Python workers, and wait
    until each has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while any(map(_alive, pids)) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not any(map(_alive, pids)):
            break
    for pid in pids:  # reap the ones that are our children
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def collect_garbage(ctx) -> None:
    """A Python and a full JVM collection.  The JVM one goes through the
    public SQL function ``java_method``; after it the JVM hands the heap
    it no longer needs back to the OS."""
    gc.collect()
    if ctx.group_jobs:
        ctx.spark.sparkContext.setJobGroup("harness", "collect")
    ctx.spark.sql("SELECT java_method('java.lang.System', 'gc')").collect()


def measure(wl, args, work: Path, excluded_s: float) -> dict:
    from perfbench.tracing import PeakRss, Tracer, settled_rss_mb
    from perfbench.workloads import Context

    tracer = Tracer(bool(args.trace))
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work} -XX:-UsePerfData",
    }
    if args.trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    with tracer.span("run", op_id="run"):
        with tracer.span("setup", op_id="setup"):
            from big_data_processing_spark import get_spark

            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
            start_s = time.perf_counter() - t0
            with tracer.span("first_scan"):
                spark.read.parquet(str(wl.data / f"{wl.primary}.parquet")).count()
            scan_s = time.perf_counter() - t0 - start_s
            ctx = Context(spark, tracer, group_jobs=bool(args.trace))
            with tracer.span("warmup"):
                wl.warmup(ctx)
            warmup_s = time.perf_counter() - t0 - start_s - scan_s
            spark.catalog.clearCache()
            gc.collect()
        setup_s = process_age_s() - excluded_s

        if wl.expected is None:
            wl.expect()  # not timed: between set-up and the measured phase

        pids = [os.getpid(), *[p for p in descendants(os.getpid()) if _comm(p) == "java"]]
        records: list[OpRecord] = []
        resident: list[float] = []
        op_time = passes = 0
        while op_time < args.seconds:
            for op in wl.ops():
                spark.catalog.clearCache()
                gc.collect()
                with PeakRss(pids) as rss:
                    rec = run_op(ctx, op, f"{len(records):03d}:{op.name}")
                rec.peak_rss_mb = rss.peak_mb
                records.append(rec)
                op_time += rec.latency_s
            # What the pass leaves behind: every pin and memo it made, and
            # the last operation's cached data.  The first collection lets
            # Spark's ContextCleaner find the broadcasts and shuffles the
            # pass dropped; the pause lets it, and any unpersist the pass
            # issued (neither blocks), remove their blocks; the second
            # collection frees them.
            collect_garbage(ctx)
            time.sleep(0.25)
            collect_garbage(ctx)
            resident.append(settled_rss_mb(pids))
            passes += 1
        session_pids = descendants(os.getpid())
        spark.stop()
    stop_processes(session_pids)
    return {"setup_s": setup_s, "start_s": start_s, "scan_s": scan_s, "warmup_s": warmup_s,
            "records": records,
            "passes": passes, "op_time": op_time, "resident_mb": resident,
            "tracer": tracer}


def _comm(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/comm").read_text().strip()
    except FileNotFoundError:
        return ""


def run_op(ctx, op, op_id: str) -> OpRecord:
    ctx.extras = {}
    error = None
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(op.name, op_id=op_id):
            check = op.run(ctx, op_id)
    except Exception as e:  # noqa: BLE001 -- a failed operation is counted, not fatal
        traceback.print_exc()
        error = f"raised {type(e).__name__}: {e}"
    latency = time.perf_counter() - t0
    if ctx.group_jobs:
        ctx.spark.sparkContext.setJobGroup("harness", "checks")
    if error is None:
        try:
            error = check()
        except Exception as e:  # noqa: BLE001
            traceback.print_exc()
            error = f"check raised {type(e).__name__}: {e}"
    if error:
        print(f"perfbench: {op_id} failed: {error}", file=sys.stderr)
    return OpRecord(op_id, op.name, latency, op.latency_sample, error, dict(ctx.extras))


def end_to_end(wl, m: dict) -> dict[str, tuple[float, str, int]]:
    """{metric: (value, unit, samples)}: every workload's end-to-end
    metrics followed by the workload's own."""
    recs = m["records"]
    sampled = [r for r in recs if r.latency_sample]
    lat = [r.latency_s for r in sampled if r.error is None] or [r.latency_s for r in sampled]
    failed = sum(1 for r in recs if r.error)
    out = {
        "setup_s": (m["setup_s"], "s", 1),
        "latency_p50_s": (statistics.median(lat), "s", len(lat)),
        # primary-table rows per second over whole passes of the workload
        "rows_per_s": (wl.rows[wl.primary] * m["passes"] / m["op_time"], "1/s", m["passes"]),
        # The highest resident memory left after a pass, its garbage
        # collected.  The peak during an operation mostly measures how far
        # the JVM's adaptive heap sizing grew the heap, which follows the
        # host's load: on a shared 4-core host it spread by up to a third
        # from run to run.  It is printed as op_peak_rss_mb.
        "peak_rss_mb": (max(m["resident_mb"]), "MB", m["passes"]),
        "latency_p90_s": (quantile(lat, 0.9), "s", len(lat)),
        "failed_op_frac": (failed / len(recs), "ratio", len(recs)),
        "op_peak_rss_mb": (statistics.median(r.peak_rss_mb for r in recs), "MB", len(recs)),
    }
    amp = [r.extras["write_amp"] for r in recs if "write_amp" in r.extras]
    if amp:
        out["write_amp"] = (statistics.median(amp), "ratio", len(amp))
    cold = [r.latency_s for r in recs if r.name == "cold_build" and r.error is None]
    if cold:
        out["cold_build_s"] = (statistics.median(cold), "s", len(cold))
    return out


# the end-to-end metrics BENCHMARK.json bounds: those every workload has
E2E_METRICS = ("setup_s", "latency_p50_s", "rows_per_s", "peak_rss_mb")


def per_layer(m: dict, groups: dict, reference: dict, e2e: dict) -> dict[str, tuple[float, str]]:
    """Each layer's spans and Spark counters, as means per operation."""
    from perfbench.tracing import self_times

    spans, recs = m["tracer"].spans, m["records"]
    selfs = self_times(spans)

    def ids(*names: str) -> set[str]:
        return {r.op_id for r in recs if not names or r.name in names}

    measured = ids()
    builds = ids("cold_build")
    pipelines = ids("run_pipeline")
    forced = measured - builds  # operations that end in a forcing action
    queries = forced - pipelines

    def per_op(total: float, ops: set[str]) -> float:
        return total / len(ops) if ops else 0.0

    def span_s(ops: set[str], pred, self_only: bool = False) -> float:
        return per_op(sum(selfs[s.span_id] if self_only else s.duration
                          for s in spans if s.op_id in ops and pred(s.name)), ops)

    def counter(ops: set[str], attr: str, phases=("build", "action", "pipeline", "cold_build")):
        total = 0.0
        for key, g in groups.items():
            op_id, _, phase = key.partition("|")
            if op_id in ops and phase in phases:
                v = getattr(g, attr)
                total += len(v) if isinstance(v, set) else v
        return per_op(total, ops)

    exec_phases = ("action", "pipeline")
    out = {
        "session.start_s": (m["start_s"], "s"),
        "plans.build_s": (span_s(queries, lambda n: n == "build"), "s"),
        "plans.build_jobs": (counter(queries, "jobs", ("build",)), "count"),
        "exec.action_s": (span_s(forced, lambda n: n in exec_phases), "s"),
        "exec.jobs": (counter(forced, "jobs", exec_phases), "count"),
        "exec.stages": (counter(forced, "stages", exec_phases), "count"),
        "exec.tasks": (counter(forced, "tasks", exec_phases), "count"),
        "doc_clusters.build_s": (span_s(builds, lambda n: n == "doc_clusters.build"), "s"),
        "doc_clusters.md5_build_s": (span_s(builds, lambda n: n == "doc_clusters.md5_build"), "s"),
        "validation.quality_s": (span_s(pipelines, lambda n: n == "stage:quality_metrics"), "s"),
        "validation.schema_s": (span_s(pipelines, lambda n: n == "stage:schema_gate"), "s"),
        "sources.write_s": (span_s(pipelines, lambda n: n.startswith("stage:sink:")), "s"),
        "sources.bytes_written": (per_op(sum(r.extras.get("bytes_written", 0) for r in recs),
                                         pipelines), "bytes"),
        "sources.write_amp": (e2e["write_amp"][0] if "write_amp" in e2e else 0.0, "ratio"),
        "pipeline.clean_count_s": (span_s(pipelines, lambda n: n == "stage:clean_count"), "s"),
        "pipeline.self_s": (span_s(pipelines, lambda n: n == "pipeline", self_only=True), "s"),
    }
    for attr, unit in (("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
                       ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                       ("spill_bytes", "bytes"), ("stored_block_bytes", "bytes"),
                       ("failed_tasks", "count")):
        out[f"spark.{attr}"] = (counter(measured, attr), unit)
    # task-duration shape of each operation, averaged over operations
    tasks: dict[str, list[float]] = {}
    for key, g in groups.items():
        op_id = key.partition("|")[0]
        if op_id in measured:
            tasks.setdefault(op_id, []).extend(g.task_s)
    shapes = [(max(v), statistics.median(v)) for v in tasks.values() if v]
    out["spark.task_max_s"] = (per_op(sum(a for a, _ in shapes), measured), "s")
    out["spark.task_median_s"] = (per_op(sum(b for _, b in shapes), measured), "s")
    # extra time per pass of the traced run over the untraced reference
    ref = reference["metrics"]["rows_per_s"]["value"]
    out["trace.overhead_frac"] = (ref / e2e["rows_per_s"][0] - 1, "ratio")
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "big_data_processing_spark").is_dir():
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host = size_for_host()
    work = BENCH_DIR / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    cwd = os.getcwd()
    os.chdir(work)  # files a session drops in its working directory land here
    reference = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        excluded = time.perf_counter() - t0
        if args.trace:
            # expected answers first, so the reference run finds any it
            # caches; the engine import they need stays in set-up time
            import big_data_processing_spark.plans.registry  # noqa: F401
            t0 = time.perf_counter()
            wl.expect()
            reference = run_reference(args)
            excluded += time.perf_counter() - t0
        m = measure(wl, args, work, excluded)
        groups = {}
        if args.trace:
            from perfbench import eventlog

            groups = eventlog.parse_dir(work / "eventlog")
    finally:
        stop_processes(descendants(os.getpid()))  # left running only if the run failed
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(wl, m)
    recs = m["records"]
    failed = sum(1 for r in recs if r.error)
    print(f"perfbench: {args.workload} seed={args.seed} cpus={host['SPARK_GRAFT_CPUS']} "
          f"driver_mem={host['SPARK_GRAFT_DRIVER_MEM']} passes={m['passes']} "
          f"ops={len(recs)} failed={failed}")
    print(f"perfbench:   setup: session {m['start_s']:.3f} s, first scan {m['scan_s']:.3f} s, "
          f"warm-up {m['warmup_s']:.3f} s")
    for r in recs:
        print(f"perfbench:   op {r.op_id} {r.latency_s:.3f} s, peak {r.peak_rss_mb:.0f} MB, "
              f"{r.error or 'ok'}")
    print("perfbench:   resident after each pass: "
          + ", ".join(f"{v:.0f} MB" for v in m["resident_mb"]))
    for name, (value, unit, n) in e2e.items():
        print(f"perfbench:   {name} = {value:.6g} {unit} (n={n})")
    if args.trace:
        layers = per_layer(m, groups, reference, e2e)
        for name, (value, unit) in layers.items():
            print(f"perfbench:   {name} = {value:.6g} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        write_trace(args, host, e2e, reference, layers, m, groups)
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in E2E_METRICS}
    print(json.dumps({"correct": failed == 0, "attempted": len(recs), "failed": failed,
                      "metrics": metrics}))
    return 0


def write_trace(args, host, e2e, reference, layers, m, groups) -> None:
    out = BENCH_DIR / "traces" / f"{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    ref = reference["metrics"]
    doc = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "host": host,
        "end_to_end": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()},
        "untraced_reference": ref,
        "tracing_overhead": {k: e2e[k][0] / ref[k]["value"] - 1 for k in ref if k in e2e},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "ops": [{"op_id": r.op_id, "name": r.name, "latency_s": r.latency_s,
                 "peak_rss_mb": r.peak_rss_mb,
                 "error": r.error, **r.extras} for r in m["records"]],
        "resident_after_pass_mb": m["resident_mb"],
        "job_groups": {k: g.summary() for k, g in groups.items()},
        "spans": m["tracer"].export(),
    }
    out.write_text(json.dumps(doc, indent=1))
    print(f"perfbench: trace written to {out.relative_to(ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
