"""KG-build benchmark: one workload per call, end-to-end metrics with
tracing off (``--trace 0``) or per-layer metrics from a traced run
(``--trace 1``).

    python3 perfbench/run.py --workload resume_corpus --seed 1 --seconds 12 --trace 0

Run from the root of a checkout that holds the ``kg`` package. The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; earlier ``perfbench.*`` lines carry the
environment record and the raw samples. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import ROOT, WORK, RssSampler, Session, emit  # noqa: E402


# every end-to-end metric of a run is a median over at least this many
# operations
MIN_OPS = 2
# a run must end within 180 s; the traced run skips its one-core session
# when that session is not expected to finish within this many seconds of
# the process start, leaving the rest for teardown and the record
TRACE_DEADLINE_S = 165
START = time.perf_counter()


def summary(values: list[float]) -> dict:
    """Median, the highest percentile with at least ten samples beyond
    it (none below 50 samples), and the sample count."""
    out = {"n": len(values), "median": statistics.median(values) if values else None}
    for p in (99, 95, 90, 80):
        if len(values) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = sorted(values)[math.ceil(len(values) * p / 100) - 1]
            break
    return out


class Tally:
    """Attempts and failures. An operation that raised has no time; one
    whose output check failed is still timed, and the result reads
    ``correct: false``."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, wl, op) -> bool:
        """Verify ``op``'s output, then delete it. Each attempt with an
        error counts once, however many checks it failed."""
        self.attempted += wl.items(op)
        errors = wl.verify(op)
        wl.cleanup(op)
        self.failed += len({attempt for attempt, _ in errors})
        self.errors.extend(f"{attempt}: {msg}" for attempt, msg in errors)
        return not errors

    def raised(self, wl, exc: BaseException) -> None:
        self.attempted += wl.items(None)
        self.failed += wl.items(None)
        self.errors.append("".join(traceback.format_exception_only(exc)).strip())


def warm_up(wl, spark, tag: str, count: int | None = None) -> float:
    """Run ``count`` (default ``wl.warmups``) untimed operations; return
    their total wall."""
    t0 = time.perf_counter()
    for i in range(wl.warmups if count is None else count):
        wl.cleanup(wl.op(spark, f"{tag}{i}"))
    return time.perf_counter() - t0


def collect_garbage(spark) -> None:
    """Full JVM collection between operations, outside the timed window,
    so an operation does not pay for its predecessor's garbage (the same
    hygiene bench.py applies before each timed pipeline run)."""
    spark._jvm.System.gc()


def timed_run(wl, cores: int, seconds: float) -> tuple[dict, Tally, dict]:
    """Boot a session and warm it up (``setup_s``), then start operations
    until ``seconds`` have passed and at least ``MIN_OPS`` have run. Every
    operation's output is checked after its timed window."""
    tally = Tally()
    builds, latency, rss, rows = [], [], [], []
    with Session(cores) as sess:
        setup_s = sess.boot_s + warm_up(wl, sess.spark, "warm")
        start = time.perf_counter()
        n_ops = 0
        while n_ops < MIN_OPS or time.perf_counter() - start < seconds:
            n_ops += 1
            collect_garbage(sess.spark)
            try:
                with RssSampler(sess.jvm_pid) as sampler:
                    op = wl.op(sess.spark, str(tally.attempted))
            except Exception as exc:  # a failed operation is counted, not fatal
                tally.raised(wl, exc)
                continue
            tally.check(wl, op)
            builds.append(op.build_s)
            latency.extend(op.latency_s)
            rss.append(sampler.peak_mb)
            rows.append(op.rows)
    if not builds:
        raise RuntimeError("every operation raised: " + "; ".join(tally.errors[:3]))
    build_s = statistics.median(builds)
    metrics = {
        "setup_s": (setup_s, "s"),
        "build_s": (build_s, "s"),
        "rows_per_s": (statistics.median(r / b for r, b in zip(rows, builds)), "1/s"),
        "latency_ms": (1000 * statistics.median(latency), "ms"),
        "peak_rss_mb": (statistics.median(rss), "MB"),
    }
    detail = {
        "setup_s": setup_s,
        "build_s": summary(builds),
        "latency_ms": summary([1000 * x for x in latency]),
        "peak_rss_mb": summary(rss),
        "rows": rows[0],
        "samples": {"build_s": builds, "latency_s": latency},
    }
    return metrics, tally, detail


def trace_run(wl, cores: int, seconds: float) -> tuple[dict, Tally, dict]:
    """Two sessions. (B) With Spark's event log on: a warm-up, a plain
    operation, an operation under job groups and layer wrappers, a second
    plain operation, then the workload's forced prefixes. (C) If
    ``wl.scaling_pair``, a warm-up and one plain operation on one core,
    also with the event log on, so both sides of the scaling pair (B's
    first plain operation and C's) run under one configuration. Each side
    is a single operation. A fixed protocol: ``seconds`` does not change
    it."""
    import tracing

    tally = Tally()

    def checked(spark, tag, tracer=None):
        collect_garbage(spark)
        try:
            return wl.op(spark, tag, tracer)
        except Exception as exc:  # a failed operation is counted, not fatal
            tally.raised(wl, exc)
            return None

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    eventlog = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    }

    def plain_op(tag):
        with tracer.group("untraced"):
            op = checked(b.spark, tag)
            if op is None or not tally.check(wl, op):
                raise RuntimeError("plain operation failed: " + tally.errors[-1])
        return op

    with Session(cores, extra=eventlog) as b:
        tracer = tracing.Tracer(b.spark)
        with tracer.group("untraced"):
            boot_s, warm_s = b.boot_s, warm_up(wl, b.spark, "B-warm")
        plain = plain_op("plain")
        tracing.instrument_pipeline(tracer)
        try:
            t0 = time.perf_counter()
            with RssSampler(b.jvm_pid) as sampler:
                traced = checked(b.spark, "traced", tracer)
            traced_wall = time.perf_counter() - t0
        finally:
            tracer.restore()
        if traced is None:
            raise RuntimeError("traced operation failed: " + tally.errors[-1])
        with tracer.group("count"):
            counts = {
                name: sum(df.count() for df in tracer.results.get(name, []))
                for name in ("canonicalize", "canonicalize.sim")
            }
        files = sum(f.endswith(".parquet") for _, _, fs in os.walk(traced.out) for f in fs)
        tally.check(wl, traced)
        # operation times still fall over a session's first operations; a
        # plain operation on each side of the traced one cancels that drift
        plain_after = plain_op("plain-after")
        prefixes = wl.prefixes(b.spark, tracer)
        app_id = b.spark.sparkContext.applicationId
    stats = tracing.reduce_events(tracing.read_events(log_dir, app_id))

    untraced = (plain.build_s + plain_after.build_s) / 2
    traced_build = traced.build_s
    speedup = one_core = 0.0
    # a one-core session costs about a boot plus four local[nproc] operations
    one_core_est = time.perf_counter() - START + boot_s + 4 * plain.build_s
    skipped = wl.scaling_pair and one_core_est > TRACE_DEADLINE_S
    if wl.scaling_pair and not skipped:
        with Session(1, extra=eventlog) as c:
            warm_up(wl, c.spark, "C-warm", count=1)
            op = checked(c.spark, "C")
            if op is None or not tally.check(wl, op):
                raise RuntimeError("one-core operation failed: " + tally.errors[-1])
        one_core = op.build_s
        # both sides are the first operation after one warm-up
        speedup = one_core / plain.build_s
    layers = layer_metrics(
        wl, stats, tracer, prefixes, counts, files, traced_wall, sampler.cpu_s,
        traced.latency_s, cores,
    )
    layers.update(
        {
            "session.boot_s": (boot_s, "s"),
            "session.warm_s": (warm_s, "s"),
            "trace.overhead_pct": (100 * (traced_build - untraced) / untraced, "%"),
            "trace.untraced_build_s": (untraced, "s"),
            "trace.traced_build_s": (traced_build, "s"),
            "trace.peak_rss_mb": (sampler.peak_mb, "MB"),
            "scaling.speedup_1to4": (speedup, "x"),
            "scaling.eff_1to4": (speedup / cores, "ratio"),
        }
    )
    detail = {
        "one_core_build_s": one_core,
        "scaling_skipped": (
            f"the one-core session would end about {one_core_est:.0f} s after start"
            if skipped else None
        ),
        "groups": {k: v.jobs for k, v in stats.items()},
        "note": "scaling pair: one plain operation each at local[1] and local[nproc], "
        "both with the event log on, on the host that ran it",
    }
    return layers, tally, detail


def layer_metrics(
    wl, stats, tracer, prefixes, counts, files, traced_wall, tree_cpu_s,
    traced_latency, cores,
) -> dict:
    import tracing

    walls = tracer.walls
    pre = prefixes["walls"]
    fused = tracing.merge(stats, {"fused"})
    mat = tracing.merge(stats, {"materialize.stages", "materialize.edges", "materialize.nodes"})
    canon = tracing.merge(stats, {"canonicalize", "canonicalize.sim"})
    traced = tracing.merge(
        stats, lambda g: g not in ("untraced", "fused", "link", "count", "none")
    )
    fused_s = pre.get("fused", 0.0)
    link_s = max(0.0, pre.get("link", 0.0) - fused_s)
    canon_s = walls.get("canonicalize", 0.0)
    stages_edges = walls.get("materialize.stages", 0.0) + walls.get("materialize.edges", 0.0)
    mat_edges = max(0.0, stages_edges - pre.get("link", 0.0)) if stages_edges else 0.0
    mat_nodes = walls.get("materialize.nodes", 0.0)
    rows_out = sum(v for k, v in fused.rows_out.items() if k.startswith("MapIn"))
    m = {
        "fused.wall_s": (fused_s, "s"),
        "fused.rows_out": (rows_out, "count"),
        "fused.py_bytes_in": (fused.py.get("py_bytes_in", 0), "bytes"),
        "fused.py_bytes_out": (fused.py.get("py_bytes_out", 0), "bytes"),
        "fused.py_run_s": (fused.py.get("py_run_ms", 0) / 1e3, "s"),
        "fused.py_init_s": (fused.py.get("py_start_ms", 0) / 1e3, "s"),
        "fused.tasks": (fused.tasks, "count"),
        "fused.task_skew": (fused.task_skew, "ratio"),
        "fused.cpu_s": (fused.cpu_s, "s"),
        "fused.gc_s": (fused.gc_s, "s"),
        "link.wall_s": (link_s, "s"),
        "link.exchanges": (prefixes["link_exchanges"], "count"),
        "canonicalize.wall_s": (canon_s, "s"),
        "canonicalize.surfaces": (counts.get("canonicalize", 0), "count"),
        "canonicalize.sim_edges": (counts.get("canonicalize.sim", 0), "count"),
        "canonicalize.jobs": (canon.jobs, "count"),
        "materialize.edges_s": (mat_edges, "s"),
        "materialize.nodes_s": (mat_nodes, "s"),
        "materialize.shuffle_write_bytes": (mat.shuffle_write_bytes, "bytes"),
        "materialize.shuffle_read_bytes": (mat.shuffle_read_bytes, "bytes"),
        "materialize.spill_bytes": (mat.spill_bytes, "bytes"),
        "materialize.write_tasks": (mat.write_tasks, "count"),
        "materialize.task_skew": (mat.skew(mat.write_task_ms), "ratio"),
        "materialize.files": (files if stages_edges else 0, "count"),
        "materialize.bytes_written": (mat.bytes_written, "bytes"),
        "manifest.commits": (tracer.calls.get("manifest.commit", 0), "count"),
        "manifest.commit_s": (walls.get("manifest.commit", 0.0), "s"),
        "manifest.lookup_s": (walls.get("manifest.lookup", 0.0), "s"),
        "manifest.groups_skipped": (sum(tracer.results.get("manifest.lookup", [])), "count"),
        "simsearch.train_s": (walls.get("simsearch.train", 0.0), "s"),
        "simsearch.index_s": (walls.get("simsearch.index", 0.0), "s"),
        "simsearch.train_jobs": (stats["simsearch.train"].jobs, "count"),
        "simsearch.query_s": (
            statistics.median(traced_latency) if "simsearch.query" in walls else 0.0,
            "s",
        ),
        "spark.jobs": (traced.jobs, "count"),
        "spark.tasks": (traced.tasks, "count"),
        "spark.failed_tasks": (traced.failed_tasks, "count"),
        "spark.cpu_util": (tree_cpu_s / (traced_wall * cores), "ratio"),
        "spark.gc_s": (traced.gc_s, "s"),
    }
    layer_sum = (
        fused_s + link_s + canon_s + mat_edges + mat_nodes
        + walls.get("simsearch.train", 0.0) + walls.get("simsearch.index", 0.0)
    )
    m["trace.layer_sum_s"] = (layer_sum, "s")
    return m


def main(argv: list[str] | None = None) -> int:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    harness.prepare_env()
    import corpus

    cores = len(os.sched_getaffinity(0))
    before = harness.stat_snapshot()
    sf_dir = corpus.sf_dir()
    wl = workloads.WORKLOADS[args.workload](sf_dir, args.seed)
    run = trace_run if args.trace else timed_run
    metrics, tally, detail = run(wl, cores, args.seconds)
    after = harness.stat_snapshot()

    env = harness.environment(cores)
    env.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        cpu_calibration_s={"before": before["cpu_calibration_s"], "after": after["cpu_calibration_s"]},
        steal_pct=harness.steal_pct(before, after),
    )
    emit("env", env)
    emit("detail", {**detail, "errors": tally.errors[:20]})
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "kg")):
        print(f"perfbench: no kg package under {ROOT}; run from a full checkout", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
