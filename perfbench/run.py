#!/usr/bin/env python3
"""Benchmark of the lambda path: model refresh, the speed layer, and the
corpus dedup queries.

Usage, from the repository root:

    python3 perfbench/run.py --workload batch_refresh --seed 1 --seconds 10 --trace 0

Generates its inputs from ``--seed`` (``gen.py``), starts a session on
``local[<cores>]``, runs the workload's set-up, measures for ``--seconds``,
checks the outputs against the program's DuckDB oracles (``gates.py``)
and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones from spans, the
Spark event log and the streaming progress listener (``tracing.py``).
The line before it carries the input sizes and sample counts.

Exits non-zero without a result when the program is not importable from
the working directory, and with code 1 when an output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

GEN_REPEATS = 3
# The extras of a traced run (companion workloads, the local[1] baseline)
# measure only their minimum number of operations, and each starts only
# before EXTRAS_DEADLINE_S seconds of the run have passed. A run then ends
# well within 180 s even on a host running at half speed. An extra that
# does not start leaves its metrics at 0 and is named in the info line.
EXTRA_SECONDS = 0.0
EXTRAS_DEADLINE_S = 90.0
T_START = time.perf_counter()


def elapsed() -> float:
    return time.perf_counter() - T_START


def phase(name: str) -> None:
    """Log the end of a run phase and the seconds since start to stderr."""
    print(f"perfbench: {name} at {elapsed():.1f} s", file=sys.stderr, flush=True)


def layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in report order."""
    import gates

    units = {
        "warehouse.read_parquet_retry.ms_p50": "ms",
        "warehouse.read_parquet_retry.calls": "count",
        "top_products.publish_s": "s",
        "top_products.jobs": "count",
        "recommendations.build_s": "s",
        "recommendations.build_self_s": "s",
        "recommendations.build_jobs": "count",
        "recommendations.publish_s": "s",
        "recommendations.publish_jobs": "count",
        "recommendations.shuffle_bytes": "bytes",
        "graph.co_review_edges.pairs": "count",
        "graph.label_propagation_s": "s",
        "graph.label_propagation.jobs": "count",
        "graph.communities": "count",
    }
    from tracing import PROGRESS_PARTS

    units.update({f"pipeline.{k}": "ms" for k in PROGRESS_PARTS})
    units.update({
        "pipeline.jobs_per_trigger": "count",
        "pipeline.events_per_trigger": "count",
        "pipeline.ratings_screened": "count",
        "pipeline.ratings_appended": "count",
        "pipeline.append_ratio": "ratio",
        "pipeline.store_files_end": "count",
        "pipeline.live_latency_p95_ms": "ms",
        "generator.lag_ms_p99": "ms",
        "generator.backlog_files_end": "count",
    })
    for q in gates.CORPUS_QUERIES:
        units.update({
            f"corpus.{q}.build_s": "s",
            f"corpus.{q}.exec_s": "s",
            f"corpus.{q}.jobs": "count",
            f"corpus.{q}.shuffle_bytes": "bytes",
        })
    units.update({
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_run_s": "s",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.gc_s": "s",
        "spark.persisted_rdds_end": "count",
        "spark.storage_used_mb_end": "MB",
        "batch.cycle_drift": "ratio",
        "trace.latency_p50_ms": "ms",
        "trace.top_span_share": "ratio",
        "baseline.localn_ms": "ms",
        "baseline.local1_ms": "ms",
    })
    return units


class Context:
    """What a workload runs against: the session, the tracer, the inputs
    and a private work directory inside the checkout."""

    def __init__(self, work: str, inputs, cpus: int, event_log: str | None):
        self.work, self.inputs, self.cpus = work, inputs, cpus
        self.event_log = event_log
        self.spark = None
        self.tracer = None

    def start(self) -> None:
        from flink_recommendation_system_spark.session import (
            LOCAL_SF_MAX_PARTITION_BYTES,
            get_spark,
        )
        from tracing import Tracer

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_MASTER"] = f"local[{self.cpus}]"
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed heap: G1's heap resizing swung cycle times and RSS by
            # more than 15% between runs. No perf-data file under /tmp.
            "spark.driver.extraJavaOptions":
                f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={self.work}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log:
            os.makedirs(self.event_log)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            "perfbench", max_partition_bytes=LOCAL_SF_MAX_PARTITION_BYTES,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark.sparkContext if self.event_log else None)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs, MB of memory and disk they hold)."""
        jsc = self.spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        used = sum(i.memSize() + i.diskSize() for i in infos)
        return len(jsc.getPersistentRDDs()), used / 2**20

    def stop(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None


def shutdown_jvm() -> None:
    """Stop the JVM the session ran in and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


def install_wrappers(tracer) -> None:
    """Wrap the layer functions the workloads reach only indirectly, by
    module attribute where their caller looks them up."""
    from flink_recommendation_system_spark.plans import recommendations
    from flink_recommendation_system_spark.sources import warehouse

    tracer.wrap(recommendations, "label_propagation", "graph.label_propagation")
    tracer.wrap(recommendations, "co_review_edges", "graph.co_review_edges")
    tracer.wrap(warehouse, "read_parquet_retry", "warehouse.read_parquet_retry")


def local1_baseline(cls, inputs, work: str, seconds: float) -> float:
    """Median op latency (ms) of ``cls`` on a single-core session: the
    single-threaded baseline of the same job."""
    ctx = Context(work, inputs, 1, None)
    ctx.start()
    try:
        w = cls(ctx)
        w.setup()
        w.measure(seconds)
        return w.latency_ms()
    finally:
        ctx.stop()


def run_workload(w, seconds: float, tracer_on: bool) -> None:
    w.run.tracer.active = tracer_on
    w.measure(seconds)
    w.run.tracer.active = False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    sys.path.insert(1, root)
    try:
        import bench  # noqa: F401  (full-evaluation fold)
        import flink_recommendation_system_spark  # noqa: F401
        import tools.bench_stream  # noqa: F401  (progress collector)
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}",
              file=sys.stderr)
        return 2

    import gen
    import workloads
    from measure import cpu_jiffies, peak_rss_mb, percentile
    from tracing import parse_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]
    # traced runs add companion workloads on the same session
    companions = [workloads.WORKLOADS[n] for n in cls.COMPANIONS] if args.trace else []
    cpus = len(os.sched_getaffinity(0))

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    ctx = None
    try:
        corpus = any(c.NEEDS_CORPUS for c in [cls, *companions])
        gen_s = []
        for i in range(GEN_REPEATS):
            if i:
                shutil.rmtree(inputs.root)
            t = time.perf_counter()
            inputs = gen.generate(os.path.join(work, "inputs"), args.seed,
                                  events_per_file=25, corpus=corpus)
            gen_s.append(time.perf_counter() - t)

        t = time.perf_counter()
        event_log = os.path.join(work, "eventlog") if args.trace else None
        ctx = Context(work, inputs, cpus, event_log)
        ctx.start()
        if args.trace:
            install_wrappers(ctx.tracer)
        w = cls(ctx)
        w.setup()
        setup_s = statistics.median(gen_s) + time.perf_counter() - t
        phase("set-up")

        steal0, total0 = cpu_jiffies()
        run_workload(w, args.seconds, bool(args.trace))
        steal1, total1 = cpu_jiffies()
        rss = peak_rss_mb(ctx.jvm_pid()) + peak_rss_mb(os.getpid())
        persisted, storage_mb = ctx.storage()
        phase("measure")
        w.check()
        phase("check")
        done, skipped = [w], []
        for c in companions:
            if elapsed() >= EXTRAS_DEADLINE_S:
                skipped.append(c.name)
                continue
            x = c(ctx)
            x.setup()
            run_workload(x, EXTRA_SECONDS, True)
            x.check()
            done.append(x)
            phase(f"companion {c.name}")
        attempted = sum(x.attempted for x in done)
        failed = sum(x.failed for x in done)

        info = {
            "workload": args.workload, "seed": args.seed, "cores": cpus,
            "inputs": inputs.sizes, "samples": len(w.ops),
            "latency_ms_p50": w.latency_ms(),
            # host noise: share of the VM's CPU time stolen while timing
            "host_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        }
        if len(w.ops) >= 200:  # at least ten samples above the p95
            info["latency_ms_p95"] = percentile(w.ops, 95) * 1000.0

        if args.trace:
            ctx.stop()
            log = parse_event_log(event_log)
            layer = dict.fromkeys(layer_units(), 0.0)
            for x in reversed(done):  # the main workload's metrics win
                x.trace_metrics(log)
                layer.update(x.layer)
            c = log.window(w.t0, w.t1)
            layer.update({
                "spark.jobs": c.jobs,
                "spark.stages": c.stages,
                "spark.tasks": c.tasks,
                "spark.executor_run_s": c.run_ms / 1000.0,
                "spark.shuffle_write_bytes": c.shuffle_write_bytes,
                "spark.spill_bytes": c.spill_bytes,
                "spark.gc_s": c.gc_ms / 1000.0,
                "spark.persisted_rdds_end": persisted,
                "spark.storage_used_mb_end": storage_mb,
                "batch.cycle_drift": w.cycle_drift(),
                "trace.latency_p50_ms": w.latency_ms(),
            })
            if cls.BASELINE is not None:
                base = workloads.WORKLOADS[cls.BASELINE]
                localn = [x for x in done if isinstance(x, base)]
                if localn and elapsed() < EXTRAS_DEADLINE_S:
                    layer["baseline.localn_ms"] = localn[0].latency_ms()
                    layer["baseline.local1_ms"] = local1_baseline(
                        base, inputs, os.path.join(work, "local1"), EXTRA_SECONDS)
                    phase("local[1] baseline")
                else:
                    skipped.append("local[1] baseline")
            info["skipped"] = skipped
            units = layer_units()
            metrics = {k: {"value": float(v), "unit": units[k]}
                       for k, v in layer.items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "latency_p50_ms": {"value": w.latency_ms(), "unit": "ms"},
                "peak_rss_mb": {"value": rss, "unit": "MB"},
            }
    finally:
        if ctx is not None:
            ctx.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".perfbench_work"))
        except OSError:
            pass

    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
