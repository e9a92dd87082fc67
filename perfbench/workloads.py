"""The benchmark's workloads.

Each workload has a ``setup`` (model publish and warm-up, counted in
``setup_s``), a ``measure`` phase that runs for the requested seconds, and
a ``check`` phase (untimed correctness gate). All of them drive the
program only through its public functions, looked up by module attribute
so the traced run can wrap them.

Results: ``attempted``/``failed`` (the error fraction's numerator and
denominator), ``ops`` (seconds per operation; the workload's latency
sample) and ``layer`` (per-layer metrics for the traced run).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import traceback

from tools.bench_stream import _make_collector, _query_idle

import gates
from measure import (
    committed_files,
    drift,
    file_batches,
    file_latencies,
    median,
    percentile,
)
from tracing import progress_breakdown


class Workload:
    """One workload over one session and one set of generated inputs."""

    name = ""
    COMPANIONS: tuple[str, ...] = ()  # run after it on the traced session
    BASELINE: str | None = None  # workload re-run at local[1] when traced
    NEEDS_CORPUS = False

    def __init__(self, run):
        self.run = run  # run.Context: spark, tracer, inputs, work dir
        self.attempted = 0
        self.failed = 0
        self.ops: list[float] = []
        self.t0 = self.t1 = 0.0  # timed window, epoch s
        self.layer: dict[str, float] = {}

    @property
    def spark(self):
        return self.run.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.run.work, self.name, *parts)

    def setup(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def trace_metrics(self, log) -> None:
        """Fill ``self.layer`` from the tracer and the parsed event log."""

    def latency_ms(self) -> float:
        return median(self.ops) * 1000.0

    def cycle_drift(self) -> float:
        return drift(self.ops) if len(self.ops) >= 2 else 1.0


# --------------------------------------------------------------------------
# batch layers A and B


def publish_models(spark, sf_dir: str, top_path: str, recs_path: str, tracer):
    """One full model refresh through the program's public functions:
    batch layer A (top products) then batch layer B (LPA
    recommendations), each published to its path."""
    from flink_recommendation_system_spark.plans import recommendations as recs
    from flink_recommendation_system_spark.plans import top_products as top
    from flink_recommendation_system_spark.sources import tables

    with tracer.span("tables.reviews_from_events"):
        reviews = tables.reviews_from_events(spark, sf_dir)
    with tracer.span("top_products.publish"):
        top.publish_top_products(top.top_products(reviews), top_path)
    with tracer.span("recommendations.build"):
        df = recs.user_recommendations(reviews)
    with tracer.span("recommendations.publish"):
        recs.publish_user_recommendations(df, recs_path)


class BatchRefresh(Workload):
    """Repeated A+B publish cycles over the db split."""

    name = "batch_refresh"
    COMPANIONS = ("corpus_dedup",)
    BASELINE = "batch_refresh"
    WARM_CYCLES = 3
    MIN_CYCLES = 3

    def setup(self) -> None:
        for i in range(self.WARM_CYCLES):
            publish_models(self.spark, self.run.inputs.sf_dir,
                           self.path("models", f"warm{i}", "top"),
                           self.path("models", f"warm{i}", "recs"), self.run.tracer)

    def measure(self, seconds: float) -> None:
        self.t0 = time.time()
        self.published: list[int] = []  # cycles that completed
        while self.attempted < self.MIN_CYCLES or time.time() < self.t0 + seconds:
            i = self.attempted
            self.attempted += 1
            t = time.perf_counter()
            try:
                publish_models(self.spark, self.run.inputs.sf_dir,
                               *self._paths(i), self.run.tracer)
            except Exception:
                traceback.print_exc()
                self.failed += 1
            else:
                self.ops.append(time.perf_counter() - t)
                self.published.append(i)
        self.t1 = time.time()

    def _paths(self, i: int) -> tuple[str, str]:
        return (self.path("models", f"cycle{i}", "top"),
                self.path("models", f"cycle{i}", "recs"))

    def check(self) -> None:
        self.oracle = gates.BatchOracle(self.run.inputs.sf_dir)
        for i in self.published:
            bad = self.oracle.check(*self._paths(i))
            for msg in bad:
                print(f"gate: cycle {i}: {msg}", flush=True)
            self.failed += bool(bad)

    def trace_metrics(self, log) -> None:
        tr, n = self.run.tracer, max(1, len(self.ops))
        spans = ("top_products.publish", "recommendations.build",
                 "recommendations.publish", "tables.reviews_from_events")
        inner = ("graph.label_propagation", "graph.co_review_edges")
        top_level = sum(sum(tr.durations(s, self.t0, self.t1)) for s in spans)
        build = log.group("recommendations.build", *inner)
        self.layer.update({
            "top_products.publish_s": median(tr.durations(spans[0], self.t0, self.t1)),
            "top_products.jobs": log.group(spans[0]).jobs / n,
            "recommendations.build_s": median(tr.durations(spans[1], self.t0, self.t1)),
            "recommendations.build_self_s": median(tr.self_times(spans[1], self.t0, self.t1)),
            "recommendations.build_jobs": build.jobs / n,
            "recommendations.publish_s": median(tr.durations(spans[2], self.t0, self.t1)),
            "recommendations.publish_jobs": log.group(spans[2]).jobs / n,
            "recommendations.shuffle_bytes": (
                build.shuffle_write_bytes
                + log.group(spans[2]).shuffle_write_bytes) / n,
            "graph.co_review_edges.pairs": self.oracle.pairs,
            "graph.label_propagation_s": median(tr.durations(inner[0], self.t0, self.t1)),
            "graph.label_propagation.jobs": log.group(inner[0]).jobs / n,
            "graph.communities": self.oracle.communities,
            "trace.top_span_share": top_level / sum(self.ops),
        })


# --------------------------------------------------------------------------
# speed layer


def _replay_ratings(paths) -> list[tuple[int, int, float]]:
    """(user, product, rating) of every event in the replay files."""
    out = []
    for p in paths:
        with open(p) as fh:
            for line in fh:
                d = json.loads(line)
                out.append((d["userId"], d["productId"], d["review"]))
    return out


class _SpeedLayer(Workload):
    """Shared speed-layer plumbing: published models, a pre-seeded
    ``user_ratings`` store per query, and the served-output gate.

    The model tables are published once during set-up through the batch
    layers' publish functions, with the rows of the batch oracles (which
    ``batch_refresh`` checks the batch layers against). The speed-layer
    workloads thus time no batch-layer code, in set-up either."""

    def setup(self) -> None:
        import pandas as pd

        from flink_recommendation_system_spark.plans import recommendations as recs
        from flink_recommendation_system_spark.plans import top_products as top

        self.top_path = self.path("models", "top")
        self.recs_path = self.path("models", "recs")
        o = gates.BatchOracle(self.run.inputs.sf_dir)
        top.publish_top_products(self.spark.createDataFrame(
            pd.DataFrame(o.top_rows, columns=o.top_cols).astype(
                {"product_id": "int64", "avg_rating": "float64", "review_cnt": "int64"})),
            self.top_path)
        recs.publish_user_recommendations(self.spark.createDataFrame(
            pd.DataFrame(o.recs_rows, columns=o.recs_cols).astype("int64")),
            self.recs_path)
        self.collector = _make_collector()
        self.spark.streams.addListener(self.collector)

    def _start(self, tag: str, source_dir: str, max_files: int, trigger) -> dict:
        """Start ``start_speed_layer`` on ``source_dir`` with a fresh copy of
        the seeded store; returns its directories and query handle."""
        from flink_recommendation_system_spark.streaming import pipeline

        q_dir = self.path("speed", tag)
        os.makedirs(q_dir)
        shutil.copytree(self.run.inputs.store_seed, os.path.join(q_dir, "store"))
        stream = pipeline.read_review_stream_json(self.spark, source_dir, max_files)
        q = pipeline.start_speed_layer(
            stream, self.recs_path, self.top_path,
            os.path.join(q_dir, "store"), os.path.join(q_dir, "out"),
            os.path.join(q_dir, "ckpt"), trigger=trigger,
        )
        return {"dir": q_dir, "ckpt": os.path.join(q_dir, "ckpt"), "query": q,
                "first_timed_batch": 0}

    def _expected_output(self, files: list[str]) -> dict[int, list[str]]:
        """``enrich_with_recommendations`` applied statically to the
        reviews in ``files``."""
        from flink_recommendation_system_spark.sources.warehouse import read_parquet_retry
        from flink_recommendation_system_spark.streaming import pipeline

        spark = self.spark
        reviews = pipeline.parse_review_json(spark.read.text(files))
        enriched = pipeline.enrich_with_recommendations(
            reviews, read_parquet_retry(spark, self.recs_path),
            read_parquet_retry(spark, self.top_path),
        )
        return {r["user_id"]: list(r["recommended_products"])
                for r in enriched.collect()}

    def _gate_query(self, rec) -> tuple[set[int], bool]:
        """(users served wrongly, store gate passed) for one query, over
        every replay file its checkpoint says it served."""
        spark = self.spark
        files = [os.path.join(self.run.inputs.replay_dir, f)
                 for f in sorted(file_batches(rec["ckpt"]))]
        served = gates.parse_output_values(
            r["value"] for r in
            spark.read.parquet(os.path.join(rec["dir"], "out")).collect()
        )
        bad = gates.output_mismatches(served, self._expected_output(files))
        store_dir = os.path.join(rec["dir"], "store")
        store = [tuple(r) for r in spark.read.parquet(store_dir).select(
            "user_id", "product_id", "rating").collect()]
        seed = [tuple(r) for r in spark.read.parquet(
            self.run.inputs.store_seed).collect()]
        ok = gates.store_ok(store, seed, _replay_ratings(files))
        rec["appended"] = len(store) - len(seed)
        rec["store_files"] = sum(f.endswith(".parquet") for f in os.listdir(store_dir))
        return bad, ok

    def _pipeline_metrics(self, rec, log, t0: float, t1: float) -> None:
        progress = [
            p for p in self.collector.progress_for(str(rec["query"].runId))
            if p.get("numInputRows", 0) > 0
        ]
        files_per_batch: dict[int, list[str]] = {}
        for f, b in file_batches(rec["ckpt"]).items():
            files_per_batch.setdefault(b, []).append(f)
        timed = [b for b in files_per_batch if b >= rec["first_timed_batch"]]
        replay = self.run.inputs.replay_dir
        # rows entering the SADD anti-join screen: distinct per batch, over
        # the query's whole life, as the store's appended rows are
        screened = sum(
            len(set(_replay_ratings(os.path.join(replay, f) for f in fs)))
            for fs in files_per_batch.values())
        reads = self.run.tracer.durations("warehouse.read_parquet_retry", t0, t1)
        self.layer.update({
            f"pipeline.{k}": v for k, v in progress_breakdown(progress).items()
        })
        self.layer.update({
            "pipeline.jobs_per_trigger": median(
                [log.jobs_by_batch.get(b, 0) for b in timed]),
            "pipeline.events_per_trigger": median(
                [len(files_per_batch[b]) * self.run.inputs.events_per_file
                 for b in timed]),
            "pipeline.ratings_screened": screened,
            "pipeline.ratings_appended": rec["appended"],
            "pipeline.append_ratio": rec["appended"] / screened,
            "pipeline.store_files_end": rec["store_files"],
            "warehouse.read_parquet_retry.ms_p50": median(reads) * 1000.0,
            "warehouse.read_parquet_retry.calls": len(reads),
        })


class SpeedLive(_SpeedLayer):
    """Open loop: a generator thread drops replay files on a fixed
    schedule into the directory a running speed-layer query watches, and
    keeps to the schedule however slow the query is. The first
    ``WARM_S`` seconds of the schedule are warm-up (set-up); the files due
    in the following ``seconds`` are the timed sample."""

    name = "speed_live"
    COMPANIONS = ("speed_backfill",)
    BASELINE = "speed_backfill"
    FILES_PER_S = 4.0
    WARM_S = 8.0
    DRAIN_TIMEOUT_S = 30.0

    def setup(self) -> None:
        super().setup()
        self.live = self.path("live")
        os.makedirs(self.live)
        self.rec = self._start("live", self.live, 10_000, None)
        files = self.run.inputs.replay_files
        # the first, cold trigger runs before the schedule starts
        first = files[: int(self.FILES_PER_S)]
        for f in first:
            self._drop(f)
        if not self._await_committed(first):
            raise RuntimeError("the speed layer did not serve its first files")
        self.schedule = files[len(first):]
        self.due: dict[str, float] = {}
        self.lag: dict[str, float] = {}
        self.gen_end = float("inf")
        self.exhausted = False
        self.t_sched = time.time() + 0.05
        self.t0 = self.t_sched + self.WARM_S
        self.gen = threading.Thread(target=self._generate, daemon=True)
        self.gen.start()
        time.sleep(max(0.0, self.t0 - time.time()))

    def _generate(self) -> None:
        for i, name in enumerate(self.schedule):
            due = self.t_sched + i / self.FILES_PER_S
            if due >= self.gen_end:
                return
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
                if due >= self.gen_end:
                    return
            self._drop(name)
            self.due[name] = due
            self.lag[name] = time.time() - due
        self.exhausted = True

    def _drop(self, name: str) -> None:
        tmp = os.path.join(self.live, "." + name)
        shutil.copyfile(os.path.join(self.run.inputs.replay_dir, name), tmp)
        os.rename(tmp, os.path.join(self.live, name))

    def _await_committed(self, files) -> bool:
        deadline = time.time() + self.DRAIN_TIMEOUT_S
        while time.time() < deadline:
            if set(files) <= committed_files(self.rec["ckpt"]):
                return True
            if self.rec["query"].exception() is not None:
                return False
            time.sleep(0.05)
        return False

    def measure(self, seconds: float) -> None:
        self.gen_end = self.t0 + seconds
        self.gen.join()
        if self.exhausted:
            raise RuntimeError("replay corpus too small for the requested run")
        timed = [f for f, due in self.due.items() if due >= self.t0]
        ckpt = self.rec["ckpt"]
        self.backlog_end = len(set(self.due) - committed_files(ckpt))
        self._await_committed(list(self.due))
        q = self.rec["query"]
        deadline = time.time() + self.DRAIN_TIMEOUT_S
        while q.isActive and not _query_idle(q) and time.time() < deadline:
            time.sleep(0.1)
        q.stop()
        self.t1 = time.time()
        batch_of = file_batches(ckpt)
        self.rec["first_timed_batch"] = min(
            (batch_of[f] for f in timed if f in batch_of), default=0)
        self.served = file_latencies(ckpt, {f: self.due[f] for f in timed})
        per_file = self.run.inputs.events_per_file
        self.attempted = len(timed) * per_file
        self.failed = (len(timed) - len(self.served)) * per_file
        self.ops = [lat for lat in self.served.values() for _ in range(per_file)]
        self.timed_lag = [self.lag[f] for f in timed]

    def check(self) -> None:
        bad_users, store_ok = self._gate_query(self.rec)
        if not store_ok:
            print("gate: user_ratings store differs from seed ∪ stream", flush=True)
            self.failed = self.attempted
        elif bad_users:
            print(f"gate: {len(bad_users)} users served wrong output", flush=True)
            replay = self.run.inputs.replay_dir
            self.failed += sum(
                u in bad_users for u, _, _ in
                _replay_ratings(os.path.join(replay, f) for f in self.served))

    def trace_metrics(self, log) -> None:
        self._pipeline_metrics(self.rec, log, self.t0, self.t1)
        self.layer.update({
            "pipeline.live_latency_p95_ms": percentile(self.ops, 95) * 1000.0,
            "generator.lag_ms_p99": percentile(self.timed_lag, 99) * 1000.0,
            "generator.backlog_files_end": self.backlog_end,
        })


class SpeedBackfill(_SpeedLayer):
    """The whole replay corpus present at start, drained by
    ``availableNow`` in large triggers into a fresh pre-seeded store."""

    name = "speed_backfill"
    BASELINE = "speed_backfill"
    FILES_PER_TRIGGER = 60
    MIN_DRAINS = 1

    def setup(self) -> None:
        super().setup()
        self._drain("warm")

    def _drain(self, tag: str) -> tuple[dict, float]:
        t = time.perf_counter()
        rec = self._start(tag, self.run.inputs.replay_dir,
                          self.FILES_PER_TRIGGER, {"availableNow": True})
        rec["query"].awaitTermination()
        wall = time.perf_counter() - t
        # drain completeness from the commit log. (tools/bench_stream.py's
        # _assert_drain_complete also reads the log's binary .crc side
        # files and fails on them, so it cannot be reused here.)
        missing = set(self.run.inputs.replay_files) - committed_files(rec["ckpt"])
        if missing:
            raise RuntimeError(f"drain incomplete: {len(missing)} files not committed")
        return rec, wall

    def measure(self, seconds: float) -> None:
        events = self.run.inputs.sizes["stream_events"]
        self.t0 = time.time()
        self.drains = []
        tries = 0
        while tries < self.MIN_DRAINS or time.time() < self.t0 + seconds:
            tries += 1
            self.attempted += events
            try:
                rec, wall = self._drain(f"drain{tries}")
            except Exception:
                traceback.print_exc()
                self.failed += events
                continue
            self.drains.append(rec)
            self.ops.append(wall)
        self.t1 = time.time()

    def check(self) -> None:
        for rec in self.drains:
            bad_users, store_ok = self._gate_query(rec)
            if bad_users or not store_ok:
                print(f"gate: drain {rec['dir']}: {len(bad_users)} users wrong, "
                      f"store ok={store_ok}", flush=True)
                self.failed += self.run.inputs.sizes["stream_events"]

    def trace_metrics(self, log) -> None:
        self._pipeline_metrics(self.drains[-1], log, self.t0, self.t1)


# --------------------------------------------------------------------------
# corpus queries


class CorpusDedup(Workload):
    """Passes over the five corpus dedup/selection queries of
    ``__spark_entry__.queries()``, each output column fully evaluated."""

    name = "corpus_dedup"
    NEEDS_CORPUS = True
    MIN_PASSES = 1
    WARM_QUERIES = ("minhash_near_dups", "dsir_selected")

    def setup(self) -> None:
        from bench import _force_full_evaluation

        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.results: list[tuple[str, object]] = []  # (query, DataFrame)
        for name in self.WARM_QUERIES:
            _force_full_evaluation(self.queries[name](self.spark, self.run.inputs.sf_dir))

    def measure(self, seconds: float) -> None:
        from bench import _force_full_evaluation

        tracer, sf = self.run.tracer, self.run.inputs.sf_dir
        self.t0 = time.time()
        self.per_query: dict[str, list[tuple[float, float]]] = {
            n: [] for n in gates.CORPUS_QUERIES}
        while len(self.ops) < self.MIN_PASSES or time.time() < self.t0 + seconds:
            pass_s = 0.0
            for name in gates.CORPUS_QUERIES:
                self.attempted += 1
                try:
                    t = time.perf_counter()
                    with tracer.span(f"corpus.{name}.build"):
                        df = self.queries[name](self.spark, sf)
                    tb = time.perf_counter()
                    with tracer.span(f"corpus.{name}.exec"):
                        _force_full_evaluation(df)
                    te = time.perf_counter()
                except Exception:
                    traceback.print_exc()
                    self.failed += 1
                    continue
                pass_s += te - t
                self.per_query[name].append((tb - t, te - tb))
                self.results.append((name, df))
            self.ops.append(pass_s)
        self.t1 = time.time()

    def check(self) -> None:
        oracle = gates.CorpusOracle(self.run.inputs.sf_dir)
        for name, df in self.results:
            if not oracle.check(name, df.columns, [tuple(r) for r in df.collect()]):
                print(f"gate: {name} differs from its oracle", flush=True)
                self.failed += 1

    def trace_metrics(self, log) -> None:
        n = max(1, len(self.ops))
        for name, times in self.per_query.items():
            c = log.group(f"corpus.{name}.build", f"corpus.{name}.exec")
            self.layer.update({
                f"corpus.{name}.build_s": median([b for b, _ in times]),
                f"corpus.{name}.exec_s": median([e for _, e in times]),
                f"corpus.{name}.jobs": c.jobs / n,
                f"corpus.{name}.shuffle_bytes": c.shuffle_write_bytes / n,
            })


WORKLOADS = {w.name: w for w in (BatchRefresh, SpeedLive, SpeedBackfill, CorpusDedup)}
