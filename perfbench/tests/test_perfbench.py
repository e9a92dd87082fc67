"""Tests for the benchmark's own helpers. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench/
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))  # repository root

import gates  # noqa: E402
import gen  # noqa: E402
from measure import drift, file_batches, file_latencies, percentile  # noqa: E402
from tracing import Tracer, parse_event_log, progress_breakdown  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")


def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert percentile(xs, 50) == 5
    assert percentile(xs, 90) == 9
    assert percentile(xs, 95) == 10
    assert percentile(xs, 100) == 10
    assert percentile([7.5], 99) == 7.5
    # p50 of two samples is the lower one, not their mean
    assert percentile([2.0, 1.0], 50) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_drift_compares_last_third_with_first_third():
    assert drift([1.0, 1.0, 1.0, 2.0, 2.0, 2.0]) == 2.0
    assert drift([3.0, 3.0, 3.0]) == 1.0


def test_file_batch_latency_join_on_fixture_checkpoint(tmp_path):
    ckpt = tmp_path / "ckpt"
    shutil.copytree(os.path.join(FIXTURES, "ckpt"), ckpt)
    os.utime(ckpt / "commits" / "0", (1000.5, 1000.5))
    os.utime(ckpt / "commits" / "1", (1002.0, 1002.0))
    # the compact file re-lists batches 0 and 1; binary .crc files are skipped
    assert file_batches(str(ckpt)) == {
        "part-00000.json": 0, "part-00001.json": 0,
        "part-00002.json": 1, "part-00003.json": 2,
    }
    due = {
        "part-00000.json": 1000.0, "part-00001.json": 1000.25,
        "part-00002.json": 1000.5, "part-00003.json": 1000.75,
        "part-00004.json": 1001.0,
    }
    lat = file_latencies(str(ckpt), due)
    # batch 2 never committed and part-00004 was never read: both absent
    assert lat == pytest.approx({
        "part-00000.json": 0.5, "part-00001.json": 0.25,
        "part-00002.json": 1.5,
    })


def test_event_log_parser_on_fixture_log():
    log = parse_event_log(os.path.join(FIXTURES, "eventlog"))
    g = log.group("g1")
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 2)
    assert (g.run_ms, g.gc_ms, g.shuffle_write_bytes, g.spill_bytes) == (30, 2, 300, 5)
    assert log.group("g1", "absent").jobs == 1
    assert dict(log.jobs_by_batch) == {3: 2}
    w = log.window(0.9, 1.5)
    assert (w.jobs, w.stages, w.tasks, w.run_ms) == (1, 1, 2, 30)
    w = log.window(4.0, 6.0)
    assert (w.jobs, w.stages, w.tasks, w.run_ms) == (2, 1, 1, 7)


def test_progress_breakdown_uses_data_bearing_triggers():
    parts = {"triggerExecution": 100, "addBatch": 80, "queryPlanning": 5,
             "walCommit": 4, "commitOffsets": 3, "latestOffset": 2}
    progress = [
        {"numInputRows": 0, "durationMs": {"triggerExecution": 1}},
        {"numInputRows": 10, "durationMs": parts},
        {"numInputRows": 5, "durationMs": {k: 3 * v for k, v in parts.items()}},
    ]
    out = progress_breakdown(progress)
    assert out["trigger_ms_p50"] == 200.0
    assert out["add_batch_ms_p50"] == 160.0
    with pytest.raises(ValueError):
        progress_breakdown(progress[:1])


def test_tracer_self_time_and_wrapping():
    import types

    tr = Tracer()
    mod = types.SimpleNamespace(inner=lambda x: x + 1)
    tr.wrap(mod, "inner", "inner")
    tr.active = True
    with tr.span("outer"):
        assert mod.inner(1) == 2
    tr.active = False
    mod.inner(1)  # inactive: not recorded
    assert [s.name for s in tr.spans] == ["inner", "outer"]
    assert tr.spans[0].parent == "outer"
    (outer,) = tr.durations("outer")
    (self_t,) = tr.self_times("outer")
    assert 0 <= self_t <= outer


def test_generator_is_seeded(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 5, events_per_file=25, corpus=False)
    b = gen.generate(str(tmp_path / "b"), 5, events_per_file=25, corpus=False)
    c = gen.generate(str(tmp_path / "c"), 6, events_per_file=25, corpus=False)
    assert a.sizes == b.sizes
    ev = [os.path.join(x.sf_dir, "events.parquet") for x in (a, b, c)]
    con = duckdb.connect()
    rows = [con.execute(f"SELECT * FROM read_parquet('{p}') ORDER BY event_id").fetchall()
            for p in ev]
    assert rows[0] == rows[1] != rows[2]
    assert 0 < a.sizes["users_below_cutoff"] < a.sizes["users"]
    assert a.sizes["products"] > 100


@pytest.fixture(scope="module")
def batch_inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("batch")
    inputs = gen.generate(str(root / "in"), 3, events_per_file=25, corpus=False)
    return inputs, gates.BatchOracle(inputs.sf_dir), root


def _publish(sf_dir: str, sql: str, path) -> str:
    """Write ``sql``'s result over the generated tables as a model table."""
    os.makedirs(path)
    con = gates.connect(sf_dir)
    con.execute(f"COPY ({sql}) TO '{path}/part-00000.parquet' (FORMAT PARQUET)")
    con.close()
    return str(path)


def test_batch_gate_accepts_oracle_models(batch_inputs):
    from flink_recommendation_system_spark import oracles

    inputs, oracle, root = batch_inputs
    top = _publish(inputs.sf_dir, oracles.TOP_PRODUCTS_SQL, root / "ok_top")
    recs = _publish(inputs.sf_dir, oracles.USER_RECOMMENDATIONS_SQL, root / "ok_recs")
    assert oracle.check(top, recs) == []
    assert oracle.communities > 1  # the generated graph is not one clique


def test_batch_gate_fails_on_corrupted_model(batch_inputs):
    from flink_recommendation_system_spark import oracles

    inputs, oracle, root = batch_inputs
    sf = inputs.sf_dir
    recs_sql, top_sql = oracles.USER_RECOMMENDATIONS_SQL, oracles.TOP_PRODUCTS_SQL
    good_top = _publish(sf, top_sql, root / "top")
    good_recs = _publish(sf, recs_sql, root / "recs")
    # one recommendation row lost
    lost = _publish(sf, f"SELECT * FROM ({recs_sql}) ORDER BY ALL OFFSET 1",
                    root / "recs_lost")
    assert len(oracle.check(good_top, lost)) == 1
    # one top product's average rating off in the 4th decimal
    bad_top = _publish(
        sf,
        "SELECT product_id, avg_rating + CASE WHEN row_number() OVER "
        "(ORDER BY product_id) = 1 THEN 0.0001 ELSE 0 END AS avg_rating, "
        f"review_cnt FROM ({top_sql})", root / "top_off")
    assert len(oracle.check(bad_top, good_recs)) == 1


def test_speed_gates():
    served = [(1, ["3", "4"]), (2, ["5"]), (1, ["3", "4"])]
    assert gates.output_mismatches(served, {1: ["3", "4"], 2: ["5"]}) == set()
    assert gates.output_mismatches(served, {1: ["3"], 2: ["5"], 9: ["1"]}) == {1, 9}
    seed = [(1, 10, 4.0), (2, 11, 5.0)]
    stream = [(1, 10, 4.0), (3, 12, 1.0)]  # one re-sent rating
    assert gates.store_ok([(1, 10, 4.0), (2, 11, 5.0), (3, 12, 1.0)], seed, stream)
    # a duplicate row breaks SADD idempotence, a lost row breaks the union
    assert not gates.store_ok(
        [(1, 10, 4.0), (1, 10, 4.0), (2, 11, 5.0), (3, 12, 1.0)], seed, stream)
    assert not gates.store_ok([(1, 10, 4.0), (2, 11, 5.0)], seed, stream)
    assert gates.parse_output_values(
        ['{"userId": 7, "recommendedProducts": ["1", "2"]}']) == [(7, ["1", "2"])]


def test_components_take_min_id():
    comp = gates._components([1, 2, 3, 4, 5], [(2, 5), (5, 3)])
    assert comp == {1: 1, 2: 2, 3: 2, 4: 4, 5: 2}
