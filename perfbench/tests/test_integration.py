"""Both workloads on tiny inputs in one local Spark session, traced: every
metric is emitted with its unit, a failing query is counted, spans nest,
and per-layer self times add up to the pass wall time."""

from __future__ import annotations

import os

import pytest

from perfbench import inputs, run, workloads
from perfbench.spans import Tracer

SELF_TIME_TOLERANCE = 0.05  # query pass: layers within 5% of its wall time


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("run"))
    cfg = run.host_config()
    saved = dict(os.environ)
    os.environ.update(run.engine_env(run_dir, cfg))
    spark = run.start_session(cfg, run_dir)
    yield spark, cfg, run_dir
    run.stop_session(spark)
    os.environ.clear()
    os.environ.update(saved)


def _assert_nested(tr: Tracer) -> None:
    by_id = {s.span_id: s for s in tr.spans}
    for s in tr.spans:
        assert s.end >= s.start, s
        if s.parent is not None:
            p = by_id[s.parent]
            assert s.trace_id == p.trace_id
            # Spark's times have millisecond resolution
            assert p.start - 1e-3 <= s.start and s.end <= p.end + 1e-3, (s, p)


def _assert_all_metrics(out: dict) -> None:
    for trace, units in ((False, run.E2E_UNITS), (True, run.layer_units())):
        m = run.result_metrics(out, trace, {"setup_s": 1.0, "peak_rss_gb": 1.0})
        assert list(m) == list(units)
        for name, unit in units.items():
            assert m[name]["unit"] == unit
            assert isinstance(m[name]["value"], float)


def test_query_mix_traced(session, tmp_path, monkeypatch):
    from raster_processor_spark.queries import REGISTRY, QuerySpec

    spark, cfg, run_dir = session

    def forced_failure(spark, sf_dir):
        raise RuntimeError("forced failure")

    monkeypatch.setitem(REGISTRY, "pb_forced_failure",
                        QuerySpec(spark=forced_failure, oracle="SELECT 1 AS x"))
    mix = [("text_stats", "text"), ("asof_join", "windows"),
           ("pb_forced_failure", "text")]
    monkeypatch.setattr(workloads, "QUERY_MIX", mix)
    tdir, oracle = inputs.query_tables(
        str(tmp_path / "cache"), {n: REGISTRY[n].oracle for n, _ in mix}
    )
    data = str(tmp_path / "qm_test")
    inputs.link_files(
        [os.path.join(tdir, f"{t}.parquet") for t in inputs.TABLES], data
    )
    ctx = workloads.Context(spark, 1, 1, True, cfg["cpus"], run_dir)
    out = workloads.query_mix(ctx, data, oracle)

    # check pass, then two rounds of one untraced and one traced pass: the
    # failing query is attempted and counted in each
    assert ctx.attempted == 15 and ctx.failed == 5
    assert all("pb_forced_failure" in f for f in ctx.failures)
    _assert_all_metrics(out)
    layers = out["layers"]
    assert layers["queries.build_s"] > 0 and layers["exec.jobs"] > 0
    assert layers["operators.windows.exec_s"] > 0
    assert abs(layers["trace.self_time_share"] - 1) <= SELF_TIME_TOLERANCE
    assert 0 < layers["trace.hook_share"] < 0.2
    assert -1 < layers["trace.overhead_share"] < 1
    _assert_nested(ctx.tracer)
    assert out["e2e"]["pass_s"] > 0 and out["e2e"]["op_p50_s"] > 0


def test_tile_pipeline_traced(session, tmp_path):
    from raster_processor_spark import datagen

    spark, cfg, run_dir = session
    images = str(tmp_path / "images")
    datagen.images_from_ids(spark.range(0, 1000, 1, 2), "id").write.parquet(images)
    golden = inputs.golden_sample(range(0, 1000, 37))
    ctx = workloads.Context(spark, 1, 1, True, cfg["cpus"], str(tmp_path / "run"))
    os.makedirs(ctx.run_dir)
    out = workloads.tile_pipeline(ctx, images, golden)

    assert ctx.failed == 0, ctx.failures
    _assert_all_metrics(out)
    layers = out["layers"]
    for t in workloads.STAGES:
        assert layers[f"pipeline.stage_s.{t}"] > 0
    assert layers["snapshots.resumed_stages"] == 2
    assert layers["encode.rows"] == 1000 and layers["decode.images"] == 1000
    assert 0 < layers["spatial_join.refine_yield"] <= 1
    assert layers["snapshots.commit_s"] > 0
    assert 0 < layers["trace.hook_share"] < 0.2
    assert -1 < layers["trace.overhead_share"] < 1
    _assert_nested(ctx.tracer)
    assert out["e2e"]["throughput_per_s"] > 0
    assert out["detail"]["rows_per_pass"] > 1000
