"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def _generate(d: str, seed: int) -> gen.SceneTruth:
    gen.write_tables(d, seed, run.TABLE_SCALE)
    return gen.write_scenes(os.path.join(d, "scenes"), seed, run.SCENE_SIZE, run.N_SCENES)


def test_generator_is_deterministic_per_seed(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert len(a) == 10 + run.N_SCENES
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if k not in ("region.parquet", "nation.parquet"))


def test_tables_match_fixture_schema(tmp_path):
    import pyarrow.parquet as pq

    rows = gen.write_tables(str(tmp_path), 3, run.TABLE_SCALE)
    li = pq.read_table(tmp_path / "lineitem.parquet")
    assert li.num_rows == rows["lineitem"] == 6000
    assert str(li.schema.field("l_shipdate").type) == "timestamp[us]"
    ev = pq.read_table(tmp_path / "events.parquet").to_pandas()
    assert ev["ts"].is_monotonic_increasing
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    assert (docs["text"].str.len() == docs["n_chars"]).all()


def test_scene_regions_tile_the_image(tmp_path):
    truth = gen.write_scenes(str(tmp_path), 5, 64, 4)
    area = sum(w * h for _, _, w, h in truth.regions)
    assert area == 64 * 64
    assert min(w * h for _, _, w, h in truth.regions) >= gen.MIN_AREA
    for x0, y0, w, h in truth.regions:  # never across a tile boundary
        assert x0 // gen.TILE == (x0 + w - 1) // gen.TILE
        assert y0 // gen.TILE == (y0 + h - 1) // gen.TILE
    assert not np.isnan(truth.median_ndvi).any()


def _perfect_segments(truth: gen.SceneTruth) -> pd.DataFrame:
    """The segment table a correct E3 writes: one rectangle per region."""
    rows = []
    for i, (x0, y0, w, h) in enumerate(truth.regions):
        x1, y1 = x0 + w, y0 + h
        wkt = f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
        rows.append((i, wkt, w * h))
    return pd.DataFrame(rows, columns=["seg_id", "geometry", "area"])


def test_lulc_check_passes_on_truth_and_fails_on_perturbed_segments(tmp_path):
    truth = gen.write_scenes(str(tmp_path), 11, 64, 4)
    segs = _perfect_segments(truth)
    assert checks.check_segments(segs, truth) == []

    merged = segs.drop(index=1).reset_index(drop=True)  # two regions as one segment
    x0, y0, w, h = truth.regions[0]
    merged.loc[0, "area"] = w * h + truth.regions[1][2] * truth.regions[1][3]
    assert checks.check_segments(merged, truth)

    shifted = segs.copy()  # one segment one pixel right of its region
    a, b, c = x0 + 1, x0 + w + 1, y0 + h
    shifted.loc[0, "geometry"] = f"POLYGON(({a} {y0}, {b} {y0}, {b} {c}, {a} {c}, {a} {y0}))"
    assert checks.check_segments(shifted, truth)


def test_lulc_pixel_and_object_checks(tmp_path):
    truth = gen.write_scenes(str(tmp_path), 4, 64, 4)
    ys, xs = np.mgrid[0:64, 0:64]
    stack = pd.DataFrame({"x": xs.ravel(), "y": ys.ravel(), "median_ndvi": truth.median_ndvi.ravel()})
    assert checks.check_stack(stack, truth) == []
    stack.loc[5, "median_ndvi"] += 1e-6
    assert checks.check_stack(stack, truth)

    rule = np.where(truth.median_ndvi > workloads.SOLAR_MEDIAN_NDVI, 12, 2).ravel()
    labels = pd.DataFrame({"x": xs.ravel(), "y": ys.ravel(), "final_label": rule})
    assert checks.check_pixels(labels, truth) == []
    stray = labels.copy()
    stray.loc[0, "final_label"] = 99
    assert checks.check_pixels(stray, truth)
    assert checks.check_pixels(labels.assign(final_label=2), truth)  # one class everywhere
    med, region = truth.median_ndvi.ravel(), truth.region_map.ravel()
    # a learned threshold off the rule's, inside the margin: passes
    shifted = labels.assign(final_label=np.where(med > 0.3, 12, 2))
    assert checks.check_pixels(shifted, truth) == []
    # a whole region far above the threshold labelled urban
    flipped = labels.copy()
    flipped.loc[region == region[med >= 0.2 + checks.LABEL_MARGIN][0], "final_label"] = 2
    assert checks.check_pixels(flipped, truth)
    # a solar region below an urban one: no single threshold
    inverted = shifted.copy()
    inverted.loc[region == region[(med > 0.05) & (med < 0.15)][0], "final_label"] = 12
    assert checks.check_pixels(inverted, truth)

    segs = _perfect_segments(truth)
    objects = pd.DataFrame({"seg_id": segs["seg_id"], "PredClass": 1})
    assert checks.check_objects(objects, segs) == []
    assert checks.check_objects(pd.concat([objects, objects.iloc[:1]]), segs)


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == dict.fromkeys(run.END_TO_END, "s")
    assert layer == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)

    passes = [
        [workloads.Call("a", 3.0, True), workloads.Call("b", 1.0, True)],
        [workloads.Call("a", 2.5, True), workloads.Call("b", 0.7, True)],
        [workloads.Call("a", 2.0, True), workloads.Call("b", 0.5, True)],
    ]
    metrics, _ = run.end_to_end(passes, ["cold", "warm", "warm"], 9.0)
    assert list(metrics) == list(e2e)
    assert metrics == pytest.approx({
        "setup_s": 9.0, "cold_wall_s": 4.0, "wall_s": 2.85, "call_p50_s": 1.35, "call_tail_s": 2.25,
    })


@pytest.mark.parametrize(
    "n, expect",
    [(20, (9.0, "p50.0 with 10 samples beyond it")), (30, (19.0, "p66.7 with 10 samples beyond it"))],
)
def test_call_tail_keeps_ten_samples_beyond(n, expect):
    assert run.call_tail([[float(i) for i in range(n)]]) == expect


def test_call_tail_below_twenty_calls_is_median_of_pass_maxima():
    warm = [[1.0, 5.0], [2.0, 3.0], [0.5, 4.0]]
    assert run.call_tail(warm) == (4.0, "median of 3 passes' slowest call")
    assert run.call_tail([[0.1] * 10, [0.2] * 9])[0] == pytest.approx(0.15)


def test_layer_metrics_from_spans_and_event_log():
    from spans import EventLog, Span, pass_layer_metrics, self_times

    spans = [
        Span(0, "q", "plans", "build", 0.0, 10.0, None, "g0", 2, [0, 1], 5),
        Span(1, "inner", "operators", "build", 2.0, 5.0, 0, "g1", 2, [2], 3),
        Span(2, "inner2", "operators", "action", 4.0, 7.0, 0, "g2", 2, [], 0),
    ]
    assert self_times(spans) == {0: 5.0, 1: 3.0, 2: 3.0}
    jobs = {
        0: {"group": "g0", "exec": 7, "submit": 1.0, "end": 3.0},
        1: {"group": "g0", "exec": 7, "submit": 2.0, "end": 4.0},
        2: {"group": "g1", "exec": None, "submit": 8.0, "end": 9.0},
        3: {"group": "other-thread", "exec": None, "submit": 4.5, "end": 4.6},
    }
    sums = {0: {"shuffle_bytes": 10, "write_bytes": 4}, 3: {"shuffle_bytes": 1}}
    sql = {7: {("BroadcastExchange", "number of output rows"): 25.0, ("Scan parquet ", "number of output rows"): 99.0}}
    progress = [(9.5, "run-a", 300, 10, 7), (9.8, "run-a", 200, 0, 5), (30.0, "run-b", 100, 1, 1)]
    m = pass_layer_metrics(spans, EventLog(jobs, sums, sql), progress)
    assert m["plans.build_s"] == 5.0 and m["plans.build_jobs"] == 2 and m["plans.tasks"] == 5
    assert m["operators.build_s"] == 3.0 and m["operators.action_s"] == 3.0
    assert m["plans.shuffle_bytes"] == 10 and m["sources.write_bytes"] == 4
    assert m["operators.shuffle_bytes"] == 1  # job of another thread: innermost open span
    assert m["plans.broadcast_rows"] == 25.0 and m["sources.read_rows"] == 99.0
    assert m["plans.outside_job_s"] == pytest.approx(10.0 - 3.0 - 1.0 - 0.1)
    assert (m["streaming.batches"], m["streaming.batch_s"], m["streaming.state_rows"]) == (2, 0.5, 7)
