"""Correctness gates, run outside the timed region.

Each check returns a list of problems; an empty list is a pass.

- Registry queries are compared with their DuckDB twins from
  ``all_oracles()`` using the repository's own ``compare`` (from
  ``scripts/check_parity.py``).
- The land-cover chain is compared with the generator's ground truth.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# Spark's exact median interpolates the two middle values as
# lo + 0.5 * (hi - lo); numpy averages them. Both are exact to an ulp.
MEDIAN_ATOL = 1e-12
# The forest learns the E2 rule's NDVI threshold only up to its split
# candidates (binned quantiles): on 58 seeds the learned threshold lay
# up to 0.13 from the rule's. Regions at least this far from it must
# carry the rule's label.
LABEL_MARGIN = 0.2


def duckdb_views(data_dir: str):
    import duckdb

    from tb_scale_spatial_data_pipeline_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_query(name: str, spark_pdf: pd.DataFrame, con, oracles: dict) -> list[str]:
    from scripts.check_parity import compare

    if name not in oracles:
        return [f"{name}: no oracle twin"]
    return compare(name, spark_pdf, con.execute(oracles[name]).df())


def check_stack(stack: pd.DataFrame, truth) -> list[str]:
    """E1: per-pixel median NDVI equals numpy's nanmedian."""
    n = truth.size
    if len(stack) != n * n:
        return [f"E1: {len(stack)} pixels, expected {n * n}"]
    got = np.full((n, n), np.nan)
    got[stack["y"].to_numpy(), stack["x"].to_numpy()] = stack["median_ndvi"].to_numpy()
    bad = ~(np.abs(got - truth.median_ndvi) <= MEDIAN_ATOL)
    return [f"E1: median_ndvi differs from nanmedian at {int(bad.sum())} pixels"] if bad.any() else []


def check_pixels(pixels: pd.DataFrame, truth) -> list[str]:
    """E2: every pixel labelled once, one label per region, labels
    within the relabel rules' output (urban, solar), both classes
    present, and the labels a threshold on median NDVI: the features
    are region-constant and rise with the region's NDVI level, and so
    does the training rule. Regions clearly on one side of the rule's
    threshold get the rule's label."""
    from gen import JITTER
    from tb_scale_spatial_data_pipeline_spark.operators.relabel import SOLAR, URBAN
    from workloads import SOLAR_MEDIAN_NDVI

    n = truth.size
    if len(pixels) != n * n:
        return [f"E2: {len(pixels)} pixels, expected {n * n}"]
    ys, xs = pixels["y"].to_numpy(), pixels["x"].to_numpy()
    by_region = pd.DataFrame(
        {"label": pixels["final_label"].to_numpy(), "med": truth.median_ndvi[ys, xs]}
    ).groupby(truth.region_map[ys, xs])
    problems = []
    mixed = int((by_region["label"].nunique() != 1).sum())
    if mixed:
        problems.append(f"E2: {mixed} regions carry more than one label")
    regions = by_region.first()
    found = set(regions["label"].tolist())
    if not found <= {URBAN, SOLAR}:
        problems.append(f"E2: labels {sorted(found - {URBAN, SOLAR})} outside the relabel rules' output")
    if len(found) < 2:
        return problems + [f"E2: every region has label {sorted(found)}"]
    solar = regions["label"] == SOLAR
    # two regions of one NDVI level differ by at most 2 * JITTER
    if regions["med"][~solar].max() > regions["med"][solar].min() + 2 * JITTER + 1e-6:
        problems.append("E2: an urban region lies above a solar region in median NDVI")
    want = np.where(regions["med"] > SOLAR_MEDIAN_NDVI, SOLAR, URBAN)
    clear = (regions["med"] - SOLAR_MEDIAN_NDVI).abs() >= LABEL_MARGIN
    wrong = int((clear & (regions["label"] != want)).sum())
    if wrong:
        problems.append(f"E2: {wrong} regions clear of the NDVI threshold got the wrong label")
    return problems


_NUM = re.compile(r"-?\d+(?:\.\d+)?")


def segment_boxes(segments: pd.DataFrame) -> list[tuple[int, int, int, int]]:
    """(x0, y0, w, h) of each segment's outer ring."""
    boxes = []
    for wkt in segments["geometry"]:
        v = np.array([float(t) for t in _NUM.findall(wkt)]).reshape(-1, 2)
        x0, y0 = v.min(axis=0)
        x1, y1 = v.max(axis=0)
        boxes.append((int(x0), int(y0), int(x1 - x0), int(y1 - y0)))
    return boxes


def check_segments(segments: pd.DataFrame, truth) -> list[str]:
    """E3: the segment set equals the generated region rectangles:
    every segment fills its bounding box, and the boxes are exactly
    the regions (segments are disjoint, so this fixes the partition)."""
    problems = []
    boxes = segment_boxes(segments)
    unfilled = sum(int(a) != w * h for a, (_, _, w, h) in zip(segments["area"], boxes))
    if unfilled:
        problems.append(f"E3: {unfilled} segments are not filled rectangles")
    if sorted(boxes) != sorted(truth.regions):
        missing = len(set(truth.regions) - set(boxes))
        problems.append(
            f"E3: {len(boxes)} segments vs {len(truth.regions)} regions, {missing} regions not recovered"
        )
    return problems


def check_objects(objects: pd.DataFrame, segments: pd.DataFrame) -> list[str]:
    """E4: exactly one PredClass per segment."""
    problems = []
    counts = objects.groupby("seg_id").size()
    if (counts != 1).any():
        problems.append(f"E4: {int((counts != 1).sum())} segments have several objects")
    if set(counts.index) != set(segments["seg_id"]):
        problems.append("E4: object ids differ from segment ids")
    if objects["PredClass"].isna().any():
        problems.append("E4: missing PredClass")
    return problems
