"""The benchmark's workloads: closed-loop passes over the package's
public functions, with one client (each call starts when the last one
ended).

A *call* is the unit whose wall the benchmark reports: one stage of
the land-cover chain, or one registry query. Every call into a package
module is wrapped in ``tracer.span(name, layer, kind)``; with tracing
off the span is a no-op.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# Registry queries of the query workload. Iterative graph queries fire
# tens of eager jobs while the DataFrame is built; single-plan queries
# are dominated by the final action; the streaming query runs its
# micro-batch loop to completion while it is built.
GRAPH_QUERIES = ("brand_transition_scc",)
RELATIONAL_QUERIES = (
    "pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "broadcast_lookup",
)
STREAMING_QUERIES = ("stream_dedup",)
QUERY_MIX = GRAPH_QUERIES + RELATIONAL_QUERIES + STREAMING_QUERIES

# land-cover chain knobs (tile edge matches the generator's region tiles)
TILE = 32
HALO = 8
SEG_SCALE = 0.1
SEG_MIN_SIZE = 15
RF = {"num_trees": 10, "max_depth": 3, "feature_subset_strategy": "all", "bootstrap": False}
STACK_COLS = ["median_ndvi", "max_ndvi", "winter_ndwi"]
# E2 training rule: solar (12) above this median NDVI, else shadow (16)
# above SHADOW_MAX_NDVI, else urban (2); the relabel rules then turn
# shadow and low-confidence solar into urban
SOLAR_MEDIAN_NDVI = 0.2
SHADOW_MAX_NDVI = 0.3
SHAPE_COLS = ["rectangularity", "elongation", "compactness", "shape_index", "vertex_density"]


@dataclass
class Call:
    name: str
    wall_s: float
    ok: bool
    error: str = ""


def query_layer(name: str) -> str:
    return "streaming" if name in STREAMING_QUERIES else "plans"


def run_query(spark, queries, name: str, data_dir: str, tracer):
    """One registry query, forced with the noop sink. Returns the
    DataFrame so the caller can check it outside the timed region."""
    layer = query_layer(name)
    with tracer.span(name, layer, "build"):
        df = queries[name](spark, data_dir)
    with tracer.span(name, layer, "action"):
        df.write.format("noop").mode("overwrite").save()
    return df


# --- land-cover chain (E1 -> E4) --------------------------------------------


def lulc_e1(spark, scene_paths: list[str], out: str, tracer) -> None:
    """Feature stack: NDVI per scene, median and max-NDVI composites."""
    from pyspark.sql import functions as F

    from tb_scale_spatial_data_pipeline_spark.functions.indices import ndvi, ndwi
    from tb_scale_spatial_data_pipeline_spark.functions.sentinels import (
        null_to_sentinel,
        sentinel_to_null,
    )
    from tb_scale_spatial_data_pipeline_spark.operators.composites import (
        argmax_composite,
        grouped_median,
    )
    from tb_scale_spatial_data_pipeline_spark.raster.tiles import assign_tiles
    from tb_scale_spatial_data_pipeline_spark.sources.geotiff import tiff_to_tile_table
    from tb_scale_spatial_data_pipeline_spark.sources.sinks import write_tiled

    scenes = None
    with tracer.span("read_scenes", "sources", "read"):
        for s, path in enumerate(scene_paths):
            t = tiff_to_tile_table(spark, path, ["green", "red", "nir"])
            t = t.withColumn("scene", F.lit(s))
            scenes = t if scenes is None else scenes.unionByName(t)
    with tracer.span("ndvi", "functions", "build"):
        px = scenes.select(
            "x", "y", "scene",
            *[sentinel_to_null(F.col(b)).alias(b) for b in ("green", "red", "nir")],
        )
        px = px.withColumn("ndvi", ndvi(F.col("nir"), F.col("red")))
        px = px.withColumn("ndwi", ndwi(F.col("green"), F.col("nir")))
    with tracer.span("composites", "operators", "build"):
        med = grouped_median(px, ["x", "y"], "ndvi", out_col="median_ndvi")
        win = argmax_composite(px, ["x", "y"], "ndvi", ["ndwi"])
        stack = med.join(win, ["x", "y"], "left").select(
            "x", "y", "median_ndvi", "max_ndvi",
            null_to_sentinel(F.col("ndwi")).alias("winter_ndwi"),
        )
        stack = assign_tiles(stack, TILE)
    with tracer.span("write_stack", "operators", "action"):
        write_tiled(stack, out)


def lulc_e2(spark, stack_path: str, out: str, tracer) -> None:
    """Pixel classification: RF on the stack, then the relabel rules."""
    from pyspark.sql import functions as F

    from tb_scale_spatial_data_pipeline_spark.ml.classify import predict, train_rf
    from tb_scale_spatial_data_pipeline_spark.operators.relabel import (
        SHADOW,
        SOLAR,
        URBAN,
        solar_shadow_rules,
    )
    from tb_scale_spatial_data_pipeline_spark.sources.sinks import write_tiled

    with tracer.span("read_stack", "sources", "read"):
        stack = spark.read.parquet(stack_path)
    labeled = stack.withColumn(
        "label",
        F.when(F.col("median_ndvi") > SOLAR_MEDIAN_NDVI, float(SOLAR))
        .when(F.col("max_ndvi") > SHADOW_MAX_NDVI, float(SHADOW))
        .otherwise(float(URBAN)),
    )
    with tracer.span("train_pixel_rf", "ml", "fit"):
        model = train_rf(
            labeled.where((F.col("x") + F.col("y")) % 3 == 0), STACK_COLS, "label", **RF
        )
    with tracer.span("predict_pixels", "ml", "build"):
        scored = predict(model, labeled.drop("label"), out_col="pred")
    with tracer.span("relabel", "operators", "build"):
        pixels = scored.withColumn(
            "final_label",
            solar_shadow_rules(F.col("pred"), F.col("pred_conf")).cast("int"),
        ).select("x", "y", "tile_x", "tile_y", "median_ndvi", "max_ndvi", "final_label")
    with tracer.span("write_pixels", "ml", "action"):
        write_tiled(pixels, out)


def lulc_e3(spark, pixels_path: str, out: str, tracer) -> None:
    """Segmentation over halo tiles, then per-segment shape metrics."""
    from tb_scale_spatial_data_pipeline_spark.raster.segmentation import (
        segment_shape_metrics,
        segment_tiles,
    )
    from tb_scale_spatial_data_pipeline_spark.raster.tiles import halo_duplicate
    from tb_scale_spatial_data_pipeline_spark.sources.sinks import write_vector

    with tracer.span("read_pixels", "sources", "read"):
        pixels = spark.read.parquet(pixels_path).drop("tile_x", "tile_y")
    with tracer.span("segment", "raster", "build"):
        tiled = halo_duplicate(pixels, tile_size=TILE, halo=HALO)
        segs = segment_tiles(
            tiled, ["median_ndvi", "max_ndvi", "final_label"],
            scale=SEG_SCALE, min_size=SEG_MIN_SIZE,
        )
        metrics = segment_shape_metrics(segs)
    with tracer.span("write_segments", "raster", "action"):
        write_vector(metrics, out)


def lulc_e4(spark, segments_path: str, out: str, tracer) -> None:
    """Object classification: main and backup RF, dual-model predict."""
    from pyspark.sql import functions as F

    from tb_scale_spatial_data_pipeline_spark.ml.classify import dual_model_predict, train_rf
    from tb_scale_spatial_data_pipeline_spark.sources.sinks import read_vector, write_vector

    with tracer.span("read_segments", "sources", "read"):
        segs = read_vector(spark, segments_path)
    labeled = segs.withColumn(
        "label",
        F.when(F.col("area") > 150, 1.0)
        .when(F.col("elongation") > 1.5, 2.0)
        .otherwise(3.0),
    )
    train = labeled.where(F.col("seg_id") % 2 == 0)
    with tracer.span("train_object_rf", "ml", "fit"):
        main = train_rf(train, ["area", "perimeter", *SHAPE_COLS], "label", **RF)
        backup = train_rf(train, SHAPE_COLS, "label", **RF)
    with tracer.span("dual_predict", "ml", "build"):
        # every third object lacks its area, so the backup model serves it
        probe = labeled.drop("label").withColumn(
            "area",
            F.when(F.col("seg_id") % 3 == 0, F.lit(None)).otherwise(F.col("area")).cast("double"),
        )
        objects = dual_model_predict(probe, main, backup, ["area"]).select(
            "seg_id", "geometry", "PredClass"
        )
    with tracer.span("write_objects", "ml", "action"):
        write_vector(objects, out)


LULC_STAGES = (
    ("E1_stack", lulc_e1, "e1_stack"),
    ("E2_pixels", lulc_e2, "e2_pixels"),
    ("E3_segments", lulc_e3, "e3_segments"),
    ("E4_objects", lulc_e4, "e4_objects"),
)


def lulc_stage_inputs(scene_paths: list[str], pass_dir: str) -> list:
    """Input of each stage: the scene files, then the previous product."""
    products = [os.path.join(pass_dir, d) for _, _, d in LULC_STAGES]
    return [scene_paths, *products[:-1]], products
