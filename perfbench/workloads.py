"""The benchmark's operations: each reads its generated parquet inputs,
calls the package's public functions and writes the result with the
user's sink, ``sources.io.save_table``.

An operation is ``Op(name, layer, metric, items, run)``: ``layer`` names
the package module the call enters (the traced run's span), ``metric``
the end-to-end throughput it feeds, ``items`` the input count that
throughput counts, and ``run(out_dir)`` does one call and returns the
paths it wrote.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from osm_chordify_spark.operators import graph, intersect, intersect_dist, knn, pages
from osm_chordify_spark.sources.io import save_table

@dataclass
class Op:
    name: str
    layer: str
    metric: str
    items: int
    run: Callable[[str], dict]


def _lines(spark, fx):
    def run(out):
        edges = spark.read.parquet(fx["edges"])
        zones = spark.read.parquet(fx["zones"])
        path = os.path.join(out, "lines.parquet")
        save_table(intersect.intersect_lines_with_zones(edges, zones, keep_geometry=False), path)
        return {"lines": path}
    return run


def _points(spark, fx):
    def run(out):
        pts = spark.read.parquet(fx["points"])
        zones = spark.read.parquet(fx["zones"])
        path = os.path.join(out, "points.parquet")
        save_table(intersect_dist.nearest_zone_dist(pts, zones, zone_id_col="zid"), path)
        return {"points": path}
    return run


def pages_chain(spark, fx, zones, upto: str = "pip"):
    """The flagship chain over the generated pages, cut after ``upto``
    (``read``, ``extract``, ``tile`` or ``pip``)."""
    df = spark.read.parquet(fx["pages"])
    if upto == "read":
        return df
    df = pages.with_extracted_text_arrow(df)
    if upto == "extract":
        return df
    df = pages.with_cells(pages.with_geo_anchors(df)).select(
        "url", "lon", "lat", "cell_r7", "cell_r8", "cell_r9", "cell_r10",
        (F.col("extracted_text") == F.col("text")).alias("text_match"),
    )
    if upto == "tile":
        return df
    return pages.pip_assign_arrow(df, zones=zones)


def county_list(spark, fx):
    return [(r["zid"], bytes(r["geometry"])) for r in spark.read.parquet(fx["zones"]).collect()]


def _pages(spark, fx):
    def run(out):
        assigned = os.path.join(out, "pages.parquet")
        save_table(pages_chain(spark, fx, county_list(spark, fx)), assigned)
        rollup = spark.read.parquet(assigned).groupBy("zone_id").agg(
            F.count("*").alias("page_count"),
            F.sum(F.when(F.col("text_match"), 0).otherwise(1)).alias("text_mismatches"),
        )
        path = os.path.join(out, "rollup.parquet")
        save_table(rollup, path)
        return {"pages": assigned, "rollup": path}
    return run


def _chordify(spark, fx):
    def run(out):
        path = os.path.join(out, "chordify.parquet")
        save_table(graph.chordify(spark.read.parquet(fx["edges"])), path)
        return {"chordify": path}
    return run


def knn_segments(spark, fx):
    return knn.segment_midpoints(spark.read.parquet(fx["edges"])).select(
        F.col("osmid").alias("seg_id"), "mx", "my"
    )


def _knn(spark, fx):
    def run(out):
        pts = spark.read.parquet(fx["points"])
        path = os.path.join(out, "knn.parquet")
        save_table(knn.knn_match(pts, knn_segments(spark, fx), k=2), path)
        return {"knn": path}
    return run


def operations(workload: str, spark, fx: dict, rows: dict) -> list[Op]:
    if workload == "tracts":
        return [Op("lines", "intersect", "edges_per_s", rows["edges"], _lines(spark, fx)),
                Op("points", "intersect_dist", "points_per_s", rows["points"], _points(spark, fx))]
    if workload == "counties":
        return [Op("lines", "intersect", "edges_per_s", rows["edges"], _lines(spark, fx)),
                Op("pages", "pages", "points_per_s", rows["pages"], _pages(spark, fx))]
    if workload == "network":
        return [Op("chordify", "graph", "edges_per_s", rows["edges"], _chordify(spark, fx)),
                Op("knn", "knn", "points_per_s", rows["points"], _knn(spark, fx))]
    raise ValueError(f"unknown workload {workload!r}")
