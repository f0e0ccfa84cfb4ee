"""Cover PRODUCTION pipeline (SURVEY.md §3.2): polygon -> mixed-precision
cell cover — the process that produced the reference's citycover.csv
(jurisdiction polygons x grid -> per-municipality cover lists, with border
cells refined to deeper/half cells).

Spark-native iterative refinement: start from the coarse full-grid level,
classify every candidate cell by clipped area (one Arrow crossing per level:
numpy S–H clip), emit cells FULLY inside, refine PARTIAL cells via native
``cell_children`` explode, repeat to ``max_depth``; partial leaves at
max_depth are emitted as boundary cells.  Each level is one small Spark job;
the frontier shrinks geometrically.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells_sql
from ..grid import grids
from .coverage import clip_area_udf


def _cells_at_depth(spark: SparkSession, depth: int) -> DataFrame:
    """All Grid B cells of the 16-cell cover at ``depth`` (native generate)."""
    r = depth - 4
    return spark.range(16 << r).select(
        (F.shiftleft(F.col("id"), 6) + depth).alias("cell"))


def full_cell_area(depth: int) -> float:
    """Planar area of a full Grid B cell at ``depth`` (exact powers of two)."""
    r = depth - 4
    side_x = grids.L0_SIDE / (1 << (r // 2))
    side_y = grids.L0_SIDE / (1 << ((r + 1) // 2))
    return side_x * side_y


def polygon_cover(spark: SparkSession, ring: np.ndarray,
                  base_depth: int = 8, max_depth: int = 14,
                  trace_name: str | None = None) -> DataFrame:
    """polygon -> DataFrame(cell, kind['full'|'border'], area_m2).

    Invariants (pytest-gated): full cells are entirely inside; the sum of
    full-cell areas + border-cell clipped areas equals the polygon area; any
    point inside the polygon has an ancestor among the emitted cells.

    With ``trace_name``, every classified frontier level (cell, depth, clip)
    is materialized via the queries/mat.py protocol and the RESULT is rebuilt
    from the read-back bytes — the full/border classification and the
    emission rule are then re-derived independently by a DuckDB oracle over
    the same parquet, leaving only the numpy clip kernel itself gated by the
    area-partition pytests (the same hash-family/join-logic split as the
    MinHash banding oracles).
    """
    if (max_depth - base_depth) % 2 or max_depth < base_depth:
        raise ValueError(
            f"max_depth - base_depth must be a non-negative multiple of 2, "
            f"got {base_depth}..{max_depth}")
    area = clip_area_udf(ring)

    def classify(cells: DataFrame, depth: int) -> DataFrame:
        full_area = full_cell_area(depth)
        return cells.withColumn("clip", area(F.col("cell"))) \
                    .withColumn("__full", F.col("clip") >= full_area * (1 - 1e-12))

    # localCheckpoint each frontier: the per-level union branches otherwise
    # re-evaluate every ancestor level's clip UDF chain once per deeper level
    frontier = classify(_cells_at_depth(spark, base_depth), base_depth) \
        .filter(F.col("clip") > 0).localCheckpoint(eager=True)
    emitted, frames = [], []
    depth = base_depth
    while depth < max_depth:
        frames.append(frontier.select("cell", F.lit(depth).alias("depth"), "clip"))
        emitted.append(frontier.filter(F.col("__full")).select(
            "cell", F.lit("full").alias("kind"), F.col("clip").alias("area_m2")))
        partial = frontier.filter(~F.col("__full"))
        depth += 2
        children = partial.select(
            F.explode(cells_sql.cell_children(F.col("cell"), 2)).alias("cell"))
        frontier = classify(children, depth).filter(F.col("clip") > 0) \
            .localCheckpoint(eager=True)
    frames.append(frontier.select("cell", F.lit(depth).alias("depth"), "clip"))
    emitted.append(frontier.select(
        "cell",
        F.when(F.col("__full"), "full").otherwise("border").alias("kind"),
        F.col("clip").alias("area_m2")))

    if trace_name is not None:
        from ..queries.mat import materialize

        tr = frames[0]
        for f in frames[1:]:
            tr = tr.unionByName(f)
        trace = materialize(tr, trace_name)
        # rebuild the result FROM the read-back bytes, re-deriving the full
        # flag from (clip, depth) — the oracle applies the same rule in SQL
        thr = None
        for d in range(base_depth, max_depth + 1, 2):
            lit = F.lit(full_cell_area(d) * (1 - 1e-12))
            thr = (F.when(F.col("depth") == d, lit) if thr is None
                   else thr.when(F.col("depth") == d, lit))
        isfull = F.col("clip") >= thr
        return trace.filter(isfull | (F.col("depth") == max_depth)).select(
            "cell",
            F.when(isfull, "full").otherwise("border").alias("kind"),
            F.col("clip").alias("area_m2"))

    out = emitted[0]
    for e in emitted[1:]:
        out = out.unionByName(e)
    return out
