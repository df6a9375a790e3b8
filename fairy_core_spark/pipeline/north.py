"""The north-rule image pipeline as ONE linear Spark plan:

    validate (Arrow decode/phash/PSNR checks)
      -> S2 encode (tile cell at TILE_LEVEL)
      -> spatial join (broadcast ray-cast PIP, left-annotate)
      -> tile rollup (explicit repartition by cell prefix, then aggregate)

Single action, no persist, no double-scan: the PIP stage carries full rows
(`spatial_annotate_broadcast`), so the decode pass runs exactly once. The
executed plan crosses into Python three times (decode `MapInPandas`, encode
`ArrowEvalPython`, PIP `MapInPandas`) and shuffles once: the explicit
cell-prefix repartition. Both levels of the rollup group by
`(tile_prefix, tile_id, ...)`, so `hashpartitioning(tile_prefix)`
satisfies them and they add no `Exchange`. The geo side is a
`BroadcastExchange`, not a shuffle. This is the benchmark hot path and
the flagship `entry()` shape (SURVEY.md §2.6; BASELINE.json north_rule).

Scale notes (100 TB story): validation + encode + PIP are pure
projections — they scale with input splits and never shuffle. The geo
metadata join broadcasts when the geo side fits (bench scale); at
10^12-image scale both tables are written bucketed by image_id so the
join is shuffle-free, or AQE picks a sort-merge join — the pipeline code
is identical either way (`broadcast_geo` flag).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fairy_core_spark.operators.images import with_image_checks
from fairy_core_spark.spatial.ops import (
    TILE_LEVEL,
    spatial_annotate_broadcast,
    spatial_prefix_col,
    tile_aggregates_annotated,
    with_cell,
)

#: number of leading cell-id bits used as the output-layout partition key
PREFIX_BITS = 12


def north_pipeline(
    images: DataFrame,
    geo: DataFrame,
    polygons_pdf: pd.DataFrame,
    level: int = TILE_LEVEL,
    n_partitions: int | None = None,
    broadcast_geo: bool = True,
    cell_scheme: str = "s2",
    pyramid_levels: tuple[int, ...] | None = None,
) -> DataFrame:
    """images + geo + polygons -> per-tile rollup DataFrame (one action).

    ``cell_scheme``: "s2" (default; level 12 ~ H3 res 7 cell area) or
    "hex7" (aperture-7 hexagonal tiles, spatial/hex7.py — pass a hex7
    res as ``level``, e.g. 7). The plan shape is identical either way:
    both encoders are one Arrow projection.

    ``pyramid_levels``: None (default) emits the one-level rollup keyed
    by tile_id — the benchmarked shape, bit-identical to before this
    option existed. A tuple like (12, 8, 4) (max must equal ``level``)
    emits the multi-resolution rollup keyed by (res, cell): the pyramid
    explode is one codegen Generate(stack) riding the same single decode
    pass — no level adds a pass. Its rollup keeps its own two hash
    Exchanges (three shuffles in all), because a coarse cell can span two
    cell prefixes."""
    checked = with_image_checks(images)
    valid = checked.where(
        F.col("decode_ok") & F.col("dims_ok") & F.col("caption_ok")
    )
    g = F.broadcast(geo) if broadcast_geo else geo
    encoded = with_cell(
        valid.join(g, "image_id"), "lat", "lon", level, out="tile_id", scheme=cell_scheme
    )
    annotated = spatial_annotate_broadcast(encoded, polygons_pdf)
    # Scheme-aware spatial shuffle key (see spatial_prefix_col: the s2 and
    # hex7 id layouts need different prefixes to avoid a parallelism cliff).
    prefix = spatial_prefix_col("tile_id", cell_scheme, PREFIX_BITS)
    if n_partitions is None:
        n_partitions = images.sparkSession.sparkContext.defaultParallelism * 2
    tiled = annotated.withColumn("tile_prefix", prefix).repartition(
        n_partitions, "tile_prefix"
    )
    if pyramid_levels is None:
        return tile_aggregates_annotated(tiled)
    if max(int(l) for l in pyramid_levels) != level:
        raise ValueError(
            f"max(pyramid_levels) must equal the encode level {level}, "
            f"got {pyramid_levels}"
        )
    if cell_scheme == "hex7":
        from fairy_core_spark.spatial.hex7_ops import hex7_pyramid as _pyr
    else:
        from fairy_core_spark.spatial.ops import s2_pyramid as _pyr
    stacked = _pyr(tiled, cell_col="tile_id", levels=pyramid_levels)
    return tile_aggregates_annotated(stacked, keys=("res", "cell"))
