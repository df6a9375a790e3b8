"""Cross-modal geo x language audit for geotagged caption corpora.

A 10^12-image corpus with lat/lon metadata and captions needs a
region-level language audit before region-balanced sampling: which
languages appear in each region, at what share, and which is dominant —
the signal behind "this geotagged batch claims to be from region X but
its captions are overwhelmingly language Y" curation decisions, and the
denominator table for language-stratified per-region quotas.

This composes three already-certified primitives into ONE linear plan:
the broadcast PIP annotation (spatial/ops.spatial_annotate_broadcast, a
zero-shuffle Arrow projection), the stopword-argmax language id
(operators/text.lang_id, pure Column expressions), and an exact-integer
share computation (floor permille — no float accumulation). The only
shuffle is the final (polygon_id, lang) aggregate, whose cardinality is
|regions| x |languages| — trivially small at any corpus scale; the two
per-region windows run over that aggregated frame, not the corpus.

Reference lineage: extends fairy-core's per-column audit summaries
(reference src/fairy/validation/rulepack_runner.py summary shaping) to a
cross-table geo grouping the reference (single-node, no geo) cannot
express.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fairy_core_spark.operators.text import lang_id
from fairy_core_spark.spatial.ops import spatial_annotate_broadcast

__all__ = ["region_language_mix", "tile_term_affinity"]


def region_language_mix(
    df: DataFrame,
    polygons_pdf: pd.DataFrame,
    *,
    text_col: str = "text",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-region caption-language mix over a geotagged corpus.

    Returns one row per (polygon_id, lang) with:

    - ``n`` — captions of that language inside the region (a row inside
      several overlapping regions counts in each — containment
      semantics identical to :func:`spatial_join_broadcast`),
    - ``share_permille`` — exact ``floor(n * 1000 / region_total)``
      (int64; the double division is exact for counts < 2^53),
    - ``is_dominant`` — 1 for the region's plurality language
      (deterministic tie-break: higher n, then lexicographic code —
      the same tie discipline as ``lang_id`` itself).

    Plan: zero-shuffle broadcast-PIP annotation + language id ride the
    scan as one Arrow/codegen projection; rows outside every region are
    dropped before the aggregate (no wasted shuffle); the single
    exchange keys on (polygon_id, lang); both windows share the
    polygon_id partitioning over the already-aggregated tiny frame.
    """
    ann = spatial_annotate_broadcast(
        df.select(
            F.col(lat_col).alias("lat"),
            F.col(lon_col).alias("lon"),
            F.col(text_col).alias("_txt"),
        ),
        polygons_pdf,
        lat_col="lat",
        lon_col="lon",
        out="_pids",
    )
    per = (
        # two selects: putting explode in the SAME select as lang_id's
        # struct-array argmax makes Spark's Generate rewrite rename the
        # struct fields to col1/col2/col3 (FIELD_NOT_FOUND) — the
        # projection split costs nothing (both collapse into one stage)
        ann.select(lang_id(F.col("_txt")).alias("lang"), "_pids")
        .select("lang", F.explode("_pids").alias("polygon_id"))
        .groupBy("polygon_id", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_tot = Window.partitionBy("polygon_id")
    w_rank = Window.partitionBy("polygon_id").orderBy(
        F.col("n").desc(), F.col("lang").asc()
    )
    return (
        per.withColumn("_total", F.sum("n").over(w_tot))
        .withColumn("_rnk", F.row_number().over(w_rank))
        .select(
            "polygon_id",
            "lang",
            "n",
            F.floor(F.col("n") * F.lit(1000) / F.col("_total"))
            .cast("long")
            .alias("share_permille"),
            (F.col("_rnk") == 1).cast("long").alias("is_dominant"),
        )
    )


def tile_term_affinity(
    df: DataFrame,
    zoom: int,
    *,
    text_col: str = "text",
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 3,
    min_count: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Top-k regionally-characteristic caption terms per Web-Mercator
    tile — the "regional vocabulary" miner (place-name discovery,
    geo-topic tagging, region-conditioned curation).

    Ranking key is the exact-integer scaled lift

        ``lift_scaled = (n_tt * N * scale) div (n_tile * n_term)``

    where ``n_tt`` = term occurrences in the tile, ``n_tile`` = tokens
    in the tile, ``n_term`` = corpus-wide term occurrences, ``N`` =
    corpus tokens: ``scale``-quantized ``P(term|tile) / P(term)``.
    Integer end-to-end (ties inside one quantum fall to ``term ASC``),
    so rankings never smear across engines. Int64 bound: ``n_tt * N *
    scale`` must fit — at web scale pass a smaller ``scale`` (ordering
    only needs lift resolution, same contract as ``tfidf_topk``).
    ``min_count`` prunes noise terms BEFORE the joins (totals are
    computed over the unfiltered frame).

    Plan (100 TB): explode -> ONE (x, y, term) map-side-combined
    groupBy; tile totals and term totals are each one small aggregate
    of that frame (tile- and vocab-cardinality — AQE broadcasts the
    joins back); N is a broadcast scalar; the final rank window
    partitions by tile, so top-k plans as WindowGroupLimit (partial
    top-k before the exchange). Caption text never shuffles.
    """
    if k <= 0 or scale <= 0 or min_count < 1:
        raise ValueError("k and scale must be positive, min_count >= 1")
    from pyspark.sql import Window

    from fairy_core_spark.operators.text import tokens
    from fairy_core_spark.spatial.webmercator import tile_x_col, tile_y_col

    toks = df.select(
        tile_x_col(F.col(lon_col), zoom).alias("x"),
        tile_y_col(F.col(lat_col), zoom).alias("y"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    ).where(F.col("term") != "")
    tt = toks.groupBy("x", "y", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n_tt")
    )
    tile_tot = tt.groupBy("x", "y").agg(F.sum("n_tt").alias("n_tile"))
    term_tot = tt.groupBy("term").agg(F.sum("n_tt").alias("n_term"))
    n_total = tt.agg(F.sum("n_tt").alias("_n"))
    scored = (
        tt.where(F.col("n_tt") >= F.lit(int(min_count)))
        .join(tile_tot, ["x", "y"])
        .join(term_tot, "term")
        .crossJoin(F.broadcast(n_total))
        .select(
            "x",
            "y",
            "term",
            "n_tt",
            F.expr(
                f"(n_tt * _n * CAST({int(scale)} AS BIGINT)) div (n_tile * n_term)"
            ).alias("lift_scaled"),
        )
    )
    w = Window.partitionBy("x", "y").orderBy(
        F.col("lift_scaled").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= F.lit(int(k)))
        .withColumn("rk", F.col("rk").cast("long"))
    )
