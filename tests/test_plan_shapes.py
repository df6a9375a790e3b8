"""Physical-plan contracts of registry entries: the shuffle and Python-
crossing counts their docstrings promise, read from the executed plan at
sf0.001 without running the query. Python nodes are the Arrow boundary
crossings (decode, encode, refine kernels) — the cost to keep visible.

Each row is (entry, shuffle Exchanges, Python nodes, required plan text).
Shuffles count ``Exchange`` nodes only; a ``BroadcastExchange`` ships the
small side once and is asserted through the required text where the claim
is "broadcast". A row that fails means the plan changed shape: update the
row only together with the change that meant to move it.
"""

from __future__ import annotations

import re

import pytest

from __spark_entry__ import SF0001
from fairy_core_spark.queries import queries

_NODE = re.compile(r"^[\s:+\-]*(?:\*\(\d+\) )?(\w+)", re.M)
_PYTHON = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMap\w*InPandas|AggregateInPandas|WindowInPandas"
)

CLAIMS = [
    # one fused aggregate over a 2-column read: the only exchange gathers
    # the 1-row partials
    ("rule_required_nullish", 1, 0,
     ("HashAggregate", "ReadSchema: struct<c_name:string,c_mktsegment:string>")),
    # left-anti join against the broadcast distinct key side
    ("rule_fk_orphans", 2, 0, ("LeftAnti", "BroadcastExchange")),
    # dimension filter pushed into the scan; both joins broadcast
    ("q3_top_revenue_orders", 1, 0,
     ("EqualTo(c_mktsegment,BUILDING)", "BroadcastHashJoin", "TakeOrderedAndProject")),
    # 5-way star join: every dimension broadcasts, the fact side shuffles once
    ("q5_local_supplier_volume", 1, 0, ("BroadcastHashJoin", "EqualTo(r_name,ASIA)")),
    # 'R' filter pushed to the fact scan, one groupBy on custkey, top-20
    ("q10_returned_items", 1, 0, ("EqualTo(l_returnflag,R)", "TakeOrderedAndProject")),
    # one window shuffle with a partial top-k before it
    ("window_topk_per_type", 1, 0, ("WindowGroupLimit",)),
    # native hash + map-side-combined aggregate, no Python
    ("dedup_simhash", 1, 0, ("md5", "partial_")),
    # one shuffle on user; session ids from a running-sum window
    ("sessionize_users", 1, 0, ("Window",)),
    # both sides unioned into ONE window, never a left x right join
    ("asof_last_purchase", 1, 0, ("Union", "Window")),
    # one Expand + partial aggregate for all three granularities
    ("agg_rollup_nation", 1, 0, ("Expand", "BroadcastHashJoin")),
    # broadcast point-in-polygon: one Python pass, zero shuffle
    ("spatial_pip_join", 0, 1, ("MapInPandas",)),
    # cell-cover equi-join + native haversine refine: no cross join, no
    # shuffle; the encode and ring kernels are four Arrow crossings
    ("spatial_radius_join", 0, 4, ("BroadcastHashJoin", "ArrowEvalPython")),
    # one Arrow encode feeding one window shuffle with a partial top-1
    ("spatial_quota_per_cell", 1, 1, ("ArrowEvalPython", "WindowGroupLimit")),
    # broadcast sites into a nested loop; points never shuffle against
    # each other, only the per-point pick does
    ("spatial_voronoi_assign", 1, 0, ("BroadcastNestedLoopJoin", "WindowGroupLimit")),
    # URL canonicalization is a native projection: nothing else
    ("text_canonical_urls", 0, 0, ()),
]


def _shape(df):
    """(shuffle Exchanges, Python nodes, plan text) of ``df``'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = _NODE.findall(plan)
    return nodes.count("Exchange"), sum(1 for n in nodes if _PYTHON.fullmatch(n)), plan


@pytest.mark.parametrize(
    "name,shuffles,python,required", CLAIMS, ids=[c[0] for c in CLAIMS]
)
def test_plan_shape(spark, name, shuffles, python, required):
    n_shuffles, n_python, plan = _shape(queries()[name](spark, SF0001))
    assert n_shuffles == shuffles, plan
    assert n_python == python, plan
    for text in required:
        assert text in plan, (text, plan)
    assert "CartesianProduct" not in plan, plan


def test_tile_rollups_shuffle_once(spark, tmp_path):
    """Both tile rollups group by (tile_prefix, tile_id, ...), so the
    cell-prefix repartition is their only shuffle: ``north_pipeline`` has
    one hash Exchange and three Python crossings (decode, encode, PIP),
    and the runner's ``tile`` stage one Exchange."""
    from fairy_core_spark.datagen.images import geo_df, images_df, polygons_pdf
    from fairy_core_spark.pipeline.north import north_pipeline
    from fairy_core_spark.pipeline.runner import image_pipeline_stages

    # parquet inputs, as in the benchmark: the generators are Python nodes
    images_df(spark, 64).write.parquet(str(tmp_path / "images"))
    geo_df(spark, 64).write.parquet(str(tmp_path / "geo"))
    images = spark.read.parquet(str(tmp_path / "images"))
    geo = spark.read.parquet(str(tmp_path / "geo"))
    north = north_pipeline(images, geo, polygons_pdf(4))
    n_shuffles, n_python, plan = _shape(north)
    assert (n_shuffles, n_python) == (1, 3), plan

    tile = next(s for s in image_pipeline_stages(64) if s.name == "tile")
    encoded = spark.createDataFrame(
        [(1, 5 << 52, 64, 48, 7)], "image_id long, cell long, w int, h int, phash long"
    )
    n_shuffles, n_python, plan = _shape(tile.transform(spark, {"encoded": encoded}))
    assert (n_shuffles, n_python) == (1, 0), plan
