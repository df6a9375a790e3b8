"""resample_tracks: hand-computed interpolation, grid semantics, guards."""

import datetime as dt

from pyspark.sql import functions as F


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id long, px long, py long"
    )


G = 1_000_000  # 1 s grid for readable tests
EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(s: float) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=s)


def _run(spark, rows, **kw):
    from fairy_core_spark.spatial.trajectory import resample_tracks

    kw.setdefault("interval_us", G)
    out = resample_tracks(_df(spark, rows), **kw)
    return sorted(
        (r["user_id"], r["grid_us"], r["px"], r["py"]) for r in out.collect()
    )


def test_linear_interpolation_exact(spark):
    # u: (t=0.5s, x=0) -> (t=3.5s, x=300): grid hits at 1s, 2s, 3s
    rows = [("u", _ts(0.5), 1, 0, 0), ("u", _ts(3.5), 2, 300, -300)]
    base = int(EPOCH.timestamp()) * 1_000_000
    got = _run(spark, rows)
    # x(t) = 0 + floor(300 * (t - 0.5e6) / 3e6); negative branch floors too
    want = []
    for k in (1, 2, 3):
        gt = base + k * G
        nx = 300 * (gt - (base + 500_000))
        ny = -300 * (gt - (base + 500_000))
        den = 3_000_000
        want.append(("u", gt, nx // den, ny // den))  # python // floors
    assert got == sorted(want)


def test_grid_interval_half_open(spark):
    # ping exactly ON the grid at t=1s: excluded at its own pair start,
    # included as the END of the previous pair
    rows = [("u", _ts(0.0), 1, 0, 0), ("u", _ts(1.0), 2, 100, 0),
            ("u", _ts(1.5), 3, 200, 0)]
    base = int(EPOCH.timestamp()) * 1_000_000
    got = _run(spark, rows)
    # pair (0,1]: grid at 1s -> x=100 exactly (endpoint). pair (1,1.5]: none
    assert got == [("u", base + G, 100, 0)]


def test_gap_guard_emits_nothing(spark):
    rows = [("u", _ts(0.0), 1, 0, 0), ("u", _ts(100.0), 2, 1000, 0)]
    assert _run(spark, rows, max_gap_intervals=8) == []
    assert len(_run(spark, rows, max_gap_intervals=200)) == 100


def test_equal_timestamps_skip_pair(spark):
    rows = [("u", _ts(0.5), 1, 0, 0), ("u", _ts(0.5), 2, 999, 0),
            ("u", _ts(2.5), 3, 100, 0)]
    got = _run(spark, rows)
    # segment starts from event 2 (order tiebreak): x0=999 at t=0.5
    base = int(EPOCH.timestamp()) * 1_000_000
    den = 2_000_000
    want = []
    for k in (1, 2):
        gt = base + k * G
        nx = (100 - 999) * (gt - (base + 500_000))
        want.append(("u", gt, 999 + nx // den, 0))
    assert got == sorted(want)


def test_pre_1970_grid_stays_inside_pair(spark):
    """negative epochs: grid bounds floor-align, so every emitted instant
    lies in (t0, t1] — truncating division would start one step late and
    end one step past t1."""
    from fairy_core_spark.spatial.trajectory import resample_tracks

    pings = [(-3_500_000, 1, 0), (-500_000, 2, 300), (1_250_000, 3, 300)]
    df = spark.createDataFrame(pings, "us long, event_id long, px long").select(
        F.lit("u").alias("user_id"),
        F.timestamp_micros("us").alias("ts"),
        "event_id",
        "px",
        F.lit(0).cast("long").alias("py"),
    )
    out = resample_tracks(df, interval_us=G).collect()
    got = sorted((r["grid_us"], r["px"]) for r in out)
    # pair (-3.5s, -0.5s] holds -3s, -2s, -1s (x = 300 * (gt - t0) / 3s);
    # pair (-0.5s, 1.25s] holds 0 and 1s
    assert got == [(-3 * G, 50), (-2 * G, 150), (-1 * G, 250), (0, 300), (G, 300)]
