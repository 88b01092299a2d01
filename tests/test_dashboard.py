"""EP2/EP3 dashboards (the reference's entire query workload): parity of
the fused ``collect_dashboard`` plan with the per-chart plans and its
Spark job counts on a synthetic cleaned fact, plus parity against the
reference's golden warehouse numbers where those assets exist."""

from __future__ import annotations

import os
import uuid

import numpy as np
import pytest
from conftest import SYNTHETIC_CLEANED_SCHEMA, synthetic_cleaned_rows
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.plans.dashboard import (
    PAGES,
    collect_dashboard,
    collect_each,
    dashboard,
    mode_dashboard,
    quarterly_dashboard,
)
from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact
from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

REF_DB = "/root/reference/assets/oltp/dummy_ojol_transactions_raw_only.sqlite"
FACT_TABLE = "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"

needs_reference = pytest.mark.skipif(
    not os.path.exists(REF_DB), reason="reference assets not present"
)


def _assert_same_rows(fused: dict, each: dict) -> None:
    """Exact equality, chart order, value types and NaNs included."""
    assert list(fused) == list(each)
    for name in each:
        assert repr(fused[name]) == repr(each[name]), name


@pytest.mark.parametrize("kind", list(PAGES))
def test_collect_dashboard_matches_per_chart_collects(spark, synthetic_cleaned, kind):
    """Every page of the synthetic fact (NULL and NaN values, an all-NULL
    column, a one-value partition, NULL nav keys), a missing key and an
    empty snapshot: the fused plan returns the per-chart rows exactly,
    for the whole page and for each chart alone (a PNG route)."""
    col = PAGES[kind].key_col
    keys = sorted(
        r[0] for r in synthetic_cleaned.select(col).distinct().collect() if r[0] is not None
    )
    for key in keys + ["MISSING"]:
        each = collect_each(dashboard(synthetic_cleaned, kind, key))
        _assert_same_rows(collect_dashboard(synthetic_cleaned, kind, key), each)
        if key == keys[0]:
            for name in each:
                alone = collect_dashboard(synthetic_cleaned, kind, key, [name])
                _assert_same_rows(alone, {name: each[name]})
    empty = spark.createDataFrame([], SYNTHETIC_CLEANED_SCHEMA)
    each = collect_each(dashboard(empty, kind, keys[0]))
    assert all(rows == [] for rows in each.values())
    _assert_same_rows(collect_dashboard(empty, kind, keys[0]), each)


def test_synthetic_fixture_covers_the_edge_cases(synthetic_cleaned):
    """The parity test above is only as strong as its fixture. Its edge
    cases pin today's histogram semantics: ``least`` skips NULL, so NULL
    values count in the last bin, and an all-NULL column is one last-bin
    row with NULL edges."""
    rows = collect_dashboard(synthetic_cleaned, "quarterly", "2018Q4")
    assert len(rows["table"]) == 200 and len(rows["geo_from"]) == 50
    size = synthetic_cleaned.filter(F.col("quarter") == "2018Q4").count()
    assert sum(r["n"] for r in rows["hist_distance_rounded"]) == size  # NULLs too
    assert rows["nav_quarters"][0] == {"quarter": None}
    assert rows["nav_modes"][0] == {"mode": None}
    assert rows["hist_mode"][0] == {"mode": None, "n": 1}
    one = collect_dashboard(synthetic_cleaned, "quarterly", "2019Q2")
    assert one["hist_amount_delivery"] == [
        {"bin": 0, "bin_start": 12000.0, "bin_end": 12000.0, "n": 3}
    ]
    shop = collect_dashboard(synthetic_cleaned, "mode", "SHOP", ["hist_distance_rounded"])
    [all_null] = shop["hist_distance_rounded"]
    assert all_null["bin"] == 9 and all_null["bin_start"] is None
    nan = collect_dashboard(synthetic_cleaned, "quarterly", "2019Q1", ["hist_amount_delivery"])
    assert all(r["bin_end"] != r["bin_end"] for r in nan["hist_amount_delivery"])


def test_collect_dashboard_rejects_unknown_charts(synthetic_cleaned):
    with pytest.raises(KeyError):
        collect_dashboard(synthetic_cleaned, "quarterly", "2018Q4", ["hist_hour_start"])


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, read per job group from the status tracker."""
    sc = spark.sparkContext
    group = f"dashboard-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dashboard_job_counts(spark):
    """A full page is 5 jobs (33-41 per chart), one chart at most 4 (6 per
    chart), the nav index 2 (8 per chart). Each reply goes through the
    serving edge's ``respond``, so a fallback to per-chart collects fails
    here. The input has two partitions, as a one-partition input needs no
    exchange to aggregate and would hide jobs; the first holds more than
    200 rows of each page, as the table's ``limit`` runs one more job per
    widening round when the first partition it scans is short."""
    import serve

    cleaned = spark.createDataFrame(
        synthetic_cleaned_rows(2400), SYNTHETIC_CLEANED_SCHEMA
    ).coalesce(2).cache()
    cleaned.count()
    try:
        for path, most in [
            ("/quarterly/2018Q4", 5),
            ("/mode/BIKE", 5),
            ("/quarterly/2018Q4/hist_duration.png", 4),
            ("/mode/CAR/hist_hour_end.png", 4),
            ("/", 2),
        ]:
            jobs = _jobs(spark, lambda: serve.respond(cleaned, path))
            assert 0 < jobs <= most, (path, jobs)
    finally:
        cleaned.unpersist()


@pytest.fixture(scope="module")
def cleaned(spark):
    raw = read_sqlite_table(spark, REF_DB, FACT_TABLE, all_string=True)
    df = clean_fact(raw).cache()
    yield df
    df.unpersist()


@needs_reference
def test_quarterly_dashboard_2018q4(cleaned):
    dash = quarterly_dashboard(cleaned, "2018Q4")
    assert dash["table"].count() == 1113  # golden partition size
    # histogram = exactly what plt.hist computes on the partition
    vals = np.array(
        [r[0] for r in dash["table"].select("amount_delivery").collect()]
    )
    want, _ = np.histogram(vals, bins=10)
    got = {r["bin"]: r["n"] for r in dash["hist_amount_delivery"].collect()}
    assert got == {i: int(c) for i, c in enumerate(want) if c > 0}
    # the categorical mode histogram sums to the partition size
    mode_counts = {r["mode"]: r["n"] for r in dash["hist_mode"].collect()}
    assert sum(mode_counts.values()) == 1113
    # nav keys: ordered quarters (pandas groupby sorts keys — parity)
    navs = [r["quarter"] for r in dash["nav_quarters"].collect()]
    assert navs == ["2018Q3", "2018Q4", "2019Q1"]
    # geo scatter carries exactly the plotted columns
    assert dash["geo_from"].columns == ["from_lat", "from_lng", "mode"]


@needs_reference
def test_mode_dashboard_bike(cleaned):
    import numpy as np

    dash = mode_dashboard(cleaned, "BIKE")
    assert dash["table"].count() == 594  # golden mode size
    # hour chart = plt.hist on numeric hours: 10 equal-width bins
    hour_vals = np.array(
        [r[0] for r in dash["table"].select(F.hour("date_start")).collect()]
    )
    want, _ = np.histogram(hour_vals, bins=10)
    got = {r["bin"]: r["n"] for r in dash["hist_hour_start"].collect()}
    assert got == {i: int(c) for i, c in enumerate(want) if c > 0}
    navs = [r["mode"] for r in dash["nav_modes"].collect()]
    assert navs == ["BIKE", "CAR", "FOOD", "SHOP"]
    assert [r["quarter"] for r in dash["nav_quarters"].collect()] == [
        "2018Q3",
        "2018Q4",
        "2019Q1",
    ]
    # fixed-point, order-independent money check (CLAUDE.md invariant 1)
    from learn_etl_data_warehouse_spark.functions.aggregates import fixed_point_sum

    total = dash["table"].agg(
        fixed_point_sum(F.col("amount_delivery"), 100).alias("s")
    ).collect()[0]["s"]
    assert total == 4_137_000.0
