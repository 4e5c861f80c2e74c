"""get_spark sizes its heap from the host and warms up once per context."""

import pytest

from chronoxtract_spark.session import driver_heap, get_spark

GIB_KIB = 1024 * 1024


@pytest.mark.parametrize(
    "total_gib, available_gib, override, want",
    [
        # half of MemTotal, pre-touched because it fits
        (15, 14, None, (7680, True)),
        # capped at 48g on a large host
        (512, 500, None, (48 * 1024, True)),
        # a heap larger than MemAvailable is not pre-touched
        (15, 6, None, (7680, False)),
        # SPARK_DRIVER_MEM overrides the default, in either unit
        (15, 14, "8g", (8192, True)),
        (15, 14, "3072m", (3072, True)),
        (15, 14, "48g", (48 * 1024, False)),
    ],
)
def test_driver_heap(total_gib, available_gib, override, want):
    meminfo = {"MemTotal": total_gib * GIB_KIB, "MemAvailable": available_gib * GIB_KIB}
    assert driver_heap(meminfo, override) == want


def test_repeat_get_spark_starts_no_job(spark):
    sc = spark.sparkContext
    group = "cx_repeat_get_spark"
    sc.setJobGroup(group, "get_spark on a live session")
    try:
        again = get_spark(app_name="cx_tests", master="local[4]", shuffle_partitions=4)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert again.sparkContext is sc
    assert sc.statusTracker().getJobIdsForGroup(group) == []
