"""The job's per-partition metrics accumulator, without a Spark session."""

from fuzzy_search_spark.spark.job import _MetricsParam


def test_metrics_keep_one_row_per_partition():
    """A partition computed again replaces its earlier row: the merged
    rows count each partition once, whatever order the updates arrive in."""
    param = _MetricsParam()
    acc = param.zero({})
    for update in ({0: [3, 30, 2, 5]}, {1: [4, 40, 1, 6]},
                   {0: [3, 30, 2, 9]}):
        acc = param.addInPlace(acc, update)
    assert acc == {0: [3, 30, 2, 9], 1: [4, 40, 1, 6]}
    assert sum(row[0] for row in acc.values()) == 7

