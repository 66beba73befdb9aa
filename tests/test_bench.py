"""bench.py helpers that must fail loudly instead of reporting zeros."""

from __future__ import annotations

import pytest

import bench


def test_max_task_metrics_raises_without_the_ui(spark):
    ran = []
    with pytest.raises(RuntimeError, match="no Spark UI"):
        bench._max_task_metrics(spark, "no_ui", lambda: ran.append(spark.range(10).count()))
    assert ran == [10]
