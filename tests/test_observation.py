"""The one ``Observation`` read policy (``sri2db_spark.observation``)."""

from __future__ import annotations

import threading

from pyspark.sql import Observation
from pyspark.sql import functions as F

from sri2db_spark.observation import observed_row


def _read_bounded(obs, fallback, timeout_s: float = 60.0):
    """``observed_row`` on a helper thread, so a blocking ``.get`` fails the
    test instead of stalling the suite."""
    box: dict = {}
    t = threading.Thread(
        target=lambda: box.update(row=observed_row(obs, fallback)), daemon=True
    )
    t.start()
    t.join(timeout_s)
    assert not t.is_alive(), "Observation read blocked"
    return box["row"]


def test_observed_row_returns_fallback_when_subtree_is_pruned(spark):
    """AQE empty-relation propagation drops the observed (empty) join side
    from the final plan, so the observation never fills: the read must
    return the fallback, not block or raise."""
    obs = Observation()
    empty = spark.range(10).where("id < 0").observe(obs, F.count(F.lit(1)).alias("n"))
    assert spark.range(5).join(empty, "id").count() == 0
    assert _read_bounded(obs, lambda: {"n": "fallback"}) == {"n": "fallback"}


def test_observed_row_returns_filled_observation(spark):
    obs = Observation()
    spark.range(7).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert _read_bounded(obs, lambda: {"n": "fallback"})["n"] == 7
