"""The one read policy for a ``pyspark.sql.Observation``.

Every statistic the engine rides on an action via ``observe()`` is read
through :func:`observed_row`. The read happens after the action that
carries the observed plan has run. One degraded case remains: when the
optimizer proves the observed input empty and removes the observed
subtree (``PropagateEmptyRelation``, e.g. a delta with no changes), no
job computes the metrics. On PySpark 4.1 ``.get`` then raises a
``Py4JJavaError`` (from ``PythonSQLUtils.toPyRow``) at once; it does not
block. The caller's ``fallback`` computes the same row directly, which
is cheap in exactly that case.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation


def observed_row(obs: Observation, fallback: Callable[[], Any]) -> Any:
    """``obs.get``, or ``fallback()`` when the observation did not fill.

    Both results are indexable by the observed aliases (a dict from the
    observation, a ``Row`` from a direct ``agg().first()``)."""
    try:
        return obs.get
    except Py4JJavaError:
        return fallback()
