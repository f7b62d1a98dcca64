"""Session-scoped state of the operator modules.

Every cache an operator keeps across builder calls — table handles,
prepared plans, persisted indexes, pair graphs — is per Spark session
and goes through one :class:`SessionCache`, so all of them share one
key scheme and one way to be released.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class SessionCache(dict):
    """A dict whose entries are keyed ``(id(spark), applicationId, *key)``.

    ``id(spark)`` alone is not enough: CPython reuses the id of a
    collected session, and a new session under the old id must not be
    handed frames bound to a dead SparkContext. The applicationId
    differs per context, and a session whose context cannot report one
    (stopped) is never served from or stored into the cache.
    """

    def get_or_build(
        self, spark: SparkSession, key: tuple[Hashable, ...], build: Callable[[], Any]
    ) -> Any:
        """The entry for ``key`` in this session, built on first use.
        A build that raises stores nothing."""
        try:
            app = spark.sparkContext.applicationId
        except Exception:  # stopped context
            return build()
        full = (id(spark), app, *key)
        if full not in self:
            self[full] = build()
        return self[full]

    def release(self, spark: SparkSession | None = None) -> None:
        """Drop one session's entries (all sessions' with None),
        unpersisting the DataFrames they persisted. Frames that were
        never persisted are left alone: unpersist would drop any other
        cached frame whose plan gives the same result."""
        for k in [k for k in self if spark is None or k[0] == id(spark)]:
            value = self.pop(k)
            for v in value if isinstance(value, tuple) else (value,):
                if isinstance(v, DataFrame) and v.is_cached:
                    try:
                        v.unpersist()
                    except Exception:  # session already stopped
                        pass
