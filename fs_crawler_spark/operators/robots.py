"""robots.txt disallow gate (BASELINE.json north_rule component).

The reference has no robots analog (its politeness is hardwired constants,
fsapi.py:24-34); the engine models robots as a small rules table
``(host, disallow_prefix)`` applied as a filter before the politeness window.

Physical shape: rules collapse to one array per host and **broadcast** — the
rules side is tiny relative to a 10^10-URL frontier, so the gate is a
map-side broadcast join + a higher-order ``exists`` over the prefix array
(all JVM-side, no UDF, no extra shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def robots_gate(candidates: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Drop candidate urls whose path starts with a disallowed prefix.
    Keeps the input's column order (the host join would move ``host`` first)."""
    if robots is None:
        return candidates
    per_host = robots.groupBy("host").agg(
        F.collect_list("disallow_prefix").alias("_disallow")
    )
    path = F.regexp_extract(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*(/[^?#]*)?", 1)
    blocked = F.exists("_disallow", lambda p: path.startswith(p))
    return (
        candidates.join(F.broadcast(per_host), on="host", how="left")
        .filter(F.col("_disallow").isNull() | ~blocked)
        .select(*candidates.columns)
    )
