"""Skew-safe aggregation for hot keys (north_rule: "salting for skewed
hosts"; SURVEY.md §4.2(c)).

Common-Crawl host frequencies are Zipf: a handful of hosts own a large
share of urls, so a host-keyed aggregate funnels their rows into single
tasks.  ``salted_host_agg`` is the two-phase aggregate: partial by
(host, salt), final by host.  A hot host's rows spread over the salts
in the expensive first phase, and the second phase only merges one
pre-aggregated row per (host, salt).  The caller picks the salt; a
hash of a per-row key (``pmod(xxhash64(url), n)``) spreads every host
and changes placement only, never the result.

AQE's skew-join splitting handles *join*-side skew at runtime; this
module is for aggregation skew, which AQE does not re-plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_host_agg(df: DataFrame, aggs: list, host: str = "host", salt: str = "salt") -> DataFrame:
    """Two-phase aggregate: partial by (host, salt), final by host.
    ``aggs`` are named count and sum expressions: both re-aggregate with
    sum, so the final phase sums each partial column."""
    partial = df.groupBy(host, salt).agg(*aggs)
    merge = [F.sum(c).alias(c) for c in partial.columns if c not in (host, salt)]
    return partial.groupBy(host).agg(*merge)
