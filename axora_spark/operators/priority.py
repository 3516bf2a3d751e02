"""Frontier priority scoring (target mode).

The reference has no URL priorities (colly's queue is FIFO-ish and its
politeness limiter reorders nondeterministically) — reference-compat mode
keeps priority = 0.0 so ordering degrades to the W4 url-ASC tie-break.

Target mode ("url_score") assigns a deterministic, cheap, JVM-native score
so the W1 priority queue actually prioritizes: shorter paths and shallower
depths first (the classic frontier heuristic: short URLs are hubs).

    priority = 1/(1+depth) + 1/(1+path_len)

Pure column algebra (codegen) + an exact pure-Python mirror for the
oracle. Both operate on the canonical URL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from axora_spark.config import CrawlConfig
from axora_spark.functions import urlnorm


def url_priority_col(url: Column, depth: Column) -> Column:
    path_len = F.length(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")))
    return (F.lit(1.0) / (F.lit(1.0) + depth.cast("double"))
            + F.lit(1.0) / (F.lit(1.0) + path_len.cast("double")))


def url_priority_py(url: str, depth: int) -> float:
    path_len = len(urlnorm.path_of(url))
    return 1.0 / (1.0 + depth) + 1.0 / (1.0 + path_len)


def priority_col(cfg: CrawlConfig, url: Column, depth: Column) -> Column:
    """Priority of a newly discovered frontier row: the url_score
    heuristic in that mode, else 0.0 (compat mode; pagerank mode
    re-scores the whole next frontier after discovery)."""
    if cfg.priority_mode == "url_score":
        return url_priority_col(url, depth)
    return F.lit(0.0)
