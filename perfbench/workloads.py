"""The benchmark's workloads: which registry queries each runs, over
which generated tables. Why each was chosen is stated once, in
BENCHMARK.json."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: Fact tables the queries read; only these are rewritten by Spark
    #: into the mirror (the rest are copied as-is).
    tables: tuple[str, ...]
    #: Scale factor of the generated tables (lineitem = 6M x sf rows).
    sf: float
    #: The part of the GTFS pipeline chain (gtfschain.PARTS) that traced
    #: runs of this workload run.
    gtfs_part: str


OLAP = Workload(
    name="olap",
    queries=(
        "analysis_daily_trend_ma7",
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
    ),
    tables=("customer", "orders", "lineitem"),
    sf=0.02,
    gtfs_part="weekly",
)

STREAMING = Workload(
    name="streaming",
    queries=(
        "streaming_hourly_rollup",
        "streaming_cdc_upsert",
    ),
    tables=("events",),
    sf=0.01,
    gtfs_part="daily",
)

WORKLOADS = {w.name: w for w in (OLAP, STREAMING)}
