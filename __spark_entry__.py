"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All queries live in ``transit_data_pipeline_spark.operators`` --
this module only adapts the registry to the driver contract.

Check order (the driver checks only the first ~50 entries of
``queries()`` each round): a query's last-checked round is folded at
import from the ``CORRECTNESS_r{N}.json`` files beside this module --
the highest N whose file has a row for it.  Queries whose code changed
after their last row (``_CHANGED``) come first, then never-checked
queries, then re-confirmations: oracle-backed before rows-only, stalest
evidence first.  Committing the round's CORRECTNESS file is the only
per-round step; it rotates the window by itself.  Only the order of
``queries()`` / ``oracle_sql()`` depends on the records, never the key
sets.
"""

from __future__ import annotations

import json
import os
import re
import sys
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from transit_data_pipeline_spark.operators.registry import all_specs  # noqa: E402
from transit_data_pipeline_spark.session import configure  # noqa: E402

_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")

#: name -> round its implementation last changed, for queries changed
#: after their newest CORRECTNESS row.  A name stops claiming the front
#: by itself once a row from that round or later is committed.
_CHANGED: dict[str, int] = {
    # round-11 rewrites (before/after plans in plans/r11/)
    "corpus_curation_funnel": 11,
    "dedup_components": 11,
    "dedup_sorted_neighborhood": 11,
    "hits_trade_graph": 11,
    "nation_trade_pagerank": 11,
    "quantile_normalize_scores": 11,
    "rank_suite": 11,
    "rouge_overlap_pairs": 11,
    "train_test_split": 11,
    "vocab_coverage_curve": 11,
    # round-11 spread width sized by input bytes (OPTIMIZATION_r11.md §10)
    "contrastive_pair_mining": 11,
    "dedup_ngram_jaccard": 11,
    "embedding_pca_power": 11,
    "simhash_eval_pr": 11,
    "dedup_keep_best": 11,
}


def _last_checked(root: str) -> dict[str, int] | None:
    """name -> highest round N whose ``CORRECTNESS_r{N}.json`` in
    ``root`` has a row for it; None (with a warning) if there are no
    records, in which case the registry order is kept."""
    last: dict[str, int] = {}
    found = False
    for fname in os.listdir(root):
        m = _RECORD.fullmatch(fname)
        if m is None:
            continue
        found = True
        rnd = int(m.group(1))
        with open(os.path.join(root, fname)) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, 0), rnd)
    if not found:
        warnings.warn(
            f"no CORRECTNESS_r*.json in {root}; queries() keeps registry order",
            stacklevel=2,
        )
        return None
    return last


_LAST_CHECKED = _last_checked(_HERE)


def _ordered_specs(last=_LAST_CHECKED, changed=_CHANGED):
    specs = all_specs()
    if last is None:
        return specs

    def key(n):
        return (
            last.get(n, 0) >= changed.get(n, 0),  # changed since last row first
            n in last,  # never-checked next
            specs[n].oracle is None,  # hash-checked before rows-only
            last.get(n, 0),  # stalest evidence first
        )

    return {n: specs[n] for n in sorted(specs, key=key)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    configure(spark)
    specs = all_specs()
    return specs["perf_ranking_trends"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md SS2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(spec.fn) for name, spec in _ordered_specs().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL for each query (omitted -> rows-only check)."""
    return {
        name: spec.oracle
        for name, spec in _ordered_specs().items()
        if spec.oracle is not None
    }
