"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import gtfschain  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _declared(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_metric_names_are_valid():
    names = [m["name"] for s in ("end_to_end", "per_layer") for m in SPEC[s]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert stats.NAME_RE.fullmatch(n), n
    for s in ("end_to_end", "per_layer"):
        for m in SPEC[s]:
            assert stats.UNIT_RE.fullmatch(m["unit"]), m
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"bad name": (1.0, "s")})


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 90) == 90.0  # 10 samples beyond
    assert stats.percentile(xs, 91) is None  # only 9 beyond
    assert stats.percentile(xs[:19], 50) is None
    assert stats.percentile(xs[:20], 50) == 10.0
    assert stats.median([3.0, 1.0, 2.0, 4.0]) == 2.5


class _Sink:
    """Absorbs ``df.write.format(...).mode(...).save()``."""

    def __getattr__(self, name):
        return self

    def __call__(self, *a, **k):
        return self


class _FakeSpark:
    """Just enough of a session for Run's untraced path."""

    class _Jss:
        def sharedState(self):
            return self

        def cacheManager(self):
            return self

        def isEmpty(self):
            return True

        def streams(self):
            return self

        def listenerManager(self):
            return self

        def listListeners(self):
            return []

    _jsparkSession = _Jss()


class _Spec:
    def __init__(self, name, fail=False):
        self.name, self.fail = name, fail

    def fn(self, spark, sf_dir):
        if self.fail:
            raise RuntimeError("boom")
        return _Sink()


def test_raising_call_counts_as_failed_and_is_not_dropped():
    r = run.Run(_FakeSpark(), [_Spec("ok"), _Spec("bad", fail=True)], "/nowhere", seed=1)
    for i in range(3):
        _, walls = r.one_pass(i, traced=False)
        assert len(walls) == 1
    assert r.attempted == 6 and r.failed == 3
    out = json.loads(stats.result_line(r.failed == 0, r.attempted, r.failed, {}))
    assert out["failed"] / out["attempted"] == 0.5 and out["correct"] is False


def test_end_to_end_output_parses_with_units():
    m = run.end_to_end(12.5, [(4.0, [1.0, 3.0]), (5.0, [2.0, 3.0])])
    assert m["pass_s"] == 4.5 and m["query_p50_s"] == 2.5
    r = run.Run(_FakeSpark(), [], "/nowhere", seed=1)
    r.attempted = 4
    out = json.loads(run.result(r, "end_to_end", m))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    for name, unit in _declared("end_to_end").items():
        assert out["metrics"][name]["unit"] == unit
        assert isinstance(out["metrics"][name]["value"], float)
    with pytest.raises(RuntimeError):
        run.result(r, "end_to_end", {"pass_s": 1.0})


def test_layer_metrics_cover_per_layer_list():
    tr = Tracer("t")
    with tr.span("run"):
        with tr.span("pass", index=1):
            with tr.span("call", query="q", analysis_ms=3, optimization_ms=2, planning_ms=1):
                with tr.span("operators.build"):
                    with tr.span("catalog.read"):
                        pass
                with tr.span("spark.exec") as ex:
                    pass
                tr.record("spark.plan", ex, ex.start, ex.end)
    groups = defaultdict(lambda: defaultdict(float))
    groups["p1:q:catalog"].update(jobs=1, tasks=1, stages=1)
    groups["p1:q:build"].update(jobs=2, tasks=8, stages=2, run_s=4.0, cpu_s=3.0)
    groups["p1:q:exec"].update(jobs=1, tasks=4, stages=1, run_s=4.0, cpu_s=1.0)

    class _L:
        progress = [dict.fromkeys(run.PROGRESS_FIELDS, 1.0)]

    m = run.layer_metrics(tr, _L(), [(2.0, [2.0], groups)], ncores=4)
    assert m["operators.build_jobs"] == 2 and m["catalog.read_jobs"] == 1
    assert m["spark.jobs"] == 4
    assert m["spark.parallel_eff"] == 1.0 and m["spark.blocked"] == 0.5
    assert m["spark.analysis_ms"] == 3
    # the plan span covers all of exec, so exec keeps no self time
    assert m["spark.exec_s"] == 0.0 and m["spark.plan_s"] > 0.0
    assert set(run.CALL_SPANS) <= set(m)
    m.update(dict.fromkeys(
        ("session.start_s", "setup.warmup_s", "trace.overhead_s",
         "session.jvm_peak_rss_mb"), 0.0))
    m.update({k: 0.0 for part in gtfschain.PARTS for k in gtfschain.METRICS[part]})
    assert set(m) == set(_declared("per_layer"))
    r = run.Run(_FakeSpark(), [], "/nowhere", seed=1)
    r.attempted = 1
    json.loads(run.result(r, "per_layer", m))


def test_chain_parts_split_the_gtfs_metrics():
    """Each gtfs.* metric belongs to exactly one chain part, and every
    chain part is run by some workload's traced runs."""
    names = [k for part in gtfschain.PARTS for k in gtfschain.METRICS[part]]
    assert sorted(names) == sorted(k for k in _declared("per_layer") if k.startswith("gtfs."))
    assert {w.gtfs_part for w in run.WORKLOADS.values()} == set(gtfschain.PARTS)


def test_recorded_span_is_clamped_into_parent():
    tr = Tracer("t")
    with tr.span("a") as a:
        pass
    c = tr.record("c", a, a.start - 5, a.end + 5)
    assert (c.start, c.end, c.parent) == (a.start, a.end, a.sid)
    assert tr.self_times()[a.sid] == 0.0


def test_check_counts_attempts_and_failures():
    r = run.Run(_FakeSpark(), [], "/nowhere", seed=1)
    r.check(True, "fine")
    r.check(False, "broken")
    assert (r.attempted, r.failed) == (2, 1)


def test_tracer_self_time_excludes_children():
    tr = Tracer("t")
    with tr.span("a") as a:
        with tr.span("b") as b:
            pass
    st = tr.self_times()
    assert abs(st[a.sid] - ((a.end - a.start) - (b.end - b.start))) < 1e-12


def test_generator_is_seeded():
    a, b, c = gen.tables(0.001, 7), gen.tables(0.001, 7), gen.tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_mirror_splits_fact_tables_only(tmp_path):
    import pyarrow.parquet as pq

    src, dst = str(tmp_path / "src"), str(tmp_path / "mirror")
    gen.write(src, 0.001, 3)
    gen.write_mirror(src, dst, ("orders",), cores=4)
    parts = sorted(os.listdir(os.path.join(dst, "orders.parquet")))
    assert len(parts) == gen.MIRROR_MIN_FILES
    whole = pq.read_table(os.path.join(src, "orders.parquet"))
    split = pq.read_table(os.path.join(dst, "orders.parquet"))
    assert sorted(split["o_orderkey"].to_pylist()) == sorted(whole["o_orderkey"].to_pylist())
    assert os.path.isfile(os.path.join(dst, "nation.parquet"))
