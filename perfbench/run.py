#!/usr/bin/env python3
"""Closed-loop benchmark of transit-spark, one workload per process.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the repository root. The process generates its input tables
from ``--seed`` and lays them out as bench.py's multi-file mirror
(perfbench/gen.py), starts a Spark session at ``local[<cores>]``
through the package's own ``get_spark``, runs a warm-up pass that
collects every query once and checks it against its DuckDB oracle twin
on the single-file tables, then one noop-sink warm-up pass (both count
in setup_s), and then runs closed-loop passes (one client; the next
call starts when the previous one returns) until ``--seconds`` have
elapsed, at least ``MIN_PASSES`` of them. The seed also fixes the query order of every pass. Each call
is ``spec.fn`` plus a noop-sink save.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, then runs the workload's part of the GTFS
pipeline chain once (perfbench/gtfschain.py), prints the per-layer
metrics and the tracing overhead, and writes the spans to perfbench/_traces/. Metric names and
units are the ones BENCHMARK.json declares. The last stdout line is one
JSON object: correct, attempted, failed, metrics.

Everything the run writes lives under perfbench/_work/ and is removed
at exit; the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
from spans import PHASES, PROGRESS_FIELDS, STAGE_FIELDS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

pc = time.perf_counter
T_START = pc()

#: Noop-sink warm-up passes after the oracle pass, counted in setup_s
#: and not in pass_s: the oracle pass collects, so the noop write path
#: is still cold.
WARMUP_PASSES = 1
#: Timed passes per untraced run, at least: the JIT is still warming
#: during the first timed passes, so a fixed floor keeps a slow run's
#: median from shifting to an earlier, slower pass.
MIN_PASSES = 3
#: Untraced and traced passes per traced run, at least, each.
MIN_TRACED_PASSES = 2
#: Seconds since start after which no further pass starts once every
#: kind of pass has run once: on a slowed host the run still ends in
#: time, with fewer passes.
PASS_LIMIT_S = 75


#: Catalog functions the traced run times as the catalog layer.
CATALOG_READERS = ("table", "read_events_raw")
#: Self-time metrics of the spans under a traced call.
CALL_SPANS = ("catalog.read_s", "operators.build_s", "spark.plan_s", "spark.exec_s")


def declared_units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def host_loop_s() -> float:
    """Time of a fixed single-thread Python loop. It reads how fast the
    host runs this process at the moment; it is logged at the start
    and end of each run, so a slow run can be told from slow code."""
    t0 = pc()
    acc = 0
    for i in range(2_000_000):
        acc += i
    return pc() - t0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={work}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


class Run:
    """Closed-loop passes over ``specs`` with one client, counting every
    call attempted and every call that raised or mismatched."""

    def __init__(self, spark, specs, mirror: str, seed: int, tracer=None, ledger=None,
                 listener=None, writes=None):
        self.spark, self.specs, self.mirror = spark, specs, mirror
        self.rng = random.Random(seed)
        self.tracer, self.ledger = tracer, ledger
        self.listener, self.writes = listener, writes
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED {what}")

    def check(self, ok: bool, what: str) -> None:
        """One untimed output check, counted like a call."""
        self.attempted += 1
        if not ok:
            self.fail(what)

    # -- one call ----------------------------------------------------
    def call(self, spec, traced: bool, tag: str) -> float | None:
        self.attempted += 1
        t0 = pc()
        try:
            if traced:
                self._traced_call(spec, tag)
            else:
                spec.fn(self.spark, self.mirror).write.format("noop").mode("overwrite").save()
        except Exception:
            self.fail(f"{spec.name}: {traceback.format_exc(limit=3)}")
            return None
        return pc() - t0

    def _traced_call(self, spec, tag: str) -> None:
        tr, led = self.tracer, self.ledger
        gid = f"{tag}:{spec.name}"
        with tr.span("call", query=spec.name) as call:
            try:
                with tr.span("operators.build"):
                    led.group(gid + ":build")
                    df = spec.fn(self.spark, self.mirror)
                # Deliver the build's events first, so the next write
                # the listener sees is this call's.
                led.drain()
                seen = len(self.writes.writes)
                with tr.span("spark.exec") as ex:
                    led.group(gid + ":exec")
                    wall0 = time.time()
                    df.write.format("noop").mode("overwrite").save()
            finally:
                led.clear()
        # Streaming micro-batches run under their query's run id as job
        # group: attribute them to the build phase of this call.
        led.drain()
        for rid in self.listener.started[len(led.aliases):]:
            led.aliases[rid] = gid + ":build"
        new = self.writes.writes[seen:]
        if len(new) != 1:
            raise RuntimeError(f"{spec.name}: {len(new)} noop writes seen, want 1")
        phases = new[0]
        for ph in PHASES:
            lo, hi = phases.get(ph, (0, 0))
            call.attrs[f"{ph}_ms"] = hi - lo
        # Planning of the frame, inside the write, on the perf_counter
        # clock of the spans.
        lo = min(a for a, _ in phases.values()) / 1e3 - wall0 + ex.start
        hi = max(b for _, b in phases.values()) / 1e3 - wall0 + ex.start
        tr.record("spark.plan", ex, lo, hi)

    @contextlib.contextmanager
    def catalog_spans(self):
        """Wrap the catalog's readers (and every operators module's
        imported name for them) in a ``catalog.read`` span with its own
        job group, so table reads, and the schema-inference job each
        parquet read launches, count as catalog work rather than
        operator build."""
        import importlib
        import pkgutil

        from transit_data_pipeline_spark import catalog, operators

        tr, led = self.tracer, self.ledger

        def traced(orig):
            def read(*a, **k):
                prev = led.current
                led.group(prev.rsplit(":", 1)[0] + ":catalog" if prev else "catalog")
                try:
                    with tr.span("catalog.read"):
                        return orig(*a, **k)
                finally:
                    if prev:
                        led.group(prev)
                    else:
                        led.clear()
            return read

        mods = [catalog] + [
            importlib.import_module(f"{operators.__name__}.{m.name}")
            for m in pkgutil.iter_modules(operators.__path__)
        ]
        patched = []
        for name in CATALOG_READERS:
            orig = getattr(catalog, name)
            wrapper = traced(orig)
            for m in mods:
                if getattr(m, name, None) is orig:
                    setattr(m, name, wrapper)
                    patched.append((m, name, orig))
        try:
            yield
        finally:
            for m, name, orig in patched:
                setattr(m, name, orig)

    # -- passes ------------------------------------------------------
    def one_pass(self, idx: int, traced: bool) -> tuple[float, list[float]]:
        order = list(self.specs)
        self.rng.shuffle(order)
        tag = f"p{idx}"
        walls = []
        t0 = pc()
        traced_ctx = contextlib.ExitStack()
        if traced:
            traced_ctx.enter_context(self.tracer.span("pass", index=idx))
            traced_ctx.enter_context(self.catalog_spans())
        with traced_ctx:
            for spec in order:
                w = self.call(spec, traced, tag)
                if w is not None:
                    walls.append(w)
        wall = pc() - t0
        self.check_isolation()
        return wall, walls

    def check_isolation(self) -> None:
        jss = self.spark._jsparkSession
        if not jss.sharedState().cacheManager().isEmpty():
            self.fail("CacheManager not empty after a pass")
            self.spark.catalog.clearCache()
        if self.listener is None and (
            len(jss.streams().listListeners()) or len(jss.listenerManager().listListeners())
        ):
            self.fail("a benchmark listener is attached in an untraced run")

    # -- correctness -------------------------------------------------
    def check_oracles(self, src: str) -> float:
        """Strict oracle parity (exact values, bitwise floats), the
        repo's own gate from tests/compare.py; the results are small
        enough to collect. This is the run's warm-up pass: it returns
        the Spark side's time, building and collecting each frame."""
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from compare import compare, duck_con

        spark_s = 0.0
        con = duck_con(src)
        try:
            for spec in self.specs:
                self.attempted += 1
                try:
                    t0 = pc()
                    got = Collected(spec.fn(self.spark, self.mirror).toPandas())
                    spark_s += pc() - t0
                    errs = compare(got, spec.oracle, con)
                except Exception:
                    errs = [traceback.format_exc(limit=3)]
                if errs:
                    self.fail(f"oracle {spec.name}: {errs}")
        finally:
            con.close()
        return spark_s


class Collected:
    """A frame already collected, in the shape compare() reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def measure(args, work: str) -> str:
    log(f"host_loop_s {host_loop_s():.4f}")
    wl = WORKLOADS[args.workload]
    src, mirror = os.path.join(work, "src"), os.path.join(work, "mirror")
    gen.write(src, wl.sf, args.seed)
    gen.write_mirror(src, mirror, wl.tables, cores())

    from transit_data_pipeline_spark.session import get_spark

    t0 = pc()
    spark = get_spark("perfbench")
    start_s = pc() - t0
    try:
        return _measure(args, work, wl, src, mirror, spark, start_s)
    finally:
        stop_spark(spark)


def _measure(args, work, wl, src, mirror, spark, start_s) -> str:
    from spans import StageLedger, Tracer, stream_listener, write_listener

    tracer = ledger = listener = writes = None
    if args.trace:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        tracer = Tracer(f"{wl.name}-s{args.seed}")
        ledger = StageLedger(spark)
        listener = stream_listener()
        writes = write_listener(spark)
    from transit_data_pipeline_spark.operators.registry import all_specs

    registry = all_specs()
    specs = [registry[q] for q in wl.queries]
    run = Run(spark, specs, mirror, args.seed, tracer, ledger, listener, writes)

    t0 = pc()
    warm_s = run.check_oracles(src)
    log(f"oracle pass {pc() - t0:.2f}s, its Spark side {warm_s:.2f}s")
    for i in range(WARMUP_PASSES):
        warm_s += run.one_pass(-i, traced=False)[0]
    setup_s = start_s + warm_s
    log(f"setup: session {start_s:.2f}s, warm-up {warm_s:.2f}s")

    plain, traced = [], []  # (pass wall, call walls[, ledger totals])
    floor = MIN_TRACED_PASSES if args.trace else MIN_PASSES
    deadline = pc() + args.seconds

    def more() -> bool:
        if pc() - T_START > PASS_LIMIT_S and plain and (traced or not args.trace):
            log(f"pass limit {PASS_LIMIT_S}s reached")
            return False
        return pc() < deadline or len(plain) < floor or (args.trace and len(traced) < floor)

    idx = 1
    with tracer.span("run") if args.trace else contextlib.nullcontext():
        while more():
            on = bool(args.trace) and idx % 2 == 0
            if on:
                spark.streams.addListener(listener)
                # Unregister needs the JVM proxy that register made.
                qel = spark._jsparkSession.listenerManager()
                qel.register(writes)
                jwrites = qel.listListeners()[-1]
                ledger.collect()  # skip jobs of earlier passes
            wall, walls = run.one_pass(idx, traced=on)
            if on:
                totals = ledger.collect()
                qel.unregister(jwrites)
                spark.streams.removeListener(listener)
                traced.append((wall, walls, totals))
            else:
                plain.append((wall, walls))
            idx += 1
        rss_mb = jvm_peak_rss_mb(spark)  # high-water mark up to the timed passes' end
        log(f"host_loop_s {host_loop_s():.4f}")
        if args.trace:
            import gtfschain

            t0 = pc()
            gtfs = gtfschain.run_chain(spark, tracer, ledger, work, args.seed, run.check,
                                       wl.gtfs_part)
            log(f"gtfs chain ({wl.gtfs_part}) {pc() - t0:.2f}s")
    log("passes", [round(w, 2) for w, _ in plain], "traced", [round(w, 2) for w, _, _ in traced])
    calls = [c for _, cs in plain for c in cs]
    p90 = stats.percentile(calls, 90)
    log(f"{len(calls)} timed calls; query p90 {'%.3fs' % p90 if p90 else 'not reportable'}")
    if not args.trace:
        return result(run, "end_to_end", end_to_end(setup_s, plain))
    metrics = {
        "session.start_s": start_s,
        "setup.warmup_s": warm_s,
        "session.jvm_peak_rss_mb": rss_mb,
        **layer_metrics(tracer, listener, traced, spark.sparkContext.defaultParallelism),
        **gtfs,
        "trace.overhead_s": stats.median([w for w, _, _ in traced]) - stats.median([w for w, _ in plain]),
    }
    os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
    tracer.write(os.path.join(HERE, "_traces", f"{tracer.run_id}.jsonl"))
    return result(run, "per_layer", metrics)


def result(run: Run, section: str, metrics: dict[str, float]) -> str:
    """The result line with exactly the metrics BENCHMARK.json declares
    for ``section``, each with its declared unit."""
    units = declared_units(section)
    if set(metrics) != set(units):
        raise RuntimeError(
            f"{section} metrics differ from BENCHMARK.json: "
            f"missing {sorted(set(units) - set(metrics))}, extra {sorted(set(metrics) - set(units))}"
        )
    return stats.result_line(
        run.failed == 0, run.attempted, run.failed,
        {name: (value, units[name]) for name, value in metrics.items()},
    )


def end_to_end(setup_s: float, plain: list) -> dict[str, float]:
    """End-to-end metrics of an untraced run; ``plain`` holds
    (pass wall, [call walls]) per timed pass."""
    calls = [c for _, cs in plain for c in cs]
    return {
        "setup_s": setup_s,
        "pass_s": stats.median([w for w, _ in plain]),
        "query_p50_s": stats.median(calls),
    }


def pass_layers(tracer) -> list[dict[str, float]]:
    """Per traced pass: self time of each layer span under the pass's
    calls, and the planner's phase times, summed over the calls."""
    self_t = tracer.self_times()
    kids = defaultdict(list)
    for s in tracer.spans:
        kids[s.parent].append(s)
    out = []
    for p in (s for s in tracer.spans if s.name == "pass"):
        m: dict[str, float] = defaultdict(float)
        for call in kids[p.sid]:
            for k, v in call.attrs.items():
                if k.endswith("_ms"):
                    m["spark." + k] += v
            todo = list(kids[call.sid])
            while todo:
                leaf = todo.pop()
                m[leaf.name + "_s"] += self_t[leaf.sid]
                todo += kids[leaf.sid]
        out.append(m)
    return out


def layer_metrics(tracer, listener, traced: list, ncores: int) -> dict[str, float]:
    """Per-layer metrics of the query passes: totals per traced pass,
    median over passes. ``traced`` holds (pass wall, [call walls],
    job-group totals)."""
    per_pass = []
    for m, (_, walls, groups) in zip(pass_layers(tracer), traced):
        for k in CALL_SPANS:
            m.setdefault(k, 0.0)
        for layer, suffix in (("operators.build", ":build"), ("catalog.read", ":catalog")):
            mine = [g for gid, g in groups.items() if gid.endswith(suffix)]
            m[layer + "_jobs"] = sum(g["jobs"] for g in mine)
            if layer == "operators.build":
                m[layer + "_tasks"] = sum(g["tasks"] for g in mine)
        for key in ("jobs", "stages", "tasks") + tuple(STAGE_FIELDS):
            total = sum(g[key] for g in groups.values())
            m["catalog.input_mb" if key == "input_mb" else "spark." + key] = total
        run_s, cpu_s = m["spark.run_s"], m["spark.cpu_s"]
        m["spark.parallel_eff"] = run_s / (sum(walls) * ncores) if walls else 0.0
        m["spark.blocked"] = 1 - cpu_s / run_s if run_s else 0.0
        per_pass.append(m)
    out = {
        k: stats.median([m.get(k, 0.0) for m in per_pass])
        for k in sorted({k for m in per_pass for k in m})
    }
    # Streaming progress over all traced passes, per pass.
    n = len(traced)
    out["streaming.batches"] = len(listener.progress) / n
    for key in PROGRESS_FIELDS:
        out["streaming." + key] = sum(p[key] for p in listener.progress) / n
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "transit_data_pipeline_spark")):
        log(f"no transit_data_pipeline_spark package under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(work)
        line = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
