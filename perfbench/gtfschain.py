"""The paper's own GTFS pipeline, run inside traced runs, in two parts
so that no single run carries all of it.

Both parts start from a seeded ``gtfs.synth`` feed at test-fixture
size, ingested from CSV into the operational tables (persisted).

* ``weekly`` (the warehouse load and the weekly retrain): star
  warehouse (persisted) -> features (persisted) -> train, save,
  evaluate. Checks: ``dim_time`` has 96 rows, ``dim_weather`` 8, and
  the fact row count is in (0, delay events].
* ``daily`` (the daily DAG): features and a saved model as untimed
  preparation, then two ``run_daily_pipeline`` calls on consecutive
  dates (the day before the last event date, then the last date).
  Each call overwrites its own date partition of the stores and reads
  the prediction store back; with ``RETENTION_DAYS = 0`` the second
  call also drops the first date's partition, so the overwrite,
  read-back and retention paths all fire. Checks: every daily status
  is ok with all quality gates true, and the prediction store keeps no
  more partitions than retention allows, one having been dropped.

Each step is a ``gtfs.*`` span with its own job group, so the layer
metrics carry the step's self time and Spark job/stage counts. The
part's steps are timed once and kept out of the end-to-end metrics;
the metrics of the other part read zero.
"""

from __future__ import annotations

import datetime as dt
import os

import stats

PARTS = ("weekly", "daily")
RETENTION_DAYS = 0
#: Smaller than ml.build_pipeline's defaults, as the repo's own tests
#: train: the chain is a layer probe, not a model-quality run.
TRAIN_PARAMS = {"max_depth": 3, "max_iter": 3}
#: The daily part only needs some saved model to predict with.
PREP_TRAIN_PARAMS = {"max_depth": 2, "max_iter": 1}
#: Metric names per part.
METRICS = {
    "weekly": ("gtfs.ingest_s", "gtfs.warehouse_s", "gtfs.features_s",
               "gtfs.ml_train_s", "gtfs.ml_save_s", "gtfs.ml_eval_s"),
    "daily": ("gtfs.pipeline_s", "gtfs.pipeline_jobs", "gtfs.pipeline_stages"),
}


def _persist(spark, frames: dict, root: str) -> dict:
    """Write each frame to parquet under ``root`` and read it back."""
    out = {}
    for name, df in frames.items():
        path = os.path.join(root, name)
        df.write.mode("overwrite").parquet(path)
        out[name] = spark.read.parquet(path)
    return out


def run_chain(spark, tracer, ledger, work: str, seed: int, check, part: str) -> dict[str, float]:
    """Run one part of the chain; ``check(ok, what)`` records each
    output check. Returns every gtfs.* per-layer metric, zero for
    those of the other part."""
    from pyspark.sql import functions as F

    from transit_data_pipeline_spark.gtfs import features, ingest, ml, pipeline, synth, warehouse

    root = os.path.join(work, "gtfs")
    csv_dir = os.path.join(root, "csv")
    frames = synth.generate(csv_dir, seed=seed)

    def step(name: str, **attrs):
        ledger.group(":".join(["gtfs", name, *map(str, attrs.values())]))
        return tracer.span(f"gtfs.{name}", **attrs)

    with tracer.span("gtfs", part=part) as top:
        with step("ingest") as s_ingest:
            op = ingest.build_operational(ingest.read_staging(spark, csv_dir))
            op = _persist(spark, op, os.path.join(root, "operational"))
        last = op["delay_events"].agg(F.max(F.to_date("actual_arrival"))).first()[0]
        if part == "weekly":
            with step("warehouse") as s_wh:
                wh_dir = os.path.join(root, "warehouse")
                warehouse.persist_warehouse(warehouse.build_warehouse(op), wh_dir)
            with step("features") as s_feat:
                feats = features.build_features(op, last.isoformat())
                feats = _persist(spark, {"features": feats}, root)["features"]
            with step("ml_train") as s_train:
                train_df, test_df = features.train_test_views(feats)
                model = ml.train(train_df, **TRAIN_PARAMS)
            with step("ml_save") as s_save:
                ml.save_model(model, os.path.join(root, "model"), version="perfbench",
                              trained_at=last.isoformat())
            with step("ml_eval") as s_eval:
                ml.evaluate(model, test_df)
            ledger.clear()
            _check_warehouse(spark, op, wh_dir, check)
            self_t = tracer.self_times()
            steps = (s_ingest, s_wh, s_feat, s_train, s_save, s_eval)
            out = {f"{s.name}_s": self_t[s.sid] for s in steps}
        else:
            ledger.clear()
            feats = features.build_features(op, last.isoformat())
            train_df, _ = features.train_test_views(feats)
            model_path = os.path.join(root, "model")
            ml.save_model(ml.train(train_df, **PREP_TRAIN_PARAMS), model_path,
                          version="perfbench", trained_at=last.isoformat())
            dates = [last - dt.timedelta(days=1), last]
            daily, results = [], []
            stores = os.path.join(root, "stores")
            for i, day in enumerate(dates):
                with step("pipeline", run=i) as s:
                    results.append(pipeline.run_daily_pipeline(
                        spark, op, day.isoformat(), model_path, stores,
                        retention_days=RETENTION_DAYS,
                    ))
                daily.append(s)
            ledger.clear()
            _check_daily(results, check)
            groups = ledger.collect()
            self_t = tracer.self_times()
            out = {
                "gtfs.pipeline_s": stats.median([self_t[s.sid] for s in daily]),
                "gtfs.pipeline_jobs": stats.median(
                    [groups[f"gtfs:pipeline:{i}"]["jobs"] for i in range(len(dates))]),
                "gtfs.pipeline_stages": stats.median(
                    [groups[f"gtfs:pipeline:{i}"]["stages"] for i in range(len(dates))]),
            }
    top.attrs["delay_events"] = len(frames["delay_events"])
    for other in PARTS:
        if other != part:
            out.update(dict.fromkeys(METRICS[other], 0.0))
    return out


def _check_warehouse(spark, op, wh_dir: str, check) -> None:
    """The warehouse has its fixed-size dims and a plausible fact table."""
    def count(name):
        return spark.read.parquet(os.path.join(wh_dir, name)).count()

    n_time, n_weather = count("dim_time"), count("dim_weather")
    check((n_time, n_weather) == (96, 8),
          f"gtfs dims: dim_time {n_time} (want 96), dim_weather {n_weather} (want 8)")
    n_fact, n_events = count("fact_delay_events"), op["delay_events"].count()
    check(0 < n_fact <= n_events, f"gtfs fact rows {n_fact} outside (0, {n_events}]")


def _check_daily(results: list[dict], check) -> None:
    """The daily runs report ok with every quality gate true; the
    prediction store keeps no more partitions than retention allows."""
    for r in results:
        check(r.get("status") == "ok" and all(r.get("quality", {}).values()),
              f"gtfs daily run {r.get('run_date')}: status {r.get('status')}, "
              f"quality {r.get('quality')}")
    store = results[-1].get("predictions", {}).get("store", "")
    parts = [e for e in os.listdir(store) if e.startswith("prediction_date=")] if store else []
    check(0 < len(parts) <= RETENTION_DAYS + 1,
          f"gtfs prediction store keeps {len(parts)} partitions, "
          f"retention allows {RETENTION_DAYS + 1}")
    check(any(r.get("cleanup", {}).get("n_partitions_dropped") for r in results),
          "gtfs retention never dropped a partition")
