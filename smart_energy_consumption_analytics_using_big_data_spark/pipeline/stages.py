"""The five-stage energy pipeline, written once.

The reference runs ingest -> preprocess -> features -> forecast ->
anomaly as five OS processes with a Parquet hand-off between each
(`run_pipeline.ps1:18-40`). Here each stage is one function
``fn(spark, cfg) -> dict`` that reads the previous stage's Parquet under
``cfg.out``, writes its own, and returns the stage's JSON record.
``STAGES`` lists them in order; the CLI stage commands, ``cli all`` (and
so the Docker entrypoint) and the timed bench anchor
(`pipeline/energy_bench.py`) all run this one list.

Layer functions are called through their modules (``energy.``,
``FC.``, ``AN.``, ``readers.``, ``writers.``) so a wrapper installed on
the module attribute sees every call.
"""

from __future__ import annotations

import datetime
import json
import pathlib
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import functions as F

from smart_energy_consumption_analytics_using_big_data_spark.ml import anomaly as AN
from smart_energy_consumption_analytics_using_big_data_spark.ml import forecast as FC
from smart_energy_consumption_analytics_using_big_data_spark.pipeline import energy
from smart_energy_consumption_analytics_using_big_data_spark.sources import readers, writers
from smart_energy_consumption_analytics_using_big_data_spark.sources.schemas import (
    READINGS_CSV_SCHEMA,
    TARIFFS_SCHEMA,
)

@dataclass(frozen=True)
class StageConfig:
    """What the stages read: input paths, the output root, the forecast
    cutoffs, and the stage-4 search shape (``grid``): "default" fits the
    library's 4-point LR grid + single 20-tree RF; "reference" is the
    reference's exact search — 9-point LR grid (regParam {0.01,0.1,1.0}
    x elasticNet {0.0,0.5,1.0}, `forecasting_model.py:272-282`) and RF
    {50,100} trees x {5,10} depth with inner time-split validation
    (`forecasting_model.py:350-355`)."""

    out: str
    readings: str | None = None
    tariffs: str | None = None
    test_cutoff: str | None = None
    val_cutoff: str | None = None
    grid: str = "default"

    def __post_init__(self):
        if self.grid not in ("default", "reference"):
            raise ValueError(f"unknown grid {self.grid!r}: expected 'default' or 'reference'")


def ingest(spark, cfg: StageConfig) -> dict:
    """CSV -> typed Parquet (`data_ingestion.py:40-209`): one multi-path
    scan, explicit schema, sentinel-aware - no inferSchema pass."""
    raw = readers.read_csv(spark, cfg.readings, READINGS_CSV_SCHEMA)
    writers.write_parquet(raw, f"{cfg.out}/raw_energy_data")
    return {"stage": "ingest", "rows": spark.read.parquet(f"{cfg.out}/raw_energy_data").count()}


def _load_tariffs(spark, path: str):
    if path.endswith((".xlsx", ".xls")):
        return readers.read_excel_dim(spark, path, expected_columns=["TariffDateTime", "Tariff"])
    return readers.read_csv(spark, path, TARIFFS_SCHEMA, null_value=None)


def preprocess(spark, cfg: StageConfig) -> dict:
    """clean + tariff join + hourly/daily rollups (`data_preprocessing.py:88-305`)."""
    energy.preprocess_to_parquet(
        spark,
        spark.read.parquet(f"{cfg.out}/raw_energy_data"),
        _load_tariffs(spark, cfg.tariffs),
        f"{cfg.out}/hourly",
        f"{cfg.out}/daily",
    )
    return {"stage": "preprocess", "daily_rows": spark.read.parquet(f"{cfg.out}/daily").count()}


def features(spark, cfg: StageConfig) -> dict:
    """36+-column feature table (`feature_engineering.py:41-249`)."""
    writers.write_parquet(
        energy.engineer_features(spark.read.parquet(f"{cfg.out}/daily")),
        f"{cfg.out}/energy_features",
    )
    return {"stage": "features", "rows": spark.read.parquet(f"{cfg.out}/energy_features").count()}


def _ml_features(spark, out: str):
    daily = spark.read.parquet(f"{out}/daily").select(
        F.col("LCLid").alias("user_id"),
        "date",
        F.col("daily_energy_kwh").alias("label_value"),
    )
    return FC.add_forecast_features(daily, entity="user_id")


def _search_kwargs(cfg: StageConfig) -> tuple[dict, dict]:
    """(LR kwargs, RF kwargs) for ``cfg.grid``."""
    if cfg.grid == "reference":
        return (
            {"reg_params": (0.01, 0.1, 1.0), "elastic_net_params": (0.0, 0.5, 1.0)},
            {"grid": ((50, 5), (50, 10), (100, 5), (100, 10)), "val_cutoff": cfg.val_cutoff},
        )
    return {}, {}


def forecast(spark, cfg: StageConfig) -> dict:
    """Grid-searched LR vs RF, best-by-RMSE persisted with predictions,
    model and metadata (`forecasting_model.py:158-606`)."""
    feats = _ml_features(spark, cfg.out).cache()
    try:
        # The train/test counts the metadata needs run first: this one
        # job materializes the cache, so the two fits below share it
        # instead of each computing the window features.
        counts = feats.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum((F.col("date") >= cfg.test_cutoff).cast("long")).alias("test"),
        ).first()
        # LR and RF are independent until the `best` pick, so they fit
        # from two driver threads: Spark schedules concurrent jobs FIFO
        # and the RF fits back-fill executors freed by the LR tail. Each
        # fit sees the same cached `feats` with its pinned seed, so
        # models, metrics and the selection equal the sequential order.
        lr_kwargs, rf_kwargs = _search_kwargs(cfg)
        with ThreadPoolExecutor(max_workers=2) as ex:
            lr_f = ex.submit(FC.train_linear_forecast, feats, cfg.test_cutoff, cfg.val_cutoff, **lr_kwargs)
            rf_f = ex.submit(FC.train_rf_forecast, feats, cfg.test_cutoff, **rf_kwargs)
            lr, rf = lr_f.result(), rf_f.result()
        best_name, best = ("lr", lr) if lr.metrics["rmse"] <= rf.metrics["rmse"] else ("rf", rf)
        writers.write_parquet(
            best.predictions.select("user_id", "date", "label_value", "prediction"),
            f"{cfg.out}/forecasting_results",
            num_files=8,
        )
        model_dir = f"{cfg.out}/models/best"
        best.model.write().overwrite().save(model_dir)
        _write_model_metadata(model_dir, best, best_name, counts["total"], counts["test"] or 0)
    finally:
        feats.unpersist()
    return {"stage": "forecast", "best": best_name,
            "metrics": {k: round(v, 4) for k, v in best.metrics.items()}}


def _write_model_metadata(model_dir: str, best, best_name: str, total: int, test: int) -> None:
    """Persist best-model metadata next to the saved model
    (`forecasting_model.py:561-571` parity: json for machines, txt with
    the reference's field names for humans)."""
    meta = {
        "best_model": best_name,
        "metrics": {k: round(v, 6) for k, v in best.metrics.items()},
        "best_params": best.best_params,
        "n_features": len(FC.FEATURE_COLS),
        "train_records": int(total - test),
        "test_records": int(test),
        "trained_on": datetime.datetime.now().strftime("%Y-%m-%d %H:%M:%S"),
    }
    root = pathlib.Path(model_dir)
    root.mkdir(parents=True, exist_ok=True)
    (root / "model_metadata.json").write_text(json.dumps(meta, indent=2))
    (root / "model_metadata.txt").write_text(
        f"Best Model: {best_name}\n"
        f"MAE: {best.metrics.get('mae', float('nan')):.4f}\n"
        f"RMSE: {best.metrics.get('rmse', float('nan')):.4f}\n"
        f"R2: {best.metrics.get('r2', float('nan')):.4f}\n"
        f"Features Used: {len(FC.FEATURE_COLS)}\n"
        f"Training Records: {meta['train_records']}\n"
        f"Test Records: {meta['test_records']}\n"
        f"Trained On: {meta['trained_on']}\n"
    )


def anomaly(spark, cfg: StageConfig) -> dict:
    """K-Means + residual + per-cluster z-score (`anomaly_detection.py:55-196`)."""
    feats = _ml_features(spark, cfg.out)
    preds = spark.read.parquet(f"{cfg.out}/forecasting_results").select(
        "user_id", "date", "prediction"
    )
    # Cached here, not inside detect_anomalies (which leaves a caller's
    # cache alone): the write then rescores from these rows instead of
    # recomputing the window features and the join.
    joined = (
        feats.join(preds, ["user_id", "date"], "left")
        .withColumn("residual", F.abs(F.col("label_value") - F.coalesce("prediction", "label_value")))
        .persist()
    )
    path = f"{cfg.out}/anomalies"
    try:
        scored = AN.detect_anomalies(
            joined,
            feature_cols=["label_value", "lag_1", "rolling_avg_7r", "day_of_week", "residual"],
        )
        # Scoring keeps every row, so the cached input's count sizes the
        # files and the scoring plan runs once: in the write. Rows and
        # flags then come from one aggregate over the written parquet.
        writers.write_parquet(scored, path, num_files=writers.target_partitions(joined.count()))
    finally:
        joined.unpersist()
    written = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(F.col("is_anomaly") == 1, 1)).alias("flagged"),
    ).first()
    return {"stage": "anomaly", "rows": written["rows"], "flagged": written["flagged"]}


STAGES = (
    ("ingest", ingest),
    ("preprocess", preprocess),
    ("features", features),
    ("forecast", forecast),
    ("anomaly", anomaly),
)
