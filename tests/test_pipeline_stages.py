"""One stage list (`pipeline/stages.py`) serves the CLI and the bench
anchor: on the same generated readings and tariffs, `cli all` and
`run_pipeline_bench` select the same model with the same RMSE and flag
the same rows; every stage leaves no cache behind, on success and on
failure; and the readings fixture both entry points share is pinned."""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os

import pytest

from smart_energy_consumption_analytics_using_big_data_spark import cli
from smart_energy_consumption_analytics_using_big_data_spark.pipeline.energy_bench import (
    TEST_CUTOFF,
    VAL_CUTOFF,
    make_readings_csv,
    make_readings_csv_sharded,
    make_tariffs_pdf,
    run_pipeline_bench,
)


def _persistent_ids(spark) -> set[int]:
    """Ids of the persistent RDDs. Compared as sets, not sizes: blocks
    other tests left behind may be released asynchronously while a test
    runs, so only ids a call CREATES are attributable to it."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _sha256(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_readings_fixture_output_pinned(tmp_path):
    """Both generators draw from one helper; their output (and so every
    recorded flag count) must stay byte-identical."""
    seq = str(tmp_path / "seq")
    assert make_readings_csv(seq, households=2, shards=3) == 34005
    assert _sha256(os.path.join(seq, "block_0.csv")) == (
        "f319714d9d49b91645a610e8a1118ea21e6c7adf2a2c8c69d79ef481d9ff54aa"
    )
    sharded = str(tmp_path / "sharded")
    assert make_readings_csv_sharded(sharded, households=5, shards=3, workers=2) == 84906
    assert _sha256(os.path.join(sharded, "block_1.csv")) == (
        "629c44be6af62493620c336c8fc951d500eed24222507dc9bc20b7d0ae274dae"
    )


@pytest.fixture(scope="module")
def folded(spark, tmp_path_factory):
    """`cli all` on a 2-household fixture, then the bench anchor, which
    regenerates the same CSVs; records the persistent RDD ids around the
    `all` run. The CLI runs first because its session lookup sets the
    shuffle partition count, and the forecast fits depend on the
    partitioning: both runs must see the same one."""
    inputs = tmp_path_factory.mktemp("inputs")
    make_readings_csv(str(inputs / "readings"), households=2, shards=2)
    make_tariffs_pdf().to_csv(inputs / "tariffs.csv", index=False)
    out = str(tmp_path_factory.mktemp("cli_all"))
    printed = io.StringIO()
    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    with contextlib.redirect_stdout(printed):
        cli.main(
            [
                "all",
                "--readings", str(inputs / "readings"),
                "--tariffs", str(inputs / "tariffs.csv"),
                "--out", out,
                "--test-cutoff", TEST_CUTOFF,
                "--val-cutoff", VAL_CUTOFF,
            ]
        )
    after = _persistent_ids(spark)
    records = {
        rec["stage"]: rec
        for rec in (json.loads(ln) for ln in printed.getvalue().splitlines() if ln.startswith("{"))
        if "stage" in rec
    }
    bench = run_pipeline_bench(spark, str(tmp_path_factory.mktemp("bench")), households=2, shards=2)
    return {"bench": bench, "records": records, "out": out, "leaked": after - before}


def test_cli_all_matches_bench_anchor(folded):
    bench, records = folded["bench"], folded["records"]
    assert records["forecast"]["best"] == bench["best_model"]
    assert records["forecast"]["metrics"]["rmse"] == bench["rmse"]
    assert records["anomaly"]["flagged"] == bench["flagged"]


def test_cli_all_releases_its_caches(folded):
    assert folded["leaked"] == set()


def test_failed_forecast_releases_its_caches(spark, folded, monkeypatch):
    from smart_energy_consumption_analytics_using_big_data_spark.ml import forecast as FC

    def boom(*args, **kwargs):
        raise RuntimeError("forced RF failure")

    monkeypatch.setattr(FC, "train_rf_forecast", boom)
    # nothing cached beforehand: an already-cached plan would make the
    # stage's own cache() a no-op and hide a leak
    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="forced RF failure"):
        cli.main(
            [
                "forecast",
                "--out", folded["out"],
                "--test-cutoff", TEST_CUTOFF,
                "--val-cutoff", VAL_CUTOFF,
            ]
        )
    assert _persistent_ids(spark) - before == set()
