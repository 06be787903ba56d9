"""End-to-end energy-pipeline benchmark: the apples-to-apples anchor
against BASELINE.md's stage table.

The reference publishes per-STAGE wall times for its 5-process batch
pipeline (`HADOOP_MAPREDUCE_ANALYSIS.md:274-280`: ingest 9.55 min,
preprocess 41.72, features 26.62, training 35.98, anomaly ~0.88;
total 114.05 min for 167.9M raw rows). The headline bench suite is a
query-shaped proxy; this module times the SAME five stages — the one
stage list in `pipeline/stages.py` that the CLI also runs: CSV ingest
-> typed parquet -> clean/tariff-join/rollups -> feature table ->
LR-grid + RF forecast -> K-Means anomaly scoring, with parquet
materialized between stages exactly like the reference's per-process
handoff — so `energy_pipeline_total` in BENCH_r*.json is a
pipeline-vs-pipeline number, not a proxy. This module adds only the
fixture and a timer around each stage call.

Fixture: deterministic synthetic LCL-shaped readings (FIXTURES.md SS1
— trailing-space kWh column, "Null" sentinels, multi-shard CSV) on the
full-year 2013 half-hourly grid, household count scaled by SF
(sf0.1 -> 100 households -> ~1.75M raw rows), plus a tariff CSV.
Generation happens OUTSIDE the timed window; only engine work is
measured.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from smart_energy_consumption_analytics_using_big_data_spark.pipeline import stages

SEED = 42
# households per unit SF: sf0.1 -> 100, sf0.01 -> 10 (floor)
HOUSEHOLDS_PER_SF = 1000
# mirror the reference's 2013 LCL window and its time-split cutoffs
# (`forecasting_model.py:366`: test 2013-10-01, inner val 2013-08-01)
RANGE_START = "2013-01-01"
RANGE_END = "2013-12-31 23:30:00"
TEST_CUTOFF = "2013-10-01"
VAL_CUTOFF = "2013-08-01"


def _readings_frame(rng, house_lo: int, house_hi: int, range_start: str) -> pd.DataFrame:
    """Households [house_lo, house_hi) on the half-hourly grid with the
    SS1 quirk masks applied. Column quirks are load-bearing (FIXTURES.md
    SS1): the kWh column name ends in a space, ~0.5% literal "Null"
    sentinels, ~0.2% empties, ~3% of grid rows missing. The draws from
    ``rng`` come in a fixed order, so a seed pins the output."""
    times = pd.date_range(range_start, RANGE_END, freq="30min")
    tstr = times.strftime("%Y-%m-%d %H:%M:%S")
    intraday = 0.5 + 0.5 * np.sin(
        2 * np.pi * (times.hour * 2 + times.minute // 30) / 48
    )
    frames = []
    for i in range(house_lo, house_hi):
        level = rng.lognormal(mean=-1.0, sigma=0.3)
        kwh = level * intraday * rng.lognormal(mean=0, sigma=0.2, size=len(times))
        frames.append(
            pd.DataFrame(
                {
                    "LCLid": f"MAC{i + 1:06d}",
                    "stdorToU": "Std" if i % 10 < 7 else "ToU",
                    "DateTime": tstr,
                    "KWH/hh (per half hour) ": np.round(kwh, 4).astype(str),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    keep = rng.random(len(pdf)) > 0.03
    pdf = pdf[keep].reset_index(drop=True)
    pdf.loc[rng.random(len(pdf)) < 0.005, "KWH/hh (per half hour) "] = "Null"
    pdf.loc[rng.random(len(pdf)) < 0.002, "KWH/hh (per half hour) "] = ""
    return pdf


def make_readings_csv(
    out_dir: str, households: int, shards: int = 12, range_start: str = RANGE_START
) -> int:
    """Write the deterministic multi-shard readings fixture; returns
    the raw row count."""
    pdf = _readings_frame(np.random.default_rng(SEED), 0, households, range_start)
    os.makedirs(out_dir, exist_ok=True)
    for i, shard in enumerate(np.array_split(pdf, shards)):
        shard.to_csv(os.path.join(out_dir, f"block_{i}.csv"), index=False)
    return len(pdf)


def _gen_readings_shard(args: tuple) -> int:
    """One shard of the full-scale fixture (module-level for process
    pool pickling): generate its contiguous household block with an rng
    seeded [SEED, shard index], apply the SS1 quirk masks shard-locally,
    write one CSV. Same distributions and quirk rates as
    `make_readings_csv`; the random stream differs (per-shard seeding is
    what makes generation parallel and memory-bounded), which is fine
    for a NEW scale point — recorded curve points keep the sequential
    generator so their flag counts stay reproducible."""
    out_dir, shard_i, house_lo, house_hi, range_start = args
    pdf = _readings_frame(np.random.default_rng([SEED, shard_i]), house_lo, house_hi, range_start)
    pdf.to_csv(os.path.join(out_dir, f"block_{shard_i}.csv"), index=False)
    return len(pdf)


def make_readings_csv_sharded(
    out_dir: str,
    households: int,
    shards: int = 112,
    range_start: str = RANGE_START,
    workers: int | None = None,
) -> int:
    """Full-scale variant of `make_readings_csv`: shards generate in
    parallel OS processes with per-shard rngs, so driver memory is
    bounded by one shard's frame instead of the whole corpus (the
    sequential generator concatenates every household — fine to ~34M
    rows, hopeless at the reference's 167.9M). 112 shards mirrors the
    LCL dataset's own block-CSV layout. Generation is an UNTIMED
    fixture step either way."""
    os.makedirs(out_dir, exist_ok=True)
    from concurrent.futures import ProcessPoolExecutor

    bounds = np.linspace(0, households, shards + 1).astype(int)
    jobs = [
        (out_dir, i, int(bounds[i]), int(bounds[i + 1]), range_start)
        for i in range(shards)
        if bounds[i + 1] > bounds[i]
    ]
    with ProcessPoolExecutor(max_workers=workers or min(16, len(jobs))) as ex:
        return sum(ex.map(_gen_readings_shard, jobs))


def make_tariffs_pdf(range_start: str = RANGE_START) -> pd.DataFrame:
    """Half-hourly ToU tariff dimension over the full fixture window
    (FIXTURES.md SS2): daily blocks, Normal-dominant."""
    rng = np.random.default_rng(SEED)
    times = pd.date_range(range_start, RANGE_END, freq="30min")
    blocks = rng.choice(
        ["Normal", "Low", "High"], size=(len(times) // 48) + 1, p=[0.85, 0.1, 0.05]
    )
    return pd.DataFrame(
        {"TariffDateTime": times, "Tariff": np.repeat(blocks, 48)[: len(times)]}
    )


def run_pipeline_bench(
    spark,
    work_dir: str,
    households: int,
    shards: int = 12,
    test_cutoff: str = TEST_CUTOFF,
    val_cutoff: str = VAL_CUTOFF,
    grid: str = "default",
    range_start: str = RANGE_START,
    generator: str = "driver",
) -> dict:
    """Generate the fixture (untimed), then time each stage of the
    shared list (`pipeline/stages.py`) with parquet handoff between
    them. Returns {"stages": {name: sec}, "total": sec, "raw_rows": n,
    ...}. ``grid`` picks the stage-4 search shape (``StageConfig``):
    "reference" makes the stage-4 time apples-to-apples with
    BASELINE.md's 35.98-min training stage."""
    if generator not in ("driver", "sharded"):
        raise ValueError(f"unknown generator {generator!r}")
    csv_dir = os.path.join(work_dir, "readings_csv")
    tariffs_csv = os.path.join(work_dir, "tariffs.csv")
    cfg = stages.StageConfig(
        out=os.path.join(work_dir, "out"),
        readings=csv_dir,
        tariffs=tariffs_csv,
        test_cutoff=test_cutoff,
        val_cutoff=val_cutoff,
        grid=grid,
    )
    gen = make_readings_csv_sharded if generator == "sharded" else make_readings_csv
    raw_rows = gen(csv_dir, households, shards, range_start=range_start)
    make_tariffs_pdf(range_start).to_csv(tariffs_csv, index=False)
    # Drain the fixture's dirty pages before the timed window opens:
    # at the 11 GB full-scale fixture, background writeback otherwise
    # competes with stage 1-2 I/O for minutes and lands generation cost
    # inside the measured stages (r11: a warm preprocess measured 107 s
    # solo but 329 s when stage 2 started right behind generation).
    os.sync()
    seconds: dict[str, float] = {}
    records: dict[str, dict] = {}
    for name, fn in stages.STAGES:
        t0 = time.time()
        records[name] = fn(spark, cfg)
        seconds[name] = time.time() - t0
    return {
        "stages": {k: round(v, 3) for k, v in seconds.items()},
        "total": round(sum(seconds.values()), 3),
        "raw_rows": raw_rows,
        "households": households,
        "grid": grid,
        "range_start": range_start,
        "generator": generator,
        "flagged": records["anomaly"]["flagged"],
        "best_model": records["forecast"]["best"],
        "rmse": records["forecast"]["metrics"]["rmse"],
    }
