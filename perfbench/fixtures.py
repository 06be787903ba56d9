"""Seeded benchmark inputs, built once per seed and reused.

Two input sets, both generated here from the workload seed so the
program receives only files:

* ``tables``: the ten TPC-H-ish tables the registered queries read
  (``region`` .. ``embeddings``), one parquet file each, at the row
  counts and value distributions of the project's sf0.1 test data
  (about 17 MB). Column types match that data exactly.
* ``readings``: LCL-shaped half-hourly smart-meter readings as
  multi-shard CSV with the FIXTURES.md section 1 quirks (trailing-space
  kWh column name, ``"Null"`` sentinels, empty values, about 3% of grid
  slots missing), plus a half-hourly tariff CSV.

A built set lives under ``<cache>/<kind>-seed<seed>-v<VERSION>/`` and is
complete once its ``_READY`` marker exists. Bump ``VERSION`` whenever a
generator changes, so stale inputs are never reused.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VERSION = 1
READY = "_READY"

# Row counts of the sf0.1 test data.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
HOUSEHOLDS = 10
SHARDS = 12
KWH_COL = "KWH/hh (per half hour) "
YEAR_START = np.datetime64("2013-01-01T00:00:00", "s")
HALF_HOURS = 365 * 48

_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
_LANGS = ("en", "zh", "de", "es", "fr")
_LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _us(base: str, offsets_s: np.ndarray) -> pa.Array:
    """Timestamps (microseconds, no zone) at ``base`` + offsets."""
    start = np.datetime64(base, "us")
    return pa.array(start + (offsets_s * 1_000_000).astype("timedelta64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The ten query tables, deterministic in ``seed``."""
    n = SF01_ROWS
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }

    r = _rng(seed, 1)
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": r.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, c),
            "c_mktsegment": r.choice(
                ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], c
            ),
        }
    )

    r = _rng(seed, 2)
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": r.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, s),
        }
    )

    r = _rng(seed, 3)
    p = n["part"]
    adjectives = np.array(["blue", "old", "red", "small", "new", "large", "hot", "cold"])
    nouns = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    keys = np.arange(p, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": np.char.add(
                np.char.add(r.choice(adjectives, p), " "), r.choice(nouns, p)
            ),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, p).astype(str)),
            "p_type": r.choice(
                ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], p
            ),
            "p_size": r.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )

    r = _rng(seed, 4)
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": r.integers(0, c, o).astype(np.int64),
            "o_orderstatus": r.choice(["O", "P", "F"], o),
            "o_totalprice": _money(r, 1000.0, 500000.0, o),
            "o_orderdate": _us("1995-01-01", r.integers(0, 2405, o) * 86400),
            "o_orderpriority": r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
            ),
        }
    )

    r = _rng(seed, 5)
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, o, li).astype(np.int64),
            "l_partkey": r.integers(0, p, li).astype(np.int64),
            "l_suppkey": r.integers(0, s, li).astype(np.int64),
            "l_linenumber": r.integers(1, 8, li).astype(np.int32),
            "l_quantity": r.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, li),
            "l_discount": r.integers(0, 11, li) / 100.0,
            "l_tax": r.integers(0, 9, li) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], li),
            "l_linestatus": r.choice(["O", "F"], li),
            "l_shipdate": _us("1995-01-02", r.integers(0, 2499, li) * 86400),
        }
    )

    r = _rng(seed, 6)
    e = n["events"]
    offsets = np.sort(r.uniform(0.0, 30 * 86400.0, e))
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _us("2024-01-01", offsets),
            "user_id": r.integers(0, 1500, e).astype(np.int64),
            "event_type": r.choice(["signup", "click", "error", "view", "purchase"], e),
            "value": np.round(r.exponential(50.0, e), 2),
            "props": np.char.add(
                np.char.add('{"k": ', r.integers(0, 100, e).astype(str)), "}"
            ),
        }
    )

    r = _rng(seed, 7)
    d = n["documents"]
    words = np.array(_WORDS)
    texts = [" ".join(r.choice(words, k)) for k in r.integers(10, 100, d)]
    for dup, src in zip(r.choice(d, 250, replace=False), r.integers(0, d, 250)):
        texts[dup] = texts[src] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": r.choice(_LANGS, d, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    r = _rng(seed, 8)
    m = n["embeddings"]
    vecs = r.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": r.integers(0, 10, m).astype(np.int32),
        }
    )
    return out


def _stamp_text(when: np.ndarray) -> pa.Array:
    """``yyyy-MM-dd HH:mm:ss`` text, the form the LCL CSVs carry."""
    return pc.replace_substring(pa.array(np.datetime_as_string(when, unit="s")), "T", " ")


def make_readings(seed: int, households: int = HOUSEHOLDS) -> tuple[pa.Table, pa.Table]:
    """(readings, tariffs) for the pipeline: every household on the 2013
    half-hourly grid, with the section 1 quirks applied."""
    r = _rng(seed, 20)
    slot = np.arange(HALF_HOURS)
    intraday = 0.5 + 0.5 * np.sin(2 * np.pi * (slot % 48) / 48)
    level = r.lognormal(-1.0, 0.3, (households, 1))
    kwh = (level * intraday * r.lognormal(0.0, 0.2, (households, HALF_HOURS))).ravel()
    house = np.repeat(np.arange(households), HALF_HOURS)
    when = np.tile(YEAR_START + slot * np.timedelta64(1800, "s"), households)
    keep = r.random(kwh.size) > 0.03
    kwh, house, when = kwh[keep], house[keep], when[keep]
    text = np.char.mod("%.4f", kwh).astype(object)
    text[r.random(text.size) < 0.005] = "Null"
    text[r.random(text.size) < 0.002] = None
    ids = np.array([f"MAC{i + 1:06d}" for i in range(households)])
    plan = np.where(np.arange(households) % 10 < 7, "Std", "ToU")
    readings = pa.table(
        {
            "LCLid": ids[house],
            "stdorToU": plan[house],
            "DateTime": _stamp_text(when),
            KWH_COL: pa.array(text, pa.string()),
        }
    )
    days = r.choice(["Normal", "Low", "High"], HALF_HOURS // 48, p=[0.85, 0.1, 0.05])
    tariffs = pa.table(
        {
            "TariffDateTime": _stamp_text(YEAR_START + slot * np.timedelta64(1800, "s")),
            "Tariff": np.repeat(days, 48),
        }
    )
    return readings, tariffs


def _write_tables(root: str, seed: int) -> None:
    for name, table in make_tables(seed).items():
        pq.write_table(
            table, os.path.join(root, f"{name}.parquet"), row_group_size=table.num_rows
        )


def _write_readings(root: str, seed: int) -> None:
    readings, tariffs = make_readings(seed)
    shard_dir = os.path.join(root, "readings")
    os.makedirs(shard_dir)
    bounds = np.linspace(0, readings.num_rows, SHARDS + 1).astype(int)
    for i in range(SHARDS):
        pacsv.write_csv(
            readings.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(shard_dir, f"block_{i}.csv"),
        )
    pacsv.write_csv(tariffs, os.path.join(root, "tariffs.csv"))
    with open(os.path.join(root, "rows.txt"), "w") as fh:
        fh.write(str(readings.num_rows))


BUILDERS = {"tables": _write_tables, "readings": _write_readings}


def ensure(cache: str, kind: str, seed: int) -> str:
    """Directory holding the ``kind`` inputs for ``seed``, building them
    when absent."""
    root = os.path.join(cache, f"{kind}-seed{seed}-v{VERSION}")
    if os.path.exists(os.path.join(root, READY)):
        return root
    partial = f"{root}.partial-{os.getpid()}"
    shutil.rmtree(partial, ignore_errors=True)
    os.makedirs(partial)
    BUILDERS[kind](partial, seed)
    with open(os.path.join(partial, READY), "w") as fh:
        fh.write(f"{kind} seed {seed}\n")
    shutil.rmtree(root, ignore_errors=True)
    os.replace(partial, root)
    return root
