"""The two workloads. Each is a closed loop with one client: the next
operation starts only after the previous one has returned.

An operation is timed from its call to its result. Checking a result,
clearing caches and removing a pass's output happen outside that
window. ``run_pass`` returns one ``Op`` per operation; ``check`` marks
the wrong ones.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import checks
import fixtures

COMMITTED_SEED = 42
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


@dataclass
class Op:
    name: str
    seconds: float = 0.0
    error: str | None = None
    value: dict = field(default_factory=dict)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def _cached_json(path: str, key: str, compute):
    """``compute()`` once per ``key``; the result is kept in ``path``."""
    if os.path.exists(path):
        with open(path) as fh:
            stored = json.load(fh)
        if stored.get("key") == key:
            return stored["value"]
    value = compute()
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"key": key, "value": value}, fh)
    os.replace(tmp, path)
    return value


class Pipeline:
    """The five CLI stage commands, each one in-process ``cli.main``
    call on the shared session, with parquet hand-off between them."""

    name = "pipeline"
    STAGES = ("ingest", "preprocess", "features", "forecast", "anomaly")

    def __init__(self, ctx):
        self.ctx = ctx
        self.expected = load_expected()["pipeline"]

    def prepare(self) -> None:
        self.data = fixtures.ensure(self.ctx.cache, "readings", self.ctx.seed)
        with open(os.path.join(self.data, "rows.txt")) as fh:
            self.raw_rows = int(fh.read())

    def setup_checks(self, spark) -> None:
        """DuckDB's daily rollup of the same CSVs, once per seed."""
        key = hashlib.sha1(checks.DAILY_ORACLE_SQL.encode()).hexdigest()
        self.oracle = _cached_json(
            os.path.join(self.data, "oracle.json"),
            key,
            lambda: list(checks.daily_oracle_digest(spark, self.data, self.ctx.cores)),
        )

    def _args(self, stage: str, out: str) -> list[str]:
        return {
            "ingest": ["ingest", "--readings", os.path.join(self.data, "readings"), "--out", out],
            "preprocess": ["preprocess", "--tariffs", os.path.join(self.data, "tariffs.csv"), "--out", out],
            "features": ["features", "--out", out],
            "forecast": ["forecast", "--out", out, "--test-cutoff", "2013-10-01", "--val-cutoff", "2013-08-01"],
            "anomaly": ["anomaly", "--out", out],
        }[stage]

    def run_pass(self, spark, tracer, pass_no: int) -> list[Op]:
        from smart_energy_consumption_analytics_using_big_data_spark import cli

        out = os.path.join(self.ctx.tmp, f"pass-{pass_no}")
        shutil.rmtree(out, ignore_errors=True)
        ops = []
        with tracer.span("pass", "pass"):
            for stage in self.STAGES:
                op = Op(stage)
                printed = io.StringIO()
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"stage {stage}", "op"), contextlib.redirect_stdout(printed):
                        cli.main(self._args(stage, out))
                except Exception as exc:  # noqa: BLE001 - a failed stage is counted, not fatal
                    op.error = f"{type(exc).__name__}: {exc}"
                op.seconds = time.perf_counter() - t0
                lines = [ln for ln in printed.getvalue().splitlines() if ln.startswith("{")]
                op.value = json.loads(lines[-1]) if lines else {}
                ops.append(op)
                if op.error:
                    break
        if not ops[-1].error:
            ops[1].value["daily_digest"] = list(checks.daily_digest(spark, os.path.join(out, "daily")))
        shutil.rmtree(out, ignore_errors=True)
        spark.catalog.clearCache()
        return ops

    @staticmethod
    def outcome(ops: list[Op]) -> dict:
        by = {op.name: op.value for op in ops}
        return {
            "ingest_rows": by.get("ingest", {}).get("rows"),
            "features_rows": by.get("features", {}).get("rows"),
            "best": by.get("forecast", {}).get("best"),
            "rmse": by.get("forecast", {}).get("metrics", {}).get("rmse"),
            "flagged": by.get("anomaly", {}).get("flagged"),
        }

    def check(self, ops: list[Op], reference: list[Op] | None) -> None:
        got = self.outcome(ops)
        want = self.outcome(reference) if reference else got
        if self.ctx.seed == COMMITTED_SEED:
            want = {**want, **self.expected}
        rules = {
            "ingest": got["ingest_rows"] == self.raw_rows,
            "preprocess": ops[1].value.get("daily_digest") == self.oracle if len(ops) > 1 else False,
            "features": got["features_rows"] == want["features_rows"],
            "forecast": (got["best"], got["rmse"]) == (want["best"], want["rmse"]),
            "anomaly": got["flagged"] == want["flagged"],
        }
        for op in ops:
            if op.error is None and not rules[op.name]:
                op.error = f"wrong result: {json.dumps(got)} expected {json.dumps(want)}"


class Queries:
    """A fixed list of the headline queries on seeded sf0.1-shaped
    tables, in a seed-shuffled order each pass. Each query is built by
    its registry call and forced by the digest aggregation."""

    name = "queries"
    # One headline query per layer this workload targets: operators and
    # plans (q_flagship), ext's Arrow/Python path (q_dedup_minhash_arrow),
    # streaming (q_stream_rollup) and functions (q_text_bpe_encode). The
    # list is kept this short so that a run, with its JVM start and cold
    # warm-up pass, fits the benchmark's time budget.
    QUERIES = (
        "q_flagship",
        "q_dedup_minhash_arrow",
        "q_stream_rollup",
        "q_text_bpe_encode",
    )

    def __init__(self, ctx):
        self.ctx = ctx
        self.expected = load_expected()["queries"]
        self.schemas: dict = {}

    def prepare(self) -> None:
        self.data = fixtures.ensure(self.ctx.cache, "tables", self.ctx.seed)

    def setup_checks(self, spark) -> None:
        """DuckDB digests of every query that has a registered oracle,
        once per seed; the Spark result types come from the warm-up."""
        from smart_energy_consumption_analytics_using_big_data_spark.plans import ORACLE
        from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import (
            TESTDATA_TABLES,
        )

        names = [n for n in self.QUERIES if n in ORACLE and n in self.schemas]
        key = hashlib.sha1(
            json.dumps([[n, ORACLE[n], self.schemas[n].json()] for n in names]).encode()
        ).hexdigest()

        def compute():
            con = checks.duckdb_connection(
                self.ctx.cores, checks.table_views(self.data, TESTDATA_TABLES)
            )
            try:
                return {
                    n: list(checks.digest_like(spark, con.execute(ORACLE[n]).arrow(), self.schemas[n]))
                    for n in names
                }
            finally:
                con.close()

        self.oracle = _cached_json(os.path.join(self.data, "oracle.json"), key, compute)

    def run_pass(self, spark, tracer, pass_no: int) -> list[Op]:
        from smart_energy_consumption_analytics_using_big_data_spark.plans import QUERIES

        order = list(self.QUERIES)
        random.Random(self.ctx.seed * 1000 + pass_no).shuffle(order)
        ops = []
        with tracer.span("pass", "pass"):
            for name in order:
                op = Op(name)
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"query {name}", "op"):
                        with tracer.span("plans.build", "plans"):
                            df = QUERIES[name](spark, self.data)
                        with tracer.span("plans.execute", "plans"):
                            n, h = checks.digest(df)
                    op.value = {"digest": [n, h]}
                    self.schemas.setdefault(name, df.schema)
                except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                    op.error = f"{type(exc).__name__}: {exc}"
                op.seconds = time.perf_counter() - t0
                spark.catalog.clearCache()
                ops.append(op)
        return ops

    def check(self, ops: list[Op], reference: list[Op] | None) -> None:
        ref = {op.name: op.value.get("digest") for op in reference or ops}
        for op in ops:
            if op.error:
                continue
            got = op.value["digest"]
            if op.name in self.oracle:
                want = self.oracle[op.name]
            elif self.ctx.seed == COMMITTED_SEED:
                want = self.expected.get(op.name)
            else:
                want = ref.get(op.name)
            if got != want:
                op.error = f"wrong result: digest {got} expected {want}"

    @staticmethod
    def result_rows(ops: list[Op]) -> int:
        return sum(op.value["digest"][0] for op in ops if "digest" in op.value)


WORKLOADS = {"pipeline": Pipeline, "queries": Queries}
