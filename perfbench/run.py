"""Benchmark of the energy-analytics engine: one command per workload.

    python3 perfbench/run.py --workload pipeline|queries --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The run

1. sizes itself from the host: ``local[cores]`` with cores from the CPU
   affinity mask (what ``nproc`` reports), and a driver heap of a
   quarter of physical memory, clamped to 1-4 GiB;
2. builds the seeded inputs, or reuses them for a seed seen before
   (``fixtures.py``), under ``.perfbench/`` in the checkout;
3. starts one Spark session and runs one warm-up pass of the workload at
   its measured size, then computes or reuses the DuckDB oracle digests
   (``checks.py``). Everything up to here is ``setup_s``, except the
   time to build the inputs and the oracle digests: a seed's first run
   in a checkout pays it and later runs do not, so it is printed apart;
4. runs whole measured passes until ``--seconds`` have elapsed and at
   least ``MIN_PASSES`` have run, checking every result of every pass;
   ``pass_s`` is the median pass, ``op_p50_s``/``op_p90_s`` the
   percentiles over all operations of the measured passes;
5. with ``--trace 1``, runs one more pass with spans and status-store
   counters (``tracing.py``), writes the trace to
   ``.perfbench/out/trace-<workload>-seed<N>.json`` and reports the
   per-layer metrics; tracing overhead is that pass's ``pass_s`` minus
   the median untraced ``pass_s`` of the same run.

Every metric is printed on its own line with unit, bound and
correctness, and the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``attempted`` and
``failed`` count the operations (pipeline stages or queries) of the
warm-up and measured passes; ``failed_ratio`` is their quotient. The
self-tests are ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Measured passes per run, at least: the reported pass_s is a median.
MIN_PASSES = 2


def load_benchmark() -> dict:
    """``BENCHMARK.json``: the metric names, units, directions and bounds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Context:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.heap_mb = heap_mb()
        self.cache = os.path.join(WORK, "cache")
        self.tmp = os.path.join(WORK, "tmp", f"{self.workload}-{os.getpid()}")
        self.out = os.path.join(WORK, "out")


def heap_mb() -> int:
    """A quarter of physical memory, clamped to 1-4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 4))


def descendants(pid: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(entry)] = int(fields[1])
            except OSError:
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of the processes this run
    started: the Spark JVM and its Python workers."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next((int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024.0


def start_spark(ctx):
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{ctx.heap_mb}m"
    from smart_energy_consumption_analytics_using_big_data_spark import get_spark

    local = os.path.join(ctx.tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{ctx.cores}]",
        extra_conf={
            "spark.local.dir": local,
            # no hsperfdata file in /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and its Python workers have exited."""
    children = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at end of input
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)


def settle(spark) -> None:
    """Start a measured pass from a collected heap in both the JVM and
    this process, so garbage left by set-up is not paid inside it."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def say(ctx, text: str) -> None:
    print(f"perfbench {ctx.workload}: {text}", flush=True)


def run(ctx) -> str:
    from stats import failed_ratio, median, percentile
    from tracing import PER_LAYER, NullTracer, Tracer, collect
    from workloads import WORKLOADS

    bench = load_benchmark()
    wl = WORKLOADS[ctx.workload](ctx)
    t = time.perf_counter()
    wl.prepare()
    inputs_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = start_spark(ctx)
    try:
        spark_s = time.perf_counter() - t
        say(ctx, f"cores={ctx.cores} driver_heap={ctx.heap_mb}m seed={ctx.seed} inputs={wl.data}")
        t = time.perf_counter()
        warm = wl.run_pass(spark, NullTracer(), 0)
        warmup_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.setup_checks(spark)
        oracle_s = time.perf_counter() - t
        wl.check(warm, None)
        # Inputs and oracle digests are built on a seed's first run and
        # reused on later ones; their time is left out of setup_s so that
        # setup_s does not depend on what the checkout has cached.
        setup_s = time.perf_counter() - T0 - inputs_s - oracle_s
        say(ctx, f"set-up: Spark start {spark_s:.2f} s, warm-up pass {warmup_s:.2f} s; "
                 f"outside setup_s: inputs {inputs_s:.2f} s, oracle digests {oracle_s:.2f} s")

        passes, t_measure = [], time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t_measure < ctx.seconds:
            settle(spark)
            ops = wl.run_pass(spark, NullTracer(), len(passes) + 1)
            wl.check(ops, warm)
            passes.append(ops)
        rss = peak_rss_mb()
        measured = [op for ops in passes for op in ops]
        all_ops = warm + measured
        failed = [op for op in all_ops if op.error]
        pass_times = [sum(op.seconds for op in ops) for ops in passes]
        times = [op.seconds for op in measured]
        e2e = {
            "setup_s": setup_s,
            "pass_s": median(pass_times),
            "op_p50_s": percentile(times, 50),
            "op_p90_s": percentile(times, 90),
        }

        layer = {}
        if ctx.trace:
            tracer = Tracer(spark.sparkContext, f"{ctx.workload}-{ctx.seed}")
            settle(spark)
            tracer.install()
            try:
                traced = wl.run_pass(spark, tracer, len(passes) + 1)
            finally:
                tracer.uninstall()
            pass_span = tracer.spans[0]
            wl.check(traced, warm)
            failed += [op for op in traced if op.error]
            all_ops += traced
            t_collect = time.perf_counter()
            rows = wl.result_rows(traced) if hasattr(wl, "result_rows") else 0
            layer, doc = collect(spark, tracer, pass_span, ctx.cores, rows)
            layer["trace.overhead_s"] = sum(op.seconds for op in traced) - e2e["pass_s"]
            layer["spark.peak_rss_mb"] = peak_rss_mb()
            doc.update(
                workload=ctx.workload, seed=ctx.seed, cores=ctx.cores, heap_mb=ctx.heap_mb,
                untraced_pass_s=e2e["pass_s"], metrics=layer,
                collect_s=time.perf_counter() - t_collect,
            )
            os.makedirs(ctx.out, exist_ok=True)
            path = os.path.join(ctx.out, f"trace-{ctx.workload}-seed{ctx.seed}.json")
            with open(path, "w") as fh:
                json.dump(doc, fh, indent=1)
            say(ctx, f"trace written to {os.path.relpath(path, ROOT)}")
            for op in doc["operations"]:
                say(
                    ctx,
                    f"trace {op['name']}: wall {op['wall_s']:.3f} s = jobs in child spans "
                    f"{op['child_busy_s']:.3f} + driver {op['driver_s']:.3f} + unaccounted "
                    f"{op['unaccounted_s']:.3f} ({'accounted' if op['accounted'] else 'NOT ACCOUNTED'})"
                    " | self s by layer: "
                    + ", ".join(f"{k} {v:.3f}" for k, v in sorted(op["self_s_by_layer"].items())),
                )
    finally:
        stop_spark(spark)

    correct = not failed
    for op in failed:
        say(ctx, f"FAILED {op.name}: {op.error[:400]}")
    say(ctx, f"failed_ratio = {failed_ratio(len(failed), len(all_ops)):.4f} 1 "
             f"({len(failed)} of {len(all_ops)} operations) correct={correct}")
    say(ctx, f"passes = {len(passes)} measured + 1 warm-up, operation samples n={len(times)}, "
             f"pass_s samples {[round(x, 3) for x in pass_times]}")
    for m in bench["end_to_end"]:
        say(ctx, f"{m['name']} = {e2e[m['name']]:.6g} {m['unit']} (bound {m['bound']}, "
                 f"{m['better']} is better) correct={correct}")
    say(ctx, f"peak_rss_mb = {rss:.6g} MB (no bound, lower is better) correct={correct}")
    if not ctx.trace:
        return result_line(correct, len(all_ops), len(failed), e2e, bench["end_to_end"])
    for m in bench["per_layer"]:
        moves, flat = PER_LAYER[m["name"]]
        say(ctx, f"{m['name']} = {layer[m['name']]:.6g} {m['unit']} ({m['better']} is better; "
                 f"moves {moves}; flat on {flat})")
    return result_line(correct, len(all_ops), len(failed), layer, bench["per_layer"])


def result_line(correct: bool, attempted: int, failed: int, values: dict, metrics: list) -> str:
    """The last line of standard output: the value and unit of every
    metric in ``metrics`` (entries of BENCHMARK.json)."""
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics},
        }
    )


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=["pipeline", "queries"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "smart_energy_consumption_analytics_using_big_data_spark")):
        print(f"perfbench: the engine package is not in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    ctx = Context(args)
    # every temporary file of the run, Spark's included, lives under
    # ctx.tmp and is removed when the run ends
    os.environ["TMPDIR"] = ctx.tmp
    os.makedirs(ctx.tmp, exist_ok=True)
    try:
        line = run(ctx)
    finally:
        shutil.rmtree(ctx.tmp, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
