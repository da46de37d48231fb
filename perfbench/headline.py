"""Workload `headline_sf0.01`: the 11 headline queries of `queries/`.

Each pass builds every headline `QuerySpec` in an order the seed
permutes, on the repository's fixed sf0.01 test data (the self-test
uses sf0.001). Steady passes materialize each query with a noop write,
as bench.py does; the cold pass collects each result as Arrow instead,
and those results are checked against the DuckDB oracle after the
passes.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import defaultdict

from check import Checker, CheckError
from datagen import test_data
from measure import SparkCounters, catalyst_phases, run_passes, timed_setup, unit_of

#: test data per profile: "full" is the benchmark, "tiny" the self-test
SCALE = {"full": "sf0.01", "tiny": "sf0.001"}
#: set-ups per run; setup_s is their median. Set-ups after the first
#: reuse the JVM and still speed up as it warms, so the median needs
#: several to sit where they have levelled off.
SETUPS = 7
#: a steady pass took 5.7-6.5 s on a 4-core machine (quartiles of ten
#: runs); --seconds / this is the number of steady passes (2 at
#: run_seconds 12, for a run of about 50 s)
NOMINAL_PASS_S = 6.0


def run_headline(run) -> None:
    from clickhouse_arrow_spark.queries import load_all
    from clickhouse_arrow_spark.session import get_spark
    from clickhouse_arrow_spark.sources import register_tables

    tr = run.tracer
    data = test_data(SCALE[run.profile])
    registry = load_all()
    names = sorted(n for n, s in registry.items() if s.headline)
    checker = Checker(os.path.join(run.work, "check"))
    run.rss.exclude.add(checker.proc.pid)
    spark = None
    try:
        with run.rss:
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                with timed_setup(run, run.rss.exclude):
                    with tr.span("session.get_spark"):
                        spark = get_spark(app_name="perfbench-headline", confs=run.confs)
                    with tr.span("sources.register_tables"):
                        register_tables(spark, data, force=True)
            cold_results = _passes(run, spark, registry, names, data)
        check_outputs(run, checker, registry, cold_results, data)
    finally:
        checker.close()
        if spark is not None:
            spark.stop()


def _passes(run, spark, registry, names, data) -> dict:
    tr = run.tracer
    counters = SparkCounters(spark) if run.deep else None
    order_rng = random.Random(run.seed)
    per_query: dict[str, list[float]] = defaultdict(list)
    steady_sums: dict[str, float] = defaultdict(float)
    cold_results = {}

    def one_pass(steady: bool) -> None:
        sums = steady_sums if steady else defaultdict(float)
        for name in order_rng.sample(names, len(names)):
            spec = registry[name]
            run.attempted += 1
            if run.deep:
                with tr.bookkeeping():
                    before = counters.mark()
            try:
                t0 = time.perf_counter()
                with tr.span("queries.build"):
                    df = spec.build(spark, data)
                build_s = time.perf_counter() - t0
                if run.deep:
                    with tr.bookkeeping():
                        eager = counters.mark()["job"] - before["job"]
                t0 = time.perf_counter()
                with tr.span("queries.exec"):
                    if steady:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        cold_results[name] = df.toArrow()
                exec_s = time.perf_counter() - t0
            except Exception as e:  # a failed query is counted, the run goes on
                run.op_failed(f"query {name}", e)
                continue
            sums["queries.build_s"] += build_s
            sums["queries.exec_s"] += exec_s
            if steady:
                per_query[name].append(build_s + exec_s)
            if run.deep:
                with tr.bookkeeping():
                    phases = catalyst_phases(df)
                    stats = counters.since(before)
                sums["queries.eager_jobs"] += eager
                for phase, ms in phases.items():
                    sums[f"catalyst.{phase}_ms"] += ms
                for key, value in stats.items():
                    sums[f"spark.{key}"] += value

    run_passes(run, one_pass, NOMINAL_PASS_S)

    n = len(run.pass_times)
    for key, total in steady_sums.items():
        run.set(key, total / n, unit_of(key), n)
    for name in names:
        if per_query[name]:
            run.set(f"queries.{name}_s", statistics.median(per_query[name]), "s", len(per_query[name]))
    for span in ("session.get_spark", "sources.register_tables"):
        run.set(f"{span}_s", statistics.median(tr.durations(span)), "s", SETUPS)
    return cold_results


def check_outputs(run, checker, registry, results, data) -> None:
    """Every headline result of the cold pass against its DuckDB oracle."""
    from clickhouse_arrow_spark.sources.registry import TABLES

    for table in TABLES:
        checker.view(table, os.path.join(data, f"{table}.parquet"))
    for name, result in sorted(results.items()):
        run.attempted += 1
        try:
            checker.put("result", result)
            diff = checker.compare("result", registry[name].oracle)
        except CheckError as e:  # reported as a failed check
            run.op_failed(f"check {name}", e)
            continue
        if diff:
            run.op_failed(f"check {name}", f"differs from the oracle: {diff}")

