#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (sf0.001, small reads).

    python3 perfbench/selftest.py

From the root of a checkout. It proves three things, and exits with 1
if any fails:

1. every op of every workload runs: each workload, untraced and traced,
   exits 0 with `correct: true`, no failed op, and nonzero per-layer
   counts for the layers it is meant to exercise;
2. every metric of BENCHMARK.json is emitted, with its unit, as a
   finite number;
3. a corrupted result fails the output check: with the first non-empty
   `DataFrame.toArrow()` result altered in one cell, each workload
   exits 1 with `correct: false`. A run outside a full checkout must
   also fail without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: per workload, per-layer metrics the traced run must see above zero:
#: one for each op family of the workload
MUST_MOVE = {
    "headline_sf0.01": [
        "queries.build_s", "queries.exec_s", "queries.eager_jobs",
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
        "session.get_spark_s", "sources.register_tables_s",
        "proc.rss_driver_mb", "proc.rss_jvm_mb", "trace.pass_s",
        *(f"queries.{q}_s" for q in (
            "ann_brute_force_topk", "asof_events_orders", "bench_tpch_q01_pricing",
            "core_topk_orders", "dedup_exact", "events_sessionization",
            "join_broadcast_dim", "q3_shipping_priority", "q5_local_supplier",
            "shingle_minhash_lsh", "tumbling_batch_window")),
    ],
    "client_arrow_http": [
        "select_mb_s", "select_small_p50_s", "insert_mb_s", "insert_many_mb_s",
        "insert_batches_mb_s", "ch_query_p50_s", "http_select_mb_s",
        "http_insert_mb_s", "http_insert_many_mb_s", "remote_scan_mb_s",
        "remote_insert_mb_s", "client.query_s", "client.to_arrow_s",
        "client.create_df_s", "scan.rows_read_per_row_returned",
        *(f"client.{m}.{kind}" for m in ("sql_executions_per_insert", "write_tasks_per_insert",
                                          "files_per_insert", "disk_bytes_per_arrow_byte")
          for kind in ("single", "many", "batches")),
        "catalyst.analysis_ms", "dialect.translate_ms", "http.first_batch_s",
        "http.requests_per_op", "http.ipc_bytes", "http.wire_bytes", "stub.busy_s",
        "dsv2.plan_s", "dsv2.exec_s", "dsv2.partitions", "dsv2.insert_requests",
        "spark.jobs", "spark.tasks", "session.get_spark_s", "client.create_tables_s",
        "stub.start_s", "data.generate_s", "proc.rss_workers_mb", "known_defects",
        "failed_ops", "trace.pass_s",
    ],
}


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result, proc.stdout + proc.stderr[-3000:]


def check_metrics(result: dict, wanted: list[dict], where: str) -> list[str]:
    errors = []
    got = result["metrics"]
    if sorted(got) != sorted(m["name"] for m in wanted):
        errors.append(f"{where}: metric names differ from BENCHMARK.json: "
                      f"{sorted(set(got) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        entry = got.get(m["name"])
        if entry is None:
            continue
        if entry.get("unit") != m["unit"]:
            errors.append(f"{where}: {m['name']} unit {entry.get('unit')} != {m['unit']}")
        value = entry.get("value")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            errors.append(f"{where}: {m['name']} value {value!r} is not a finite number")
    return errors


def corrupted_child(workload: str) -> int:
    """Run one tiny workload with the first non-empty toArrow() result
    altered in one cell: the program returning a wrong answer."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.classic.dataframe import DataFrame

    original = DataFrame.toArrow
    done = []

    def corrupt(self):
        table = original(self)
        if done or table.num_rows == 0:
            return table
        done.append(True)
        for i, field in enumerate(table.schema):
            column = table.column(i)
            if pa.types.is_integer(field.type) or pa.types.is_floating(field.type):
                return table.set_column(i, field, pc.add(column, pa.scalar(1, field.type)))
            if pa.types.is_binary(field.type) or pa.types.is_string(field.type):
                return table.set_column(i, field, pc.binary_join_element_wise(column, column, ""))
        return table.slice(1)

    DataFrame.toArrow = corrupt
    sys.path.insert(0, HERE)
    import run

    return run.main(["--workload", workload, "--seed", "5", "--seconds", "1",
                     "--trace", "0", "--profile", "tiny"])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors: list[str] = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            where = f"{workload} trace={trace}"
            rc, result, out = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                                    "--trace", str(trace), "--profile", "tiny")
            if rc != 0 or result is None or not result["correct"] or result["failed"]:
                errors.append(f"{where}: rc={rc} result={result and {k: result[k] for k in ('correct', 'failed')}}\n{out}")
                continue
            errors += check_metrics(result, spec["per_layer" if trace else "end_to_end"], where)
            if trace:
                idle = [m for m in MUST_MOVE[workload] if not result["metrics"].get(m, {}).get("value")]
                if idle:
                    errors.append(f"{where}: no work seen for {idle}")
            print(f"ok: {where}: {result['attempted']} ops and checks", flush=True)

        proc = subprocess.run([sys.executable, __file__, "--corrupted", workload],
                              cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if proc.returncode != 1 or result is None or result["correct"]:
            errors.append(f"{workload}: a corrupted result was not caught (rc={proc.returncode})\n"
                          + proc.stdout[-2000:] + proc.stderr[-2000:])
        else:
            print(f"ok: {workload}: corrupted result caught", flush=True)

    # outside a full checkout: only BENCHMARK.json and perfbench/
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, result, out = bench("--workload", spec["workloads"][0]["name"], "--seed", "1",
                            "--seconds", "1", "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(bare))
    except OSError:
        pass
    if rc == 0 or result is not None:
        errors.append(f"bare directory: rc={rc}, result={result}")
    else:
        print("ok: outside a checkout it fails without a result", flush=True)

    for e in errors:
        print("FAIL: " + e, flush=True)
    return 1 if errors else 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--corrupted":
        sys.exit(corrupted_child(sys.argv[2]))
    sys.exit(main())
