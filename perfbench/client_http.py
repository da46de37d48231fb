"""Workload `client_arrow_http`: Arrow in and out of `Client`, and the
HTTP ArrowStream path against `ArrowHttpStub` in its own process.

Data: the reference benchmark's 4-column schema (16-byte binary `id`,
binary `name`, Float64 `value`, Timestamp(ms, UTC) `ts`), generated from
the seed, plus `lineitem` of the repository's sf0.1 test data for the
partitioned remote scan.

Every pass runs this op mix, one client, one op at a time (the cold
pass gives the many-batch inserts 10 of their 100 batches, see
COLD_BATCHES):

- `Client.query_batches("SELECT * FROM rd LIMIT n")`, n in 10k/100k/400k,
  on a read table registered at setup, then 4 more 10k reads;
- `Client.insert` of one 100k-row table;
- `Client.insert_many` and `Client.insert_batches` of the same
  100 x 1k-row batches (the reference's 100-block deferred flush);
- five ClickHouse-dialect statements through `Client.query_ch(...).toArrow()`:
  combinators, a parametric aggregate, LIMIT n BY, WITH TOTALS, a
  SETTINGS tail;
- for compression None and lz4: `HttpArrowTransport.query_batches` at
  the same n, `insert_batches` of the 100k table and of the 100 batches;
- `Client.read_remote("lineitem", partition_column="l_orderkey",
  num_partitions=nproc)` and `Client.insert_remote` of 100k rows.

Write tables and the stub's sink tables are truncated before each pass
and read back after the last one.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from check import Checker, CheckError
from measure import SparkCounters, catalyst_phases, run_passes, timed_setup, tree_cpu_seconds, unit_of

#: set-ups per run; setup_s is their median (see headline.SETUPS)
SETUPS = 5
#: a steady pass took 19-23 s on a 4-core machine (quartiles of ten
#: runs; 40 s under heavy hypervisor steal), three fifths of it in
#: insert_many; --seconds / this is the number of steady passes: one at
#: run_seconds 12, after a cold pass of about 23 s, for a run of about
#: 71 s
NOMINAL_PASS_S = 20.0
#: sizes per profile: "full" is the benchmark, "tiny" the self-test
PROFILES = {
    "full": {"read_rows": 400_000, "select": (10_000, 100_000, 400_000),
             "small_repeats": 4, "insert": 100_000, "batches": 100,
             "batch_rows": 1_000, "lineitem": "sf0.1"},
    "tiny": {"read_rows": 4_000, "select": (100, 1_000, 4_000),
             "small_repeats": 1, "insert": 1_000, "batches": 3,
             "batch_rows": 100, "lineitem": "sf0.001"},
}
#: The cold pass gives the many-batch inserts the first 10 of their
#: batches. With all 100, insert_many's 400 write tasks made the cold
#: pass 35-45 s of an 80-100 s run; the first call on each path, which
#: is what the cold pass measures, is paid either way.
COLD_BATCHES = 10
CODECS = (None, "lz4")
WRITE_TABLES = ("w_single", "w_many", "w_batches")
SINKS = tuple(f"sink_{shape}_{c or 'none'}" for shape in ("single", "many") for c in CODECS) + ("sink_remote",)

#: (ClickHouse statement, DuckDB oracle) over the read table `rd`
CH_STATEMENTS = (
    ("SELECT countIf(value > 0) AS c, round(sumIf(value, value > 0), 2) AS s, "
     "round(avgIf(value, value < 0), 6) AS a FROM rd",
     "SELECT count(*) FILTER (WHERE value > 0) AS c, "
     "round(sum(value) FILTER (WHERE value > 0), 2) AS s, "
     "round(avg(value) FILTER (WHERE value < 0), 6) AS a FROM rd"),
    ("SELECT uniqUpTo(3)(toYear(ts)) AS u, uniqUpTo(10)(toYear(ts)) AS v FROM rd",
     "SELECT least(count(DISTINCT year(ts)), 4) AS u, "
     "least(count(DISTINCT year(ts)), 11) AS v FROM rd"),
    ("SELECT toYYYYMM(ts) AS m, value FROM rd WHERE value > 250 "
     "ORDER BY m, value DESC LIMIT 2 BY m",
     "SELECT m, value FROM (SELECT year(ts) * 100 + month(ts) AS m, value, "
     "row_number() OVER (PARTITION BY year(ts) * 100 + month(ts) ORDER BY value DESC) AS rn "
     "FROM rd WHERE value > 250) WHERE rn <= 2"),
    ("SELECT toYear(ts) AS y, count() AS c, round(sum(value), 2) AS s FROM rd "
     "GROUP BY y WITH TOTALS ORDER BY y",
     "SELECT year(ts) AS y, count(*) AS c, round(sum(value), 2) AS s FROM rd "
     "GROUP BY GROUPING SETS ((year(ts)), ())"),
    ("SELECT count() AS c FROM rd WHERE value > 0 SETTINGS max_threads = 2",
     "SELECT count(*) AS c FROM rd WHERE value > 0"),
)

#: Known defect: the reference schema's binary `name` maps to ClickHouse
#: String and then to Spark StringType, so `read_remote` of the read
#: table fails inside the DSv2 scan.
READ_REMOTE_DEFECT = ("getUTF8String", "UNSUPPORTED_CALL")


class Stub:
    """`stub_server.py` in a child process, left out of the memory and
    CPU figures of the passes through `exclude` (the server stands in
    for ClickHouse; it is not the program under test)."""

    def __init__(self, tables: dict[str, str], exclude: set[int]) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "stub_server.py"),
             *(f"{k}={v}" for k, v in tables.items())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        exclude.add(self.proc.pid)
        self.url = self.proc.stdout.readline().strip()
        if not self.url.startswith("http://"):
            self.stop()
            raise RuntimeError("stand-in server did not start")

    def stats(self) -> dict[str, float]:
        from clickhouse_arrow_spark.sources.http_transport import HttpArrowTransport

        row = HttpArrowTransport(self.url).query_batches("SELECT perfbench_stats")[0]
        return {k: v[0] for k, v in row.to_pydict().items()}

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _inputs(seed: int, data: str, sizes: dict) -> dict:
    """The read table (also written to `data/rd.parquet`) and the insert
    payloads, each its own table: pyarrow 16 crashes casting a sliced
    fixed-size binary column, which Spark's createDataFrame does."""
    os.makedirs(data, exist_ok=True)
    inputs = {
        "rd": datagen.reference_table(seed, 0, sizes["read_rows"]),
        "single": datagen.reference_table(seed, 1, sizes["insert"]),
        "many": [datagen.reference_table(seed, 100 + i, sizes["batch_rows"])
                 for i in range(sizes["batches"])],
        "remote": datagen.reference_table(seed, 3, sizes["insert"]),
    }
    pq.write_table(inputs["rd"], os.path.join(data, "rd.parquet"))
    pq.write_table(datagen.reference_table(seed, 0, 0), os.path.join(data, "empty.parquet"))
    return inputs


def run_client_http(run) -> None:
    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.session import get_spark

    tr = run.tracer
    sizes = PROFILES[run.profile]
    data = os.path.join(run.work, "data")
    lineitem = os.path.join(datagen.test_data(sizes["lineitem"]), "lineitem.parquet")
    warehouse = run.confs["spark.sql.warehouse.dir"]
    with tr.span("data.generate"):
        inputs = _inputs(run.seed, data, sizes)
    run.set("data.generate_s", tr.durations("data.generate")[0], "s", 1)
    checker = Checker(os.path.join(run.work, "check"))
    run.rss.exclude.add(checker.proc.pid)
    # what every read and write is checked against
    checker.load("rd", os.path.join(data, "rd.parquet"))
    checker.load("lineitem", lineitem)
    want = {"rd": checker.digest("rd"), "lineitem": checker.digest("lineitem")}
    for name, table in (("single", inputs["single"]), ("many", pa.concat_tables(inputs["many"])),
                        ("remote", inputs["remote"])):
        checker.put(name, table)
        want[name] = checker.digest(name)
        checker.drop(name)
    spark = stub = None
    try:
        with run.rss:
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                    stub.stop()
                    run.rss.exclude.discard(stub.proc.pid)
                shutil.rmtree(warehouse, ignore_errors=True)  # each setup starts empty
                with timed_setup(run, {checker.proc.pid}):
                    with tr.span("session.get_spark"):
                        spark = get_spark(app_name="perfbench-client", confs=run.confs)
                    with tr.span("client.create_tables"):
                        client = Client(spark)
                        client.execute("DROP TABLE IF EXISTS default.rd")
                        client.execute(
                            f"CREATE TABLE default.rd USING PARQUET LOCATION '{data}/rd.parquet'"
                        )
                        for name in WRITE_TABLES:
                            client.execute(f"DROP TABLE IF EXISTS default.{name}")
                            client.create_table("default", name, spark.table("default.rd").schema)
                    with tr.span("stub.start"):
                        stub = Stub({
                            "ref": f"{data}/rd.parquet",
                            "lineitem": lineitem,
                            **{s: f"{data}/empty.parquet" for s in SINKS},
                        }, run.rss.exclude)
            client = Client(spark, http_url=stub.url)
            last_writes = _measure(run, spark, client, stub, checker, inputs, want, warehouse)
        _read_back(run, client, stub, checker, last_writes, want)
        _probe_read_remote_defect(run, client, checker, want)
    finally:
        checker.close()
        if stub is not None:
            stub.stop()
        if spark is not None:
            spark.stop()


def _measure(run, spark, client, stub, checker, inputs, want, warehouse) -> dict:
    """The passes; returns what the last pass wrote to each table, as a
    key of `want`."""
    from clickhouse_arrow_spark.dialect import translate_ch_sql
    from clickhouse_arrow_spark.sources.http_transport import HttpArrowTransport as Transport

    tr = run.tracer
    deep = run.deep
    sizes = PROFILES[run.profile]
    counters = SparkCounters(spark) if deep else None
    remote_df = spark.createDataFrame(inputs["remote"])
    single, many = inputs["single"], inputs["many"]
    many_rb = [b.to_batches()[0] for b in many]
    many_mb = sum(b.nbytes for b in many) / 2**20

    samples: dict[str, list[float]] = defaultdict(list)
    moved: dict[str, float] = defaultdict(float)  # MB per op family, steady passes
    spent: dict[str, float] = defaultdict(float)  # seconds per op family
    layer: dict[str, float] = defaultdict(float)  # per-layer sums, steady passes
    last_writes: dict[str, str] = {}
    op_time = [0.0, 0.0]  # wall and CPU seconds inside ops in the current pass

    def timed(family: str, steady: bool, fn, mb: float = 0.0):
        run.attempted += 1
        cpu0 = tree_cpu_seconds(run.rss.exclude)
        t0 = time.perf_counter()
        with tr.span(family):
            out = fn()
        dt = time.perf_counter() - t0
        op_time[0] += dt
        op_time[1] += tree_cpu_seconds(run.rss.exclude) - cpu0
        if steady:
            samples[family].append(dt)
            spent[family] += dt
            moved[family] += mb
        return out, dt

    def read_check(what: str, got_batches, n: int) -> None:
        got = pa.Table.from_batches(got_batches) if got_batches else pa.table({})
        try:
            if got.num_rows == n:
                checker.put("got", got)
                found = checker.contained("got", "rd")
        except CheckError as e:
            run.op_failed(what, e)
            return
        if got.num_rows != n or found != n:
            run.op_failed(what, f"{got.num_rows} rows, expected {n} rows of the read table")

    def truncate_all() -> None:
        for name in WRITE_TABLES:
            client.execute(f"TRUNCATE TABLE default.{name}")
        plain = Transport(stub.url)
        for sink in SINKS:
            plain.execute(f"TRUNCATE TABLE {sink}")

    def files_of(table: str) -> tuple[int, int]:
        path = os.path.join(warehouse, table)
        names = [f for f in os.listdir(path) if not f.startswith((".", "_"))]
        return len(names), sum(os.path.getsize(os.path.join(path, f)) for f in names)

    def client_select(sql: str) -> list:
        if not deep:
            return client.query_batches(sql)
        with tr.span("client.query"):
            df = client.query(sql)
        with tr.span("client.to_arrow"):
            table = df.toArrow()
        with tr.span("client.to_batches"):
            return table.to_batches()

    def one_pass(steady: bool) -> tuple[float, float]:
        op_time[:] = [0.0, 0.0]
        truncate_all()
        if deep:
            with tr.bookkeeping():
                pass_mark = counters.mark()
                stub_before = stub.stats()
        # -- Client: Arrow out ------------------------------------------------
        for i, n in enumerate(list(sizes["select"]) + [sizes["select"][0]] * sizes["small_repeats"]):
            sql = f"SELECT * FROM default.rd LIMIT {n}"
            if deep:
                with tr.bookkeeping():
                    mark = counters.mark()
            try:
                batches, dt = timed("client.select", steady, lambda: client_select(sql))
            except Exception as e:
                run.op_failed(f"select {n}", e)
                continue
            mb = sum(b.nbytes for b in batches) / 2**20
            if steady:
                if i < len(sizes["select"]):
                    moved["select"] += mb
                    spent["select"] += dt
                if n == sizes["select"][0]:
                    samples["select_small"].append(dt)
            if deep:
                with tr.bookkeeping():
                    stats = counters.since(mark)
                if steady:
                    layer["scan.rows_read"] += stats["input_records"]
                    layer["scan.rows_returned"] += n
            read_check(f"select {n}", batches, n)
        # -- Client: Arrow in -------------------------------------------------
        k = len(many) if steady else COLD_BATCHES
        pass_many, pass_many_rb = many[:k], many_rb[:k]
        for kind, table, fn, mb in (
            ("single", "w_single", lambda: client.insert("default.w_single", single), single.nbytes / 2**20),
            ("many", "w_many", lambda: client.insert_many("default.w_many", pass_many), many_mb),
            ("batches", "w_batches", lambda: client.insert_batches("default.w_batches", pass_many_rb), many_mb),
        ):
            if deep:
                with tr.bookkeeping():
                    mark, files0 = counters.mark(), files_of(table)
            try:
                timed(f"client.insert_{kind}", steady, fn, mb)
            except Exception as e:
                run.op_failed(f"insert {kind}", e)
                continue
            if deep and steady:
                with tr.bookkeeping():
                    stats, files1 = counters.since(mark), files_of(table)
                layer[f"client.sql_executions_per_insert.{kind}"] += stats["sql_executions"]
                layer[f"client.write_tasks_per_insert.{kind}"] += stats["tasks"]
                layer[f"client.files_per_insert.{kind}"] += files1[0] - files0[0]
                layer[f"client.disk_bytes_per_arrow_byte.{kind}"] += (
                    (files1[1] - files0[1]) / (mb * 2**20)
                )
        last_writes.update({"w_single": "single", "w_many": "many", "w_batches": "many"})
        if deep and steady:
            with tr.bookkeeping():
                for b in many[:3]:
                    t0 = time.perf_counter()
                    spark.createDataFrame(b)
                    samples["client.create_df"].append(time.perf_counter() - t0)
        # -- Client: ClickHouse dialect --------------------------------------
        for stmt, oracle in CH_STATEMENTS:
            try:
                def run_ch():
                    df = client.query_ch(stmt)
                    return df, df.toArrow()
                (df, got), _ = timed("client.query_ch", steady, run_ch)
            except Exception as e:
                run.op_failed(f"query_ch {stmt[:40]}", e)
                continue
            try:
                checker.put("got", got)
                diff = checker.compare("got", oracle)
            except CheckError as e:
                diff = str(e)
            if diff:
                run.op_failed(f"query_ch {stmt[:40]}", f"differs from the DuckDB oracle: {diff}")
            if deep and steady:
                with tr.bookkeeping():
                    for phase, ms in catalyst_phases(df).items():
                        layer[f"catalyst.{phase}_ms"] += ms
                    t0 = time.perf_counter()
                    translate_ch_sql(stmt)
                    samples["dialect.translate"].append(time.perf_counter() - t0)
        # -- HTTP ArrowStream: transport ---------------------------------------
        for codec in CODECS:
            transport = Transport(stub.url, compression=codec)
            for n in sizes["select"]:
                sql = f"SELECT * FROM ref LIMIT {n}"

                def http_select():
                    if not deep:
                        return transport.query_batches(sql)
                    t0 = time.perf_counter()
                    it = transport.iter_batches(sql)
                    out = [next(it)]
                    t1 = time.perf_counter()
                    out.extend(it)
                    if steady:
                        samples["http.first_batch"].append(t1 - t0)
                        layer["http.decode_s"] += time.perf_counter() - t1
                    return out

                try:
                    batches, _ = timed("http.select", steady, http_select)
                except Exception as e:
                    run.op_failed(f"http select {n} {codec}", e)
                    continue
                if steady:
                    moved["http.select"] += sum(b.nbytes for b in batches) / 2**20
                read_check(f"http select {n} {codec}", batches, n)
            tag = codec or "none"
            for shape, payload, mb in (
                ("single", single.to_batches(), single.nbytes / 2**20),
                ("many", pass_many_rb, many_mb),
            ):
                try:
                    timed(f"http.insert_{shape}", steady,
                          lambda: transport.insert_batches(f"sink_{shape}_{tag}", payload), mb)
                except Exception as e:
                    run.op_failed(f"http insert {shape} {codec}", e)
                last_writes[f"sink_{shape}_{tag}"] = shape
        # -- HTTP ArrowStream: DSv2 --------------------------------------------
        def remote_scan():
            t0 = time.perf_counter()
            df = client.read_remote("lineitem", partition_column="l_orderkey",
                                    num_partitions=run.cpus)
            if not deep:
                return df.toArrow()
            # planning runs the schema and bounds round trips
            df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            out = df.toArrow()
            if steady:
                layer["dsv2.plan_s"] += t1 - t0
                layer["dsv2.exec_s"] += time.perf_counter() - t1
            return out

        if deep:
            with tr.bookkeeping():
                mark = counters.mark()
        try:
            got, _ = timed("dsv2.read_remote", steady, remote_scan)
            if steady:
                moved["dsv2.read_remote"] += got.nbytes / 2**20
            checker.put("got", got)
            if checker.digest("got") != want["lineitem"]:
                run.op_failed("read_remote lineitem", "rows differ from the test data's lineitem")
            if deep and steady:
                with tr.bookkeeping():
                    stats = counters.since(mark)
                layer["dsv2.partitions"] += stats["tasks"]
        except Exception as e:
            run.op_failed("read_remote lineitem", e)
        remote = inputs["remote"]
        if deep:
            with tr.bookkeeping():
                before = stub.stats()
        try:
            timed("dsv2.insert_remote", steady,
                  lambda: client.insert_remote("sink_remote", remote_df),
                  remote.nbytes / 2**20)
        except Exception as e:
            run.op_failed("insert_remote", e)
        last_writes["sink_remote"] = "remote"
        if deep and steady:
            with tr.bookkeeping():
                after = stub.stats()
            layer["dsv2.insert_requests"] += after["requests"] - before["requests"] - 1
        if deep and steady:
            with tr.bookkeeping():
                stats = counters.since(pass_mark)
                stub_after = stub.stats()
            for key, value in stats.items():
                layer[f"spark.{key}"] += value
            http_ops = len(CODECS) * (len(sizes["select"]) + 2) + 2
            # minus the three stats requests made since stub_before
            layer["http.requests_per_op"] += (stub_after["requests"] - stub_before["requests"] - 3) / http_ops
            layer["http.ipc_bytes"] += stub_after["ipc_in"] + stub_after["ipc_out"] - stub_before["ipc_in"] - stub_before["ipc_out"]
            layer["http.wire_bytes"] += stub_after["wire_in"] + stub_after["wire_out"] - stub_before["wire_in"] - stub_before["wire_out"]
            layer["stub.busy_s"] += stub_after["busy_s"] - stub_before["busy_s"]
        return op_time[0], op_time[1]

    run_passes(run, one_pass, NOMINAL_PASS_S)
    _report(run, samples, moved, spent, layer)
    return last_writes


def _read_back(run, client, stub, checker, last_writes, want) -> None:
    """Every write of the last pass, read back and compared (untimed)."""
    from clickhouse_arrow_spark.sources.http_transport import HttpArrowTransport

    plain = HttpArrowTransport(stub.url)
    for name, wrote in last_writes.items():
        run.attempted += 1
        try:
            if name.startswith("w_"):
                got = client.query_arrow(f"SELECT * FROM default.{name}")
            else:
                got = pa.Table.from_batches(plain.query_batches(f"SELECT * FROM {name}"))
            checker.put("got", got)
            digest = checker.digest("got")
        except Exception as e:
            run.op_failed(f"read back {name}", e)
            continue
        if digest != want[wrote]:
            run.op_failed(f"read back {name}", f"{got.num_rows} rows differ from the {want[wrote][0]} written")


def _probe_read_remote_defect(run, client, checker, want) -> None:
    """`read_remote` of the reference table, once, untimed: a registered
    known defect. Its error must be the registered one; if it succeeds,
    the rows must be right."""
    run.attempted += 1
    try:
        got = client.read_remote("ref").toArrow()
    except Exception as e:
        text = str(e)
        if all(marker in text for marker in READ_REMOTE_DEFECT):
            run.known.append((
                "read_remote ref",
                "UNSUPPORTED_CALL: ArrowColumnVector.getUTF8String on the "
                "binary `name` column (mapped to String, then StringType)",
            ))
        else:
            run.op_failed("read_remote ref", e)
        return
    try:
        checker.put("got", got)
        if checker.digest("got") != want["rd"]:
            run.op_failed("read_remote ref", "rows differ from the read table")
    except CheckError as e:
        run.op_failed("read_remote ref", e)


def _report(run, samples, moved, spent, layer) -> None:
    n = len(run.pass_times)

    def rate(family: str) -> float:
        return moved[family] / spent[family] if spent[family] else 0.0

    run.set("select_mb_s", rate("select"), "MB/s", len(samples["client.select"]))
    run.set("select_small_p50_s", statistics.median(samples["select_small"]), "s", len(samples["select_small"]))
    run.set("insert_mb_s", rate("client.insert_single"), "MB/s", len(samples["client.insert_single"]))
    run.set("insert_many_mb_s", rate("client.insert_many"), "MB/s", len(samples["client.insert_many"]))
    run.set("insert_batches_mb_s", rate("client.insert_batches"), "MB/s", len(samples["client.insert_batches"]))
    run.set("http_select_mb_s", rate("http.select"), "MB/s", len(samples["http.select"]))
    run.set("http_insert_mb_s", rate("http.insert_single"), "MB/s", len(samples["http.insert_single"]))
    run.set("http_insert_many_mb_s", rate("http.insert_many"), "MB/s", len(samples["http.insert_many"]))
    run.set("remote_scan_mb_s", rate("dsv2.read_remote"), "MB/s", len(samples["dsv2.read_remote"]))
    run.set("remote_insert_mb_s", rate("dsv2.insert_remote"), "MB/s", len(samples["dsv2.insert_remote"]))
    run.set("ch_query_p50_s", statistics.median(samples["client.query_ch"]), "s", len(samples["client.query_ch"]))
    tr = run.tracer
    for span in ("session.get_spark", "client.create_tables", "stub.start"):
        run.set(f"{span}_s", statistics.median(tr.durations(span)), "s", SETUPS)
    if not run.deep:
        return
    rows_returned = layer.pop("scan.rows_returned", 0.0)
    rows_read = layer.pop("scan.rows_read", 0.0)
    run.set("scan.rows_read_per_row_returned", rows_read / rows_returned if rows_returned else 0.0, "ratio")
    for key, total in layer.items():
        unit = "ratio" if "disk_bytes_per_arrow_byte" in key else unit_of(key)
        run.set(key, total / n, unit, n)
    for span in ("client.query", "client.to_arrow", "client.to_batches"):
        # per steady pass, like the other sums
        steady_calls = tr.durations(span)[-len(samples["client.select"]):] if samples["client.select"] else []
        run.set(f"{span}_s", sum(steady_calls) / n, "s", len(steady_calls))
    for name, key in (("client.create_df_s", "client.create_df"), ("http.first_batch_s", "http.first_batch")):
        if samples[key]:
            run.set(name, statistics.median(samples[key]), "s", len(samples[key]))
    if samples["dialect.translate"]:
        run.set("dialect.translate_ms", 1e3 * statistics.median(samples["dialect.translate"]), "ms",
                len(samples["dialect.translate"]))
