"""Output checks. They run outside every timed region, in a process of
their own (`Checker`), so DuckDB and the checks' copies of the data
count neither in the driver's memory nor in its CPU time.

- Query results are compared with the DuckDB oracle SQL each headline
  `QuerySpec` carries (and the dialect statements with their DuckDB
  equivalents): the same rows in any order, floats within a relative
  tolerance.
- Arrow results of the client workload are compared with their source
  rows: row count plus an order-insensitive content digest, or, for
  `LIMIT n` reads, that every row is a source row.

    python3 perfbench/check.py DIR

serves the checks: one JSON request per line on stdin, one JSON reply
per line on stdout; tables come as Arrow IPC files in DIR.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
from decimal import Decimal

import pyarrow as pa


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        # tz-aware and naive datetimes compare by their UTC wall clock
        if getattr(v, "tzinfo", None) is not None:
            v = v.replace(tzinfo=None) - v.utcoffset()
        return v.isoformat()
    return str(v)


#: floats match within this share of their magnitude (at least 1). The
#: same double aggregate summed in another order differs in the last
#: bits, and a value rounded to cents can then land one cent apart when
#: its exact sum sits on a half cent (q3's revenue does on some seeds).
REL_TOLERANCE = 1e-6


def _close(a, b) -> bool:
    if isinstance(a, Decimal):
        a = float(a)
    if isinstance(b, Decimal):
        b = float(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= REL_TOLERANCE * max(1.0, abs(a), abs(b))
    return _norm(a) == _norm(b)


def _sort_key(v) -> str:
    # floats at 6 significant digits, so rows pair up across the two
    # sides even when their floats differ within the tolerance
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float) and not math.isnan(v):
        return f"{v:.6g}"
    return _norm(v)


def compare_tables(got: pa.Table, want: pa.Table) -> str | None:
    """None when the two results hold the same rows in any order, with
    floats equal within REL_TOLERANCE; otherwise what differs."""
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns {sorted(got.column_names)} != {sorted(want.column_names)}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows != {want.num_rows}"
    cols = sorted(got.column_names)

    def rows(table):
        data = [table.column(c).to_pylist() for c in cols]
        return sorted(zip(*data), key=lambda r: [_sort_key(v) for v in r])

    for i, (g, w) in enumerate(zip(rows(got), rows(want))):
        for col, a, b in zip(cols, g, w):
            if not _close(a, b):
                return f"row {i} column {col}: {_norm(a)} != {_norm(b)}"
    return None


def _normalized(table: pa.Table) -> pa.Table:
    """One Arrow type per value domain, so a digest does not depend on
    which layer produced the table: int64, float64, binary and naive
    microsecond timestamps (UTC wall clock). Fixed-size binary is left
    as it is (DuckDB reads it as BLOB, like binary): pyarrow 16 crashes
    casting a sliced fixed-size binary array."""
    fields = []
    for f in table.schema:
        t = f.type
        if pa.types.is_integer(t):
            t = pa.int64()
        elif pa.types.is_floating(t):
            t = pa.float64()
        elif pa.types.is_large_binary(t):
            t = pa.binary()
        elif pa.types.is_large_string(t):
            t = pa.string()
        elif pa.types.is_timestamp(t):
            t = pa.timestamp("us")
        fields.append(pa.field(f.name, t))
    cols = []
    for col, f in zip(table.columns, fields):
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        cols.append(col.cast(f.type))
    return pa.Table.from_arrays(cols, schema=pa.schema(fields))


def fast_digest(duck, table: pa.Table) -> tuple[int, str]:
    """(rows, digest) of a large table, order-insensitive, computed by
    DuckDB: the sum of per-row hashes over the normalized columns."""
    view = _normalized(table).select(sorted(table.column_names))
    duck.register("digest_input", view)
    try:
        cols = ", ".join(f'"{c}"' for c in view.column_names)
        n, h = duck.execute(
            f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM digest_input"
        ).fetchone()
    finally:
        duck.unregister("digest_input")
    return n, f"{h or 0:x}"


def contained_rows(duck, got: pa.Table, source: str, key: str = "id") -> int:
    """How many distinct rows of `got` equal a row of the registered
    DuckDB table `source` in every column."""
    view = _normalized(got)
    duck.register("contained_input", view)
    try:
        on = " AND ".join(f'g."{c}" = s."{c}"' for c in view.column_names)
        (n,) = duck.execute(
            f"SELECT count(DISTINCT g.\"{key}\") FROM contained_input g "
            f"JOIN {source} s ON {on}"
        ).fetchone()
    finally:
        duck.unregister("contained_input")
    return n


def serve(tmp: str) -> int:
    """The checker process: requests in, replies out, until stdin ends.

    `{"op": "view", "name", "path"}` a DuckDB view over a parquet file;
    `{"op": "arrow", "name", "path"}` a table read from a parquet or
    Arrow IPC file, normalized (an IPC file is deleted once read);
    `{"op": "digest", "name"}` -> [rows, digest];
    `{"op": "contained", "name", "source"}` -> distinct ids of `name`
    found in `source`; `{"op": "compare", "name", "sql"}` -> None or
    how `name` differs from the result of `sql`; `{"op": "drop", "name"}`.
    """
    import duckdb
    import pyarrow.parquet as pq

    duck = duckdb.connect()
    duck.execute("SET threads = 2")
    tables: dict[str, pa.Table] = {}
    for line in sys.stdin:
        req = json.loads(line)
        op, name = req["op"], req["name"]
        try:
            if op == "view":
                duck.execute(f"CREATE OR REPLACE VIEW {name} AS "
                             f"SELECT * FROM read_parquet('{req['path']}')")
                out = None
            elif op == "arrow":
                path = req["path"]
                if path.endswith(".parquet"):
                    table = pq.read_table(path)
                else:
                    with pa.memory_map(path) as f:
                        table = pa.ipc.open_file(f).read_all()
                    os.unlink(path)
                tables[name] = table
                duck.register(name, _normalized(table))
                out = None
            elif op == "digest":
                out = fast_digest(duck, tables[name])
            elif op == "contained":
                out = contained_rows(duck, tables[name], req["source"])
            elif op == "compare":
                out = compare_tables(tables[name], duck.execute(req["sql"]).fetch_arrow_table())
            elif op == "drop":
                tables.pop(name, None)
                duck.unregister(name)
                out = None
            else:
                raise ValueError(f"unknown op {op}")
            reply = {"ok": out}
        except Exception as e:  # the workload reports it as a failed check
            reply = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
        print(json.dumps(reply), flush=True)
    duck.close()
    return 0


class CheckError(RuntimeError):
    """A check could not be made (as opposed to a wrong result)."""


class Checker:
    """The workload's end of `serve`, which runs in a child process."""

    def __init__(self, tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        self.tmp = tmp
        self._n = 0
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), tmp],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def _ask(self, op: str, name: str, **kw):
        self.proc.stdin.write(json.dumps({"op": op, "name": name, **kw}) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise CheckError("the checker process ended")
        reply = json.loads(line)
        if "error" in reply:
            raise CheckError(reply["error"])
        return reply["ok"]

    def view(self, name: str, path: str) -> None:
        self._ask("view", name, path=path)

    def load(self, name: str, path: str) -> None:
        self._ask("arrow", name, path=path)

    def put(self, name: str, table: pa.Table) -> None:
        self._n += 1
        path = os.path.join(self.tmp, f"{self._n}.arrow")
        with pa.OSFile(path, "wb") as f, pa.ipc.new_file(f, table.schema) as w:
            w.write_table(table)
        self._ask("arrow", name, path=path)

    def digest(self, name: str) -> tuple[int, str]:
        return tuple(self._ask("digest", name))

    def contained(self, name: str, source: str) -> int:
        return self._ask("contained", name, source=source)

    def compare(self, name: str, sql: str) -> str | None:
        return self._ask("compare", name, sql=sql)

    def drop(self, name: str) -> None:
        self._ask("drop", name)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


if __name__ == "__main__":
    sys.exit(serve(sys.argv[1]))
