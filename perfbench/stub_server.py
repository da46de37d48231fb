"""Serve `ArrowHttpStub` in its own process for the benchmark.

    python3 perfbench/stub_server.py name=path.parquet [name=path ...]

Prints the endpoint URL as one line on stdout and serves until stdin
closes. The wrapper adds the server-side counters the benchmark reads
through the query `SELECT perfbench_stats`: time spent handling
requests (`busy_s`), request count, and bytes on the wire and in Arrow
IPC form, so server time can be told apart from client time.
"""

from __future__ import annotations

import io
import sys
import threading
import time


class _Counting(io.RawIOBase):
    """File-like that counts the bytes passing through it."""

    def __init__(self, inner, stats: dict, key: str) -> None:
        self.inner, self.stats, self.key = inner, stats, key

    def _count(self, data):
        self.stats[self.key] += len(data)
        return data

    def read(self, n=-1):
        return self._count(self.inner.read(n))

    def readline(self, limit=-1):
        return self._count(self.inner.readline(limit))

    def write(self, data):
        self.stats[self.key] += len(data)
        return self.inner.write(data)

    def flush(self):
        self.inner.flush()

    def close(self):
        if not self.closed:
            self.inner.close()
        super().close()

    def readable(self):
        return True

    def writable(self):
        return True


def make_stub(tables: dict):
    import pyarrow as pa

    from clickhouse_arrow_spark.sources.ch_http_stub import ArrowHttpStub

    stats = {"busy_s": 0.0, "requests": 0, "wire_in": 0, "wire_out": 0,
             "ipc_in": 0, "ipc_out": 0}
    stats_lock = threading.Lock()

    class CountingStub(ArrowHttpStub):
        def handle_query(self, sql: str, body: bytes) -> bytes:
            if sql.strip().upper().startswith("SELECT PERFBENCH_STATS"):
                with stats_lock:
                    snap = dict(stats)
                out = io.BytesIO()
                table = pa.table({k: [float(v)] for k, v in snap.items()})
                with pa.ipc.new_stream(out, table.schema) as w:
                    w.write_table(table)
                return out.getvalue()
            payload = super().handle_query(sql, body)
            with stats_lock:
                stats["ipc_in"] += len(body)
                stats["ipc_out"] += len(payload)
            return payload

        def start(self) -> str:
            url = super().start()
            base = self._server.RequestHandlerClass

            class Timed(base):
                def setup(self):
                    super().setup()
                    self.rfile = _Counting(self.rfile, stats, "wire_in")
                    self.wfile = _Counting(self.wfile, stats, "wire_out")

                def handle_one_request(self):
                    t0 = time.perf_counter()
                    super().handle_one_request()
                    if getattr(self, "raw_requestline", b""):
                        with stats_lock:
                            stats["busy_s"] += time.perf_counter() - t0
                            stats["requests"] += 1

            self._server.RequestHandlerClass = Timed
            return url

    return CountingStub(tables)


def main(argv: list[str]) -> int:
    tables = dict(arg.split("=", 1) for arg in argv)
    stub = make_stub(tables)
    url = stub.start()
    print(url, flush=True)
    try:
        sys.stdin.read()  # parent closes stdin (or exits) to stop us
    finally:
        stub.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
