"""Inputs of the workloads.

`test_data` finds the repository's fixed test data, which the headline
queries and the remote scan read. `reference_table` builds the reference benchmark's 4-column schema: a
16-byte binary `id`, a binary `name`, a Float64 `value` and a
Timestamp(ms, UTC) `ts`. The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

REFERENCE_SCHEMA = pa.schema([
    pa.field("id", pa.binary(16)),
    pa.field("name", pa.binary()),
    pa.field("value", pa.float64()),
    pa.field("ts", pa.timestamp("ms", tz="UTC")),
])


def reference_table(seed: int, stream: int, n: int) -> pa.Table:
    """`n` rows of the reference schema; `stream` separates independent
    tables made from one seed (the read table, each insert payload)."""
    rng = np.random.default_rng([seed, 2, stream])
    ids = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(16), n, [None, pa.py_buffer(rng.bytes(16 * n))]
    )
    names = pa.array(
        [f"name_{k:08x}".encode() for k in rng.integers(0, 1 << 32, n)],
        pa.binary(),
    )
    ts = rng.integers(1_600_000_000_000, 1_700_000_000_000, n)
    return pa.Table.from_arrays(
        [ids, names, pa.array(rng.normal(0.0, 100.0, n)), pa.array(ts, pa.timestamp("ms", tz="UTC"))],
        schema=REFERENCE_SCHEMA,
    )


def test_data(scale: str) -> str:
    """The repository's fixed test data at `scale` ("sf0.01", ...): the
    sibling of the directory the package reads by default
    (`sources.registry.DEFAULT_SF_DIR`, set with SPARK_GRAFT_SF_DIR)."""
    from clickhouse_arrow_spark.sources.registry import DEFAULT_SF_DIR

    path = os.path.join(os.path.dirname(os.path.abspath(DEFAULT_SF_DIR)), scale)
    if not os.path.isfile(os.path.join(path, "lineitem.parquet")):
        raise FileNotFoundError(f"no test data at {path}")
    return path
