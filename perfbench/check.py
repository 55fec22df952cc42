"""Result checks, run outside the timed region.

``digest`` reduces a result table to an order-insensitive fingerprint:
each column gets a canonical kind and value encoding, each row a
64-bit hash, and the sorted row hashes are hashed together with the
column names and kinds.  The rules mirror the repository's oracle
comparison: column order and row order do not matter, values must be
exactly equal, and an integer column never matches a float column.

``validate_terasort_files`` checks a sort's output the way TeraValidate
checks its part files: in file-name order, every record, including the
boundary between one file and the next.
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from inputs import tera_checksum
from workloads import TERASORT


def _kind(t: pa.DataType) -> str:
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_null(t):
        return "null"
    return "nested"


def _nested_repr(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_nested_repr(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_nested_repr(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return repr(v)


def _canonical(col: pa.ChunkedArray, kind: str) -> pd.Series:
    """One column as a pandas Series whose values encode exactly the
    value (nulls are encoded apart from every real value)."""
    if kind in ("int", "bool", "date", "timestamp"):
        if kind == "timestamp":
            col = col.cast(pa.timestamp("us", tz=col.type.tz))
        elif kind == "date":
            col = col.cast(pa.date32())
        ints = pc.fill_null(col.cast(pa.int64()), 0).to_numpy()
        nulls = col.is_null().to_numpy().astype(np.int64)
        return pd.Series(ints * 2 + nulls, dtype="int64")
    if kind == "float":
        vals = col.cast(pa.float64()).to_pylist()
        return pd.Series(["\x00" if v is None else repr(v) for v in vals], dtype=object)
    if kind == "string":
        vals = col.to_pylist()
        return pd.Series(["\x00" if v is None else "s" + v for v in vals], dtype=object)
    vals = col.to_pylist()
    return pd.Series(["\x00" if v is None else _nested_repr(v) for v in vals], dtype=object)


def digest(table: pa.Table) -> dict:
    """Order-insensitive fingerprint: ``{"rows", "columns", "hash"}``."""
    names = sorted(table.column_names)
    kinds = [_kind(table.schema.field(n).type) for n in names]
    h = hashlib.sha256(repr(list(zip(names, kinds))).encode())
    if table.num_rows:
        frame = pd.DataFrame({str(i): _canonical(table.column(n), k) for i, (n, k) in enumerate(zip(names, kinds))})
        rows = pd.util.hash_pandas_object(frame, index=False).to_numpy()
        h.update(np.sort(rows).tobytes())
    return {"rows": table.num_rows, "columns": [[n, k] for n, k in zip(names, kinds)], "hash": h.hexdigest()}


def check_job(name: str, result: pa.Table | str, expected: dict) -> str | None:
    """What is wrong with one job's output, or None when it is right:
    a query's result (an Arrow table) must have its oracle's digest; a
    sort's files (``result`` is their directory) must validate against
    the input's row count and checksum."""
    if name == TERASORT:
        want = expected[TERASORT]
        problems = validate_terasort_files(result, want["rows"], want["checksum"])
        return "; ".join(problems) or None
    if digest(result) != expected[name]:
        return "result differs from the oracle"
    return None


def validate_terasort_files(out_dir: str, expected_rows: int, expected_checksum: int) -> list[str]:
    """Check a sort's parquet output in file-name order; returns the
    list of problems found (empty when the output is valid).

    Reading the files back through Spark would let split packing
    reorder them, so the check reads each part file itself."""
    problems: list[str] = []
    files = sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet") and not f.startswith((".", "_")))
    rows = 0
    checksum = 0
    prev_last: str | None = None
    prev_name = ""
    for name in files:
        table = pq.read_table(os.path.join(out_dir, name), columns=["key", "value"])
        rows += table.num_rows
        checksum += tera_checksum(table)
        if table.num_rows == 0:
            continue
        keys = table.column("key").combine_chunks()
        if table.num_rows > 1:
            # pc.less over neighbouring keys: any True is an inversion
            bad = pc.sum(pc.less(keys.slice(1), keys.slice(0, table.num_rows - 1))).as_py()
            if bad:
                problems.append(f"{name}: {bad} keys out of order within the file")
        first = keys[0].as_py()
        if prev_last is not None and first < prev_last:
            problems.append(f"{name}: first key sorts before the last key of {prev_name}")
        prev_last, prev_name = keys[-1].as_py(), name
    if rows != expected_rows:
        problems.append(f"row count {rows} != {expected_rows}")
    if checksum != expected_checksum:
        problems.append("checksum differs from the input's")
    return problems
