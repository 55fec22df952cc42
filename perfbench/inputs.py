"""Seeded benchmark inputs.

The program only ever sees files written here.  Two kinds:

* a variant of the vendored sf0.01 fixture tables (``fixtures/``): the
  fact tables keep a seed-chosen ~90 % of their rows (orders together
  with their lineitems, so every lineitem still has its order), and
  every table is written in a seed-chosen row order;
* TeraGen-style 100-byte records (10-byte key, 90-byte value) drawn
  from the seed, split over a few parquet files.

Everything is a pure function of the seed, so the same seed gives the
same bytes, and a directory is generated once per seed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
# table -> key column whose seeded sample decides which rows stay
SAMPLED = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
KEEP_FRACTION = 0.9
TERA_ROWS = 150_000
TERA_FILES = 4
_PRINTABLE = np.arange(33, 127, dtype=np.uint8)


def _keep_mask(keys: np.ndarray, seed: int) -> np.ndarray:
    """Seeded, order-independent row sample: a key stays when its mixed
    hash falls under KEEP_FRACTION, so orders and lineitems that share
    an order key are kept or dropped together."""
    x = keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(seed * 2 + 1)
    x ^= x >> np.uint64(31)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(29)
    return (x % np.uint64(1000)) < np.uint64(int(KEEP_FRACTION * 1000))


def _variant_table(name: str, seed: int) -> pa.Table:
    table = pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))
    if name in SAMPLED:
        keys = table.column(SAMPLED[name]).to_numpy()
        table = table.filter(pa.array(_keep_mask(keys, seed)))
    order = np.random.default_rng([seed, TABLES.index(name)]).permutation(table.num_rows)
    return table.take(pa.array(order))


def tera_records(seed: int, rows: int = TERA_ROWS) -> pa.Table:
    """``rows`` records of printable ASCII: a 10-char key and 90-char
    value, as in TeraGen's record layout."""
    rng = np.random.default_rng([seed, 0x7E7A])
    raw = _PRINTABLE[rng.integers(0, len(_PRINTABLE), size=(rows, 100))]
    offsets = pa.array(np.arange(rows + 1, dtype=np.int32) * 10)
    keys = pa.StringArray.from_buffers(rows, offsets.buffers()[1], pa.py_buffer(raw[:, :10].tobytes()))
    offsets = pa.array(np.arange(rows + 1, dtype=np.int32) * 90)
    values = pa.StringArray.from_buffers(rows, offsets.buffers()[1], pa.py_buffer(raw[:, 10:].tobytes()))
    return pa.table({"key": keys, "value": values})


def tables_dir(root: str, seed: int) -> str:
    return os.path.join(root, f"seed-{seed}", "tables")


def tera_dir(root: str, seed: int) -> str:
    return os.path.join(root, f"seed-{seed}", "terarecords")


def ensure_inputs(root: str, seed: int) -> str:
    """Write the seed's inputs under ``root`` unless already there and
    return the seed directory.  A marker file is written last, so an
    interrupted generation is redone rather than reused."""
    seed_dir = os.path.join(root, f"seed-{seed}")
    marker = os.path.join(seed_dir, "_COMPLETE")
    if os.path.exists(marker):
        return seed_dir
    shutil.rmtree(seed_dir, ignore_errors=True)
    tdir = tables_dir(root, seed)
    os.makedirs(tdir)
    for name in TABLES:
        pq.write_table(_variant_table(name, seed), os.path.join(tdir, f"{name}.parquet"))
    rdir = tera_dir(root, seed)
    os.makedirs(rdir)
    records = tera_records(seed)
    step = -(-records.num_rows // TERA_FILES)
    for i in range(TERA_FILES):
        pq.write_table(records.slice(i * step, step), os.path.join(rdir, f"part-{i:05d}.parquet"))
    with open(marker, "w") as f:
        f.write("ok\n")
    return seed_dir


def tera_checksum(table: pa.Table) -> int:
    """Sum of crc32(key || value) over all records — TeraChecksum's
    content fingerprint, independent of record order."""
    import zlib

    keys = table.column("key").to_pylist()
    values = table.column("value").to_pylist()
    return sum(zlib.crc32((k + v).encode()) for k, v in zip(keys, values))


def prepare(root: str, seed: int, jobs: list[str]) -> None:
    """The seed's inputs, plus what each job must produce on them: an
    oracle digest per query (``ORACLES[name]`` run by DuckDB on the same
    files) and the sort input's row count and checksum.  Cached per
    seed in ``expected.json``."""
    import json

    import duckdb

    from check import digest
    from workloads import TERASORT

    seed_dir = ensure_inputs(root, seed)
    cache_path = os.path.join(seed_dir, "expected.json")
    expected = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            expected = json.load(f)
    todo = [j for j in jobs if j not in expected]
    if not todo:
        return
    if TERASORT in todo:
        records = pq.read_table(tera_dir(root, seed))
        expected[TERASORT] = {"rows": records.num_rows, "checksum": tera_checksum(records)}
    queries = [j for j in todo if j != TERASORT]
    if queries:
        from hadoop_3_3_6_spark.plans.queries import ORACLES

        tdir = tables_dir(root, seed)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(tdir, t)}.parquet')")
        for name in queries:
            expected[name] = digest(con.execute(ORACLES[name]).arrow())
        con.close()
    tmp = f"{cache_path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(expected, f)
    os.replace(tmp, cache_path)


if __name__ == "__main__":
    import sys

    # python3 inputs.py <inputs root> <seed> <job,job,...>
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    prepare(sys.argv[1], int(sys.argv[2]), sys.argv[3].split(","))
