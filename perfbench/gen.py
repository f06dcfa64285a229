"""Seeded input for the benchmark, derived from the engine's test data.

``data/sf0.001`` is a byte-for-byte copy of the engine's deterministic
sf0.001 test tables (generated once with seed 42; the tables the smoke
and parity tests read), kept here so that the benchmark runs from its
own files.

For a seed, every table is rewritten the way a replica of the data is
shifted (``scale_replica``): each key column in ``KEY_SHIFTS`` moves by
``seed × SHIFT_BASE[table]`` and each foreign key in ``FK_SHIFTS`` by
the referenced table's base, so links stay live while the key values
differ per seed.  Rows are written in a seed-determined order.  Every
other value, every type and every row count is the test data's.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import (
    TESTDATA_TABLES,
)
from childhoodcancerdatainitiative_prefect_pipeline_spark.scale_replica import (
    FK_SHIFTS,
    KEY_SHIFTS,
    SHIFT_BASE,
)

SF = 0.001
SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")


def shifts(name: str, seed: int) -> dict[str, int]:
    """Column -> how far ``seed`` moves it, for table ``name``."""
    out = {k: seed * SHIFT_BASE[name] for k in KEY_SHIFTS[name]}
    out.update({fk: seed * SHIFT_BASE[ref] for fk, ref in FK_SHIFTS.get(name, {}).items()})
    return out


def build_tables(seed: int) -> dict[str, pa.Table]:
    """The test tables for ``seed``: keys shifted, rows reordered."""
    rng = np.random.default_rng(seed)
    out = {}
    for name in TESTDATA_TABLES:
        t = pq.read_table(os.path.join(SOURCE, f"{name}.parquet"))
        for col, by in shifts(name, seed).items():
            i = t.schema.get_field_index(col)
            moved = pc.add_checked(t[col], pa.scalar(by, t.schema.field(i).type))
            t = t.set_column(i, t.schema.field(i), moved)
        out[name] = t.take(rng.permutation(t.num_rows))
    return out


def generate(dest: str, seed: int) -> dict[str, int]:
    """Write the tables under ``dest``; return rows per table."""
    os.makedirs(dest, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
