"""The seeded input: the test data with shifted keys and reordered rows."""

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from gen import SOURCE, build_tables, generate, shifts

from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import TESTDATA_TABLES
from childhoodcancerdatainitiative_prefect_pipeline_spark.scale_replica import (
    FK_SHIFTS,
    KEY_SHIFTS,
    SHIFT_BASE,
)


def source(name):
    return pq.read_table(os.path.join(SOURCE, f"{name}.parquet"))


@pytest.fixture(scope="module")
def seed3():
    return build_tables(3)


def test_same_seed_same_tables(seed3):
    again = build_tables(3)
    for name in seed3:
        assert seed3[name].equals(again[name])


def test_only_key_columns_change_and_only_by_their_shift(seed3):
    assert set(seed3) == set(TESTDATA_TABLES)
    for name, t in seed3.items():
        src = source(name)
        assert t.schema.equals(src.schema) and t.num_rows == src.num_rows
        moved = shifts(name, 3)
        for col in src.column_names:
            back = pc.subtract(t[col], moved[col]) if col in moved else t[col]
            assert sorted(back.to_pylist(), key=repr) == sorted(
                src[col].to_pylist(), key=repr
            ), (name, col)


def test_keys_shift_by_own_base_and_foreign_keys_by_referenced_base(seed3):
    for table, keys in KEY_SHIFTS.items():
        for k in keys:
            assert pc.min(seed3[table][k]).as_py() == (
                pc.min(source(table)[k]).as_py() + 3 * SHIFT_BASE[table]
            )
    for table, fks in FK_SHIFTS.items():
        for fk, ref in fks.items():
            (ref_key,) = KEY_SHIFTS[ref]
            refs = set(seed3[ref][ref_key].to_pylist())
            src_refs = set(source(ref)[ref_key].to_pylist())
            linked = [v in src_refs for v in source(table)[fk].to_pylist()]
            now = [v in refs for v in seed3[table][fk].to_pylist()]
            # a link that was live in the test data is live for the seed
            assert sum(now) == sum(linked) > 0


def test_row_order_depends_on_seed():
    a, b = build_tables(5), build_tables(6)
    ka = pc.subtract(a["orders"]["o_orderkey"], 5 * SHIFT_BASE["orders"])
    kb = pc.subtract(b["orders"]["o_orderkey"], 6 * SHIFT_BASE["orders"])
    assert ka.to_pylist() != kb.to_pylist()
    assert sorted(ka.to_pylist()) == sorted(kb.to_pylist())


def test_written_files_keep_the_parquet_types(tmp_path):
    counts = generate(str(tmp_path), 2)
    for name in TESTDATA_TABLES:
        out = pq.ParquetFile(tmp_path / f"{name}.parquet")
        src = pq.ParquetFile(os.path.join(SOURCE, f"{name}.parquet"))
        assert out.schema.equals(src.schema), name
        assert counts[name] == out.metadata.num_rows == src.metadata.num_rows
