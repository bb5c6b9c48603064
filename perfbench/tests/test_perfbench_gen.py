"""The seeded generator: deterministic, and its key shift is a bijection
that keeps every join's cardinality."""

import os

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import gen

FACTOR = 3


@pytest.fixture(scope="module")
def derived(tmp_path_factory):
    out = tmp_path_factory.mktemp("derived")
    info = gen.generate(7, FACTOR, str(out))
    return str(out), info


def count(sql: str) -> int:
    return duckdb.sql(sql).fetchone()[0]


def src(name: str) -> str:
    return f"read_parquet('{os.path.join(gen.SOURCE_DIR, name + '.parquet')}')"


def out(d: str, name: str) -> str:
    return f"read_parquet('{os.path.join(d, name + '.parquet')}')"


def test_replica_indices_come_from_the_seed():
    assert gen.replica_indices(7, FACTOR) == gen.replica_indices(7, FACTOR)
    assert len(set(gen.replica_indices(7, FACTOR))) == FACTOR
    assert len({tuple(gen.replica_indices(s, 1)) for s in range(40)}) > 1


def test_same_seed_same_tables(derived, tmp_path):
    d, _ = derived
    gen.generate(7, FACTOR, str(tmp_path))
    for name in gen.TABLES:
        assert pq.read_table(os.path.join(d, f"{name}.parquet")).equals(
            pq.read_table(os.path.join(tmp_path, f"{name}.parquet"))
        ), name


def test_seed_sets_row_order(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(1, 1, str(a))
    gen.generate(2, 1, str(b))
    ka = pq.read_table(a / "embeddings.parquet")["vec_id"]
    kb = pq.read_table(b / "embeddings.parquet")["vec_id"]
    assert ka != kb
    assert sorted(ka.to_pylist()) == sorted(kb.to_pylist())


def test_shift_is_a_bijection(derived):
    d, info = derived
    for name, cols in gen.SHIFTS.items():
        source = pq.read_table(os.path.join(gen.SOURCE_DIR, f"{name}.parquet"))
        table = pq.read_table(os.path.join(d, f"{name}.parquet"))
        assert info["rows"][name] == table.num_rows == FACTOR * source.num_rows
        for col in cols:
            distinct = len(pc.unique(source[col]))
            assert len(pc.unique(table[col])) == FACTOR * distinct, (name, col)


def test_shift_keeps_join_cardinality(derived):
    d, _ = derived
    join = "SELECT count(*) FROM {li} l JOIN {o} o ON l.l_orderkey = o.o_orderkey"
    want = count(join.format(li=src("lineitem"), o=src("orders")))
    assert count(join.format(li=out(d, "lineitem"), o=out(d, "orders"))) == FACTOR * want
    star = (
        "SELECT count(*) FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey "
        "JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey "
        "JOIN {part} p ON l.l_partkey = p.p_partkey JOIN {supplier} s ON l.l_suppkey = s.s_suppkey"
    )
    tabs = ("orders", "customer", "lineitem", "part", "supplier")
    want = count(star.format(**{t: src(t) for t in tabs}))
    got = count(star.format(**{t: out(d, t) for t in tabs}))
    assert got == FACTOR * want


def test_customer_names_are_replica_unique(derived):
    d, _ = derived
    names = pq.read_table(os.path.join(d, "customer.parquet"))["c_name"]
    assert len(pc.unique(names)) == len(names)


def test_shared_tables_only_reordered(derived):
    d, _ = derived
    for name in gen.SHARED:
        source = pq.read_table(os.path.join(gen.SOURCE_DIR, f"{name}.parquet"))
        table = pq.read_table(os.path.join(d, f"{name}.parquet"))
        key = source.column_names[0]
        assert table.sort_by(key).equals(source.sort_by(key)), name


def test_documents_shift_by_the_first_replica(derived):
    d, info = derived
    source = pq.read_table(os.path.join(gen.SOURCE_DIR, "documents.parquet")).sort_by("doc_id")
    table = pq.read_table(os.path.join(d, "documents.parquet")).sort_by("doc_id")
    shift = info["replicas"][0] * gen.OFF["doc_id"]
    assert table["doc_id"].to_pylist() == [k + shift for k in source["doc_id"].to_pylist()]
    assert table.drop_columns(["doc_id"]).equals(source.drop_columns(["doc_id"]))
