"""The seeded registry-table generator: determinism and the test tables' schema."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import run
from perfbench.tablegen import TABLES, generate_tables, write_tables

# Column names and types of the repository's test tables (TESTDATA.md).
SCHEMA = {
    "region": "r_regionkey:int32 r_name:string",
    "nation": "n_nationkey:int32 n_name:string n_regionkey:int32",
    "customer": "c_custkey:int64 c_name:string c_nationkey:int32 c_acctbal:double c_mktsegment:string",
    "supplier": "s_suppkey:int64 s_name:string s_nationkey:int32 s_acctbal:double",
    "part": "p_partkey:int64 p_name:string p_brand:string p_type:string p_size:int32 "
            "p_retailprice:double",
    "orders": "o_orderkey:int64 o_custkey:int64 o_orderstatus:string o_totalprice:double "
              "o_orderdate:timestamp[us] o_orderpriority:string",
    "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 l_linenumber:int32 "
                "l_quantity:double l_extendedprice:double l_discount:double l_tax:double "
                "l_returnflag:string l_linestatus:string l_shipdate:timestamp[us]",
    "events": "event_id:int64 ts:timestamp[us] user_id:int64 event_type:string value:double "
              "props:string",
    "documents": "doc_id:int64 text:string lang:string source:string n_chars:int64",
    "embeddings": "vec_id:int64 embedding:list<element: float> label:int32",
}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        write_tables(str(tmp_path / name), seed, 0.001)
    for table in TABLES:
        a, b, c = (
            (tmp_path / d / f"{table}.parquet").read_bytes() for d in ("a", "b", "c")
        )
        assert a == b
        if table not in ("region", "nation"):  # fixed dimension tables
            assert a != c


def test_schema_and_row_counts(tmp_path):
    rows = write_tables(str(tmp_path), 3, 0.001)
    assert rows["lineitem"] == 6000 and rows["orders"] == 1500 and rows["documents"] == 500
    for table, cols in SCHEMA.items():
        schema = pq.read_schema(tmp_path / f"{table}.parquet")
        got = " ".join(f"{f.name}:{f.type}" for f in schema)
        assert got == cols


def test_keys_join_and_documents_hold_near_duplicates():
    t = generate_tables(5, 0.001)
    n_ord = t["orders"].num_rows
    assert max(t["lineitem"]["l_orderkey"].to_pylist()) < n_ord
    assert max(t["orders"]["o_custkey"].to_pylist()) < t["customer"].num_rows
    ts = t["events"]["ts"].cast(pa.int64()).to_pylist()
    assert ts == sorted(ts)
    texts = t["documents"]["text"].to_pylist()
    dups = [s for s in texts if s.endswith(" dup")]
    assert 10 < len(dups) < 50
    assert all(s[: -len(" dup")] in texts for s in dups)


def test_runner_names_a_layer_metric_for_every_registry_family():
    from perfbench.workloads import REGISTRY_QUERIES

    assert list(run._FAMILIES) == list(REGISTRY_QUERIES)
