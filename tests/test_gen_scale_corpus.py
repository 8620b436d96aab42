"""jobs/gen_scale_corpus.py keeps the source's schemas and key
uniqueness when it multiplies a testdata directory."""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from jobs.gen_scale_corpus import main
from tests.test_entry_contract import SF_DIR, TABLES
# the source's primary keys, unique in the output too
UNIQUE_KEYS = {
    "documents": "doc_id", "embeddings": "vec_id", "events": "event_id",
    "orders": "o_orderkey", "customer": "c_custkey", "part": "p_partkey",
    "supplier": "s_suppkey",
}
# every offset join key: replicas share no value
OFFSET_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"], "part": ["p_partkey"], "supplier": ["s_suppkey"],
}


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no sf0.01 testdata")
def test_mult_two_keeps_schemas_and_unique_keys(tmp_path):
    main(["--src", SF_DIR, "--out", str(tmp_path), "--mult", "2"])
    for name in TABLES:
        src = pq.read_table(f"{SF_DIR}/{name}.parquet")
        got = pq.read_table(tmp_path / f"{name}.parquet")
        assert got.schema == src.schema, name
        replicated = name not in ("nation", "region")
        assert got.num_rows == src.num_rows * (2 if replicated else 1), name
    docs = pq.read_table(tmp_path / "documents.parquet")
    assert not pc.any(pc.ends_with(docs["text"], " ")).as_py()
    assert pc.all(pc.equal(pc.utf8_length(docs["text"]), docs["n_chars"])).as_py()
    for name, key in UNIQUE_KEYS.items():
        col = pq.read_table(tmp_path / f"{name}.parquet")[key]
        assert pc.count_distinct(col).as_py() == len(col), key
    for name, keys in OFFSET_KEYS.items():
        src = pq.read_table(f"{SF_DIR}/{name}.parquet")
        got = pq.read_table(tmp_path / f"{name}.parquet")
        for key in keys:
            assert (pc.count_distinct(got[key]).as_py()
                    == 2 * pc.count_distinct(src[key]).as_py()), key
    # every lineitem still joins its order, part and supplier
    li = pq.read_table(tmp_path / "lineitem.parquet")
    for col, (dim, key) in {"l_orderkey": ("orders", "o_orderkey"),
                            "l_partkey": ("part", "p_partkey"),
                            "l_suppkey": ("supplier", "s_suppkey")}.items():
        keys = pq.read_table(tmp_path / f"{dim}.parquet")[key]
        assert pc.all(pc.is_in(li[col], value_set=keys)).as_py(), col
