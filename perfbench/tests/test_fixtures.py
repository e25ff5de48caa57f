import pyarrow as pa

from perfbench import fixtures

SF = 0.001


def test_same_seed_same_tables_other_seed_other_tables():
    a, b, c = (fixtures.generate(SF, s) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in fixtures.TABLE_NAMES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_row_counts_and_schema_match_the_fixture_corpus():
    tables = fixtures.generate(SF, 1)
    assert {t: tables[t].num_rows for t in tables} == fixtures.row_counts(SF)
    assert fixtures.row_counts(0.01)["lineitem"] == 60_000
    li, ev, emb = tables["lineitem"], tables["events"], tables["embeddings"]
    assert li.schema.field("l_linenumber").type == pa.int32()
    assert li.schema.field("l_shipdate").type == pa.timestamp("us")
    assert ev.schema.field("ts").type == pa.timestamp("us")
    assert emb.schema.field("embedding").type == pa.list_(pa.float32())
    assert tables["nation"].schema.field("n_nationkey").type == pa.int32()


def test_value_domains():
    t = fixtures.generate(SF, 2)
    li = t["lineitem"].to_pydict()
    assert set(li["l_discount"]) <= {k / 100 for k in range(11)}
    assert max(li["l_orderkey"]) < t["orders"].num_rows
    ts = t["events"].column("ts").to_pylist()
    assert ts == sorted(ts)
    texts = t["documents"].column("text").to_pylist()
    assert any(x.endswith(" dup") for x in texts)
    assert all(len(x) == n for x, n in zip(texts, t["documents"].column("n_chars").to_pylist()))
