"""The seeded tables of the analytics mix."""

from shipbench.tables import ROWS, tables


def test_same_seed_same_tables_other_seed_other_tables():
    a, b, c = tables(5), tables(5), tables(6)
    assert all(a[name].equals(b[name]) for name in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_keys_join_and_sizes_hold():
    t = tables(5)
    for name, n in ROWS.items():
        assert t[name].num_rows == n
    assert max(t["orders"]["o_custkey"].to_pylist()) < ROWS["customer"]
    assert max(t["lineitem"]["l_orderkey"].to_pylist()) < ROWS["orders"]
    texts = t["documents"]["text"].to_pylist()
    assert [len(x) for x in texts] == t["documents"]["n_chars"].to_pylist()
    assert any(x.endswith(" dup") and x[:-4] in texts for x in texts)
