"""Spark-free tests of the seeded table generator."""

from __future__ import annotations

import pyarrow.compute as pc

from perfbench import datagen


def test_same_seed_same_tables_other_seed_other_values():
    a = datagen.make_tables(1, 0.001)
    b = datagen.make_tables(1, 0.001)
    c = datagen.make_tables(2, 0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        assert a[name].equals(b[name])
    assert not a["lineitem"].equals(c["lineitem"])


def test_keys_and_domains():
    t = datagen.make_tables(3, 0.001)
    assert t["lineitem"].num_rows == 6000 and t["orders"].num_rows == 1500
    n_ord = t["orders"].num_rows
    assert pc.max(t["lineitem"]["l_orderkey"]).as_py() < n_ord
    assert pc.min(t["events"]["value"]).as_py() >= 0.01
    ts = t["events"]["ts"].to_pylist()
    assert ts == sorted(ts)
    docs = t["documents"]
    assert docs["n_chars"].to_pylist() == [len(x) for x in docs["text"].to_pylist()]
    norms = [sum(v * v for v in e) for e in t["embeddings"]["embedding"].to_pylist()[:20]]
    assert all(abs(n - 1.0) < 1e-4 for n in norms)
