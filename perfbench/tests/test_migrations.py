"""Spark-free tests of the migration generator's predicted state."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

from perfbench import migrations


def _simulate(statements: list[str]) -> dict:
    """Brute-force interpreter for exactly the generator's grammar: a
    second, independent derivation of the predicted state."""
    rows: list[dict] = []
    cols: list[str] = []
    for st in statements:
        w = st.replace(",", " , ").split()
        if w[0] == "CREATE":
            body = st.split("(", 1)[1].split(")", 1)[0]
            cols = [c.split()[0] for c in body.split(",")]
        elif w[0] == "INSERT":
            sel = st.split("SELECT ", 1)[1].split(" FROM numbers(")
            n = int(sel[1].rstrip(")"))
            exprs = [e.strip() for e in sel[0].split(",")]
            for number in range(n):
                rows.append({c: eval(e, {"number": number}) for c, e in zip(cols, exprs)})
        elif "UPDATE" in w:
            tgt, expr = st.split(" UPDATE ", 1)[1].split(" WHERE ")[0].split(" = ")
            cond = st.split(" WHERE ")[1]
            for r in rows:
                if eval(cond, {}, r):
                    r[tgt] = eval(expr, {}, r)
        elif "DELETE" in w:
            cond = st.split(" WHERE ")[1].replace(" = ", " == ")
            rows = [r for r in rows if not eval(cond, {}, r)]
        elif "ADD" in w:
            name, default = w[5], int(w[-1])
            for r in rows:
                r[name] = default
    return {"rows": len(rows), **{c: sum(r[c] for r in rows) for c in (rows[0] if rows else {})}}


def test_tiny_script_prediction_matches_interpretation():
    rng = np.random.default_rng(7)
    for j in range(20):
        s = migrations.tiny_script(rng, j + 1, j)
        assert s.filename == f"V{j + 1}_tiny{j}.json"
        assert _simulate(s.statements) == {"rows": s.rows, **s.sums}


def test_bulk_script_prediction_matches_interpretation():
    rng = np.random.default_rng(11)
    for i in range(3):
        s = migrations.bulk_script(rng, i + 1, i, 3000)
        assert _simulate(s.statements) == {"rows": s.rows, **s.sums}
        assert set(s.sums) == {"id", "k", "v", "flag"}
        assert 0 < s.rows < 3000  # the DELETE removed one residue class


def test_generator_is_seeded():
    a = migrations.tiny_script(np.random.default_rng(3), 1, 0)
    b = migrations.tiny_script(np.random.default_rng(3), 1, 0)
    c = migrations.tiny_script(np.random.default_rng(4), 1, 0)
    assert a == b
    assert a.statements != c.statements


def test_grammar_avoids_zero_arg_count():
    rng = np.random.default_rng(0)
    scripts = [migrations.bulk_script(rng, 1, 0, 100), migrations.tiny_script(rng, 2, 0)]
    assert not any("count()" in st for s in scripts for st in s.statements)


def test_expected_ledger_hashes_written_bytes(tmp_path):
    rng = np.random.default_rng(5)
    scripts = [migrations.tiny_script(rng, v, v) for v in (2, 1)]
    home = str(tmp_path / "home")
    for s in scripts:
        path = migrations.write_script(home, s)
        assert json.load(open(path)) == s.statements
    ledger = migrations.expected_ledger(home, scripts)
    assert [v for v, _, _ in ledger] == [1, 2]
    for v, md5, path in ledger:
        assert path == os.path.join(home, f"V{v}_tiny{v}.json")
        assert md5 == hashlib.md5(open(path, "rb").read()).hexdigest()
