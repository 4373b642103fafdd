"""Seeded ClickHouse-dialect migration scripts with a predicted end state.

Every script is a ``V<version>_<slug>.json`` file holding a list of
statements and owns exactly one table, so the state a script leaves
behind does not depend on which other scripts ran.  The grammar
(upper-case words are literal, ``{X}`` are seeded integers):

    bulk script  (slug bulk<i>, table bulk<i>, R rows requested)
      CREATE TABLE IF NOT EXISTS bulk<i> (id UInt64, k UInt32, v Int64)
          ENGINE = MergeTree ORDER BY id
      INSERT INTO bulk<i> SELECT number, number % {K}, number % {M}
          FROM numbers({R})
      ALTER TABLE bulk<i> UPDATE v = v + {D} WHERE k < {T}
      ALTER TABLE bulk<i> DELETE WHERE k = {X}
      ALTER TABLE bulk<i> ADD COLUMN flag UInt8 DEFAULT {F}

    tiny script  (slug tiny<j>, table tiny<j>)
      CREATE TABLE IF NOT EXISTS tiny<j> (id UInt64, v Int64)
          ENGINE = MergeTree ORDER BY id
      INSERT INTO tiny<j> SELECT number, number * {A} + {C}
          FROM numbers({N})
      ALTER TABLE tiny<j> UPDATE v = v + {D} WHERE id < {E}

    K in [90, 110], M in [900, 1100], D in [1, 9], T in [5, 15],
    X in [T, K - 1], F in [1, 3], A in [1, 9], C in [0, 99],
    N in [40, 60], E in [1, N].

The prediction for a table is its row count and the exact integer sum
of every column, computed here without Spark.  The ledger prediction is
one ``(version, md5 of the file bytes, script path)`` row per applied
script.  :func:`check_db` compares both with what the runner left in a
database and returns one message per mismatch.

The grammar avoids ClickHouse's zero-argument ``count()``: the runner's
statement path rejects it (``WRONG_NUM_ARGS``) while ``count(*)`` works.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Script:
    version: int
    slug: str
    statements: list[str]
    #: predicted state of the script's table: rows and per-column sums
    rows: int
    sums: dict[str, int] = field(default_factory=dict)

    @property
    def table(self) -> str:
        return self.slug

    @property
    def filename(self) -> str:
        return f"V{self.version}_{self.slug}.json"


def _ddl(table: str, cols: str) -> str:
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({cols}) "
        "ENGINE = MergeTree ORDER BY id"
    )


def bulk_script(rng: np.random.Generator, version: int, index: int, rows: int) -> Script:
    K, M = int(rng.integers(90, 111)), int(rng.integers(900, 1101))
    D, T, F = int(rng.integers(1, 10)), int(rng.integers(5, 16)), int(rng.integers(1, 4))
    X = int(rng.integers(T, K))
    t = f"bulk{index}"
    ids = np.arange(rows, dtype=np.int64)
    k = ids % K
    v = ids % M
    v[k < T] += D
    keep = k != X
    n = int(keep.sum())
    return Script(
        version,
        t,
        [
            _ddl(t, "id UInt64, k UInt32, v Int64"),
            f"INSERT INTO {t} SELECT number, number % {K}, number % {M} FROM numbers({rows})",
            f"ALTER TABLE {t} UPDATE v = v + {D} WHERE k < {T}",
            f"ALTER TABLE {t} DELETE WHERE k = {X}",
            f"ALTER TABLE {t} ADD COLUMN flag UInt8 DEFAULT {F}",
        ],
        n,
        {
            "id": int(ids[keep].sum()),
            "k": int(k[keep].sum()),
            "v": int(v[keep].sum()),
            "flag": F * n,
        },
    )


def tiny_script(rng: np.random.Generator, version: int, index: int) -> Script:
    A, C, D = int(rng.integers(1, 10)), int(rng.integers(0, 100)), int(rng.integers(1, 10))
    N = int(rng.integers(40, 61))
    E = int(rng.integers(1, N + 1))
    t = f"tiny{index}"
    ids = np.arange(N, dtype=np.int64)
    v = ids * A + C
    v[ids < E] += D
    return Script(
        version,
        t,
        [
            _ddl(t, "id UInt64, v Int64"),
            f"INSERT INTO {t} SELECT number, number * {A} + {C} FROM numbers({N})",
            f"ALTER TABLE {t} UPDATE v = v + {D} WHERE id < {E}",
        ],
        N,
        {"id": int(ids.sum()), "v": int(v.sum())},
    )


def write_script(home: str, script: Script) -> str:
    """Write ``script`` into the migrations directory ``home``; returns
    its path."""
    os.makedirs(home, exist_ok=True)
    path = os.path.join(home, script.filename)
    with open(path, "w") as f:
        json.dump(script.statements, f, indent=1)
    return path


def expected_ledger(home: str, scripts: list[Script]) -> list[tuple[int, str, str]]:
    out = []
    for s in scripts:
        path = os.path.join(home, s.filename)
        with open(path, "rb") as f:
            out.append((s.version, hashlib.md5(f.read()).hexdigest(), path))
    return sorted(out)


def check_db(spark, db: str, home: str, scripts: list[Script]) -> list[str]:
    """Compare every script's table and the ledger of ``db`` with the
    prediction; returns a list of mismatch messages (empty when the
    database holds exactly the predicted state)."""
    from pyspark.sql import functions as F

    from clickhouse_migrator_spark.migrate import LEDGER

    problems = []
    for s in scripts:
        cols = list(s.sums)
        row = (
            spark.table(f"`{db}`.`{s.table}`")
            .agg(F.count(F.lit(1)), *[F.sum(c) for c in cols])
            .collect()[0]
        )
        got = {"rows": int(row[0]), **{c: int(row[i + 1] or 0) for i, c in enumerate(cols)}}
        want = {"rows": s.rows, **s.sums}
        if got != want:
            problems.append(f"{db}.{s.table}: got {got}, predicted {want}")
    ledger = sorted(
        (int(r.version), r.md5, r.script)
        for r in spark.table(f"`{db}`.`{LEDGER}`").select("version", "md5", "script").collect()
    )
    want_ledger = expected_ledger(home, scripts)
    if ledger != want_ledger:
        problems.append(f"{db} ledger: got {ledger}, predicted {want_ledger}")
    return problems
