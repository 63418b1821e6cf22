"""Full oracle-parity sweep: EVERY oracle-backed registry key runs on
Spark and its DuckDB twin at sf0.001 on every pytest run.

This closes the stale-green gap the r3 verdict flagged: the driver's
correctness gate only covers the first 50 registry keys per round, so a
key outside the window could regress silently between driver rows.
Here, any engine-wide change (read_table, session conf, casts) is
re-verified against the oracle for the whole surface before it lands.

Keys without an oracle entry are exercised by their dedicated unit
tests (tests/test_dedup.py etc.); as of r4 every registry key carries
an oracle, so this sweep IS the full surface.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.check_oracle import TABLES, compare_key

SF_DIR = "/root/testdata/sf0.001"

_QUERIES = entry_mod.queries()
_ORACLES = entry_mod.oracle_sql()
_ORACLE_KEYS = [k for k in _QUERIES if k in _ORACLES]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def test_every_key_has_oracle_or_unit_coverage():
    missing = [k for k in _QUERIES if k not in _ORACLES]
    # r4: the whole registry is oracle-backed; additions must either
    # carry an oracle or be added to this allowlist with a reason.
    assert missing == [], f"keys without oracle coverage: {missing}"


@pytest.mark.parametrize("name", _ORACLE_KEYS)
def test_oracle_parity(registry_frames, duck, name):
    """Driver-faithful compare (r8): both result sets round-trip
    through pandas exactly like the driver's canonicalizer, including
    the meta-checks the r7 reds motivated — no array/map/struct output
    columns, no int/float dtype-kind drift (DuckDB HUGEINT -> float64),
    and a sort_values crash probe."""
    df = registry_frames.take(name, SF_DIR)
    ores = duck.sql(_ORACLES[name])
    problems = compare_key(df, ores)
    assert not problems, f"{name}: " + "; ".join(problems)
