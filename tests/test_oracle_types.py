"""Oracle output types: DuckDB picks wider types than Spark for some
expressions — it widens a BIGINT window SUM to HUGEINT, and integer
division of one to HUGEINT or DECIMAL(38,0). A comparator that fetches
values natively then sees ``23.0`` where Spark's BIGINT gives ``23``, so
every oracle pins such columns with an explicit CAST."""

from __future__ import annotations

from pathlib import Path

import duckdb

import __spark_entry__ as entry
from tests.conftest import SF_DIR

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def test_no_oracle_outputs_hugeint_or_decimal38():
    con = duckdb.connect()
    for t in TABLES:
        p = Path(SF_DIR) / f"{t}.parquet"
        if p.exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    wide = []
    oracles = entry.oracle_sql()
    assert len(oracles) == len(entry.queries())
    for name, sql in oracles.items():
        # DESCRIBE binds the query and reports its output types without
        # running it
        for col, typ, *_ in con.execute(f"DESCRIBE {sql}").fetchall():
            if typ == "HUGEINT" or typ.startswith("DECIMAL(38,0)"):
                wide.append((name, col, typ))
    assert wide == []
