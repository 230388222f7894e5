#!/usr/bin/env python
"""Regenerate the golden-pinned oracle fixtures (parquet DuckDB reads
via read_parquet in oracle_sql()) after an INTENTIONAL semantic change.

Run from the repo root: python tests/fixtures/regen_oracle_golden.py

Each pinned query is deterministic (seeded hashes / pure functions of
the input rows); its exactness or recall is proven separately in pytest
against brute-force oracles, and this pin freezes that verified output
as a regression oracle the driver can diff. SF-dependent queries are
materialized at every SF the harness uses — the GOLDEN_SF_DIRS list in
oracle_queries.py (sf0.001 for local pytest, sf0.01 for the driver
gate, sf0.1 for the bench-scale parity run) — and strata are
discriminated by a `_tag` column the oracle SQL recomputes from the
live views.
"""

import os
import sys

sys.path.insert(0, os.getcwd())

import duckdb
import pandas as pd

from osm_wikipedia_tag_validator_spark.plans import oracle_queries as OQ
from osm_wikipedia_tag_validator_spark.session import get_spark

SF_DIRS = OQ.GOLDEN_SF_DIRS


def _tag_value(tag_sql: str, sf_dir: str) -> int:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return int(con.execute(tag_sql.strip("()")).fetchone()[0])


def main() -> None:
    spark = get_spark(cores=8, shuffle_partitions=8)
    qs = OQ.queries()
    outdir = os.path.join(os.path.dirname(__file__), "oracle_golden")
    os.makedirs(outdir, exist_ok=True)

    for name, (cols, tag_sql) in OQ.GOLDEN_PINNED.items():
        strata = []
        for sf_dir in SF_DIRS if tag_sql else SF_DIRS[:1]:
            pdf = qs[name](spark, sf_dir).toPandas()
            missing = [c for c in cols if c not in pdf.columns]
            assert not missing, f"{name}: fixture missing columns {missing}"
            pdf = pdf[cols]
            if tag_sql:
                pdf = pdf.assign(_tag=_tag_value(tag_sql, sf_dir))
            strata.append(pdf)
        out = pd.concat(strata, ignore_index=True)
        path = os.path.join(outdir, f"{name}.parquet")
        out.to_parquet(path, index=False)
        print(f"wrote {len(out)} rows → {path}")


if __name__ == "__main__":
    main()
