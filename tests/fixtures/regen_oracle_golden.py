#!/usr/bin/env python
"""Regenerate the golden-pinned oracle fixtures (the parquet files
tests/test_golden_freshness.py compares with a live recompute) after an
INTENTIONAL semantic change.

Run from the repo root: python tests/fixtures/regen_oracle_golden.py

Each pinned query is deterministic (a seeded synthetic world); its
exactness is proven separately in pytest against brute-force oracles,
and this pin freezes that verified output as a regression oracle. No
pinned query reads sf_dir, so each runs against an empty directory.
"""

import os
import sys
import tempfile

sys.path.insert(0, os.getcwd())

from osm_wikipedia_tag_validator_spark.plans import oracle_queries as OQ
from osm_wikipedia_tag_validator_spark.session import get_spark


def main() -> None:
    spark = get_spark(cores=8, shuffle_partitions=8)
    qs = OQ.queries()
    outdir = os.path.join(os.path.dirname(__file__), "oracle_golden")
    os.makedirs(outdir, exist_ok=True)

    with tempfile.TemporaryDirectory() as empty_sf_dir:
        for name, cols in OQ.GOLDEN_PINNED.items():
            pdf = qs[name](spark, empty_sf_dir).toPandas()
            missing = [c for c in cols if c not in pdf.columns]
            assert not missing, f"{name}: fixture missing columns {missing}"
            path = os.path.join(outdir, f"{name}.parquet")
            pdf[cols].to_parquet(path, index=False)
            print(f"wrote {len(pdf)} rows → {path}")


if __name__ == "__main__":
    main()
