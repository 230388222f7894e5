"""Incremental validate loop — M2 (SURVEY.md §7.2), the reference's
`process_given_area` cycle (`script.py:177-189`) as batch-incremental
MERGE semantics:

  1. ingest delta snapshot            download_entry → merge_upsert (J2)
  2. invalidate newly-superseded rows outdated_entries… (T2,
                                      `script.py:232-255`)
  3. validate ONLY unchecked rows     detect_problems_using_cache…
                                      (V2 pass 1, `script.py:270-278`)
  4. carry forward existing reports   (tri-state status P3)

State lives in a snapshot table; the per-area watermark rides the
checkpoint ledger (T1). `verify_reported` is V2 pass 2
(`script.py:281-295`): re-run the cascade on currently-reported rows
against a refreshed wiki dim and drop reports that no longer reproduce
(V3 live-recheck semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators import upsert as UP
from ..operators import validator as V

STATE_COLS = ["status", "error_id", "report", "osm_object_url"]


def _with_state(df: DataFrame, status: str) -> DataFrame:
    """Append `STATE_COLS` in order: `status` set, the report NULL."""
    return df.withColumns({
        "status": F.lit(status),
        "error_id": F.lit(None).cast("string"),
        "report": F.lit(None).cast(V.REPORT_SCHEMA),
        "osm_object_url": F.lit(None).cast("string"),
    })


def initial_state(elements: DataFrame) -> DataFrame:
    """All rows unchecked — validator_complaint NULL (`database.py:9-14`)."""
    return _with_state(UP.latest_per_key(elements), "unchecked")


def ingest_delta(state: DataFrame, delta: DataFrame) -> DataFrame:
    """MERGE the new snapshot in; rows replaced by a newer download come
    back as unchecked (their stored report may describe a gone tag —
    `update_outdated_elements_and_reset_reports`, `script.py:191-229`)."""
    return UP.merge_upsert(state, _with_state(delta, "unchecked"))


def validate_unchecked(state: DataFrame, wiki: DataFrame, regions: DataFrame) -> DataFrame:
    """V2 pass 1: run the cascade only on unchecked rows, union the
    already-checked rows through untouched — the engine never re-pays
    validation for unchanged data (`script.py:274-277`)."""
    todo = state.filter(F.col("status") == "unchecked").drop(*STATE_COLS)
    done = state.filter(F.col("status") != "unchecked")
    fresh = V.validate(todo, wiki, regions)
    fresh_aligned = fresh.select(*done.columns)
    # relevance-filtered rows (no wiki tags) are checked-clean: the
    # reference writes '' for them (`database.py:12-13`)
    irrelevant = _with_state(todo.filter(~V.relevance_filter(todo)), "clean").select(*done.columns)
    return done.unionByName(fresh_aligned).unionByName(irrelevant)


def verify_reported(state: DataFrame, wiki_refreshed: DataFrame, regions: DataFrame) -> DataFrame:
    """V2 pass 2 / V3: re-validate currently-reported rows against a
    refreshed wiki dim; reports that stop reproducing are cleared
    (`maproulette_challenge_creation.py:1086-1091`)."""
    reported = state.filter(F.col("status") == "error").drop(*STATE_COLS)
    rest = state.filter(F.col("status") != "error")
    fresh = V.validate(reported, wiki_refreshed, regions).select(*rest.columns)
    return rest.unionByName(fresh)


def incremental_round(
    state: DataFrame, delta: DataFrame, wiki: DataFrame, regions: DataFrame
) -> DataFrame:
    """One full cycle: ingest → (implicit invalidation via merge) →
    validate-unchecked."""
    return validate_unchecked(ingest_delta(state, delta), wiki, regions)
