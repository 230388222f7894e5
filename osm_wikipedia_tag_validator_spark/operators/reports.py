"""Report sinks and task sync — S8-S11 / J7 / V4 of SURVEY.md §2.

Everything is table-shaped: the reference's HTML pages, Overpass query
files and MapRoulette HTTP calls become DataFrames a thin presenter can
render; the heavy lifting (grouping, dedup, ordering, anti-join sync)
is the engine's job and happens distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def report_pages(validated: DataFrame, error_catalog: DataFrame) -> DataFrame:
    """S8 per-(region, category) report rows: grouped by error class,
    deduplicated identical rendered messages, deterministically ordered
    (`generate_webpage_with_error_output.py:66-109`: `added_reports`
    dedup at :69,86-95, sort by osm_object_url at :78).

    Unrouted error classes are NOT silently renamed: `category` stays
    NULL so they surface (and `note_unused_errors` reports them — the
    reference prints exactly that consistency complaint,
    `generate_webpage_with_error_output.py:265-275`)."""
    cat = F.broadcast(error_catalog.select("error_id", "category"))
    w = Window.partitionBy("area_identifier", "error_id").orderBy("osm_object_url")
    return (
        validated.filter((F.col("status") == "error") & ~F.col("suppressed"))
        .join(cat, "error_id", "left")
        .dropDuplicates(["area_identifier", "error_id", "osm_object_url"])
        .withColumn("row_in_class", F.row_number().over(w))
        .select(
            "area_identifier",
            "category",
            "error_id",
            "osm_object_url",
            "report",
            "row_in_class",
        )
    )


def note_unused_errors(validated: DataFrame, error_catalog: DataFrame) -> DataFrame:
    """The reference's `note_unused_errors` consistency check
    (`generate_webpage_with_error_output.py:265-275`): every produced
    error_id must be routed to SOME category page. Returns the
    (area_identifier, error_id, n) rows that would fall through —
    empty means consistent; pipelines assert emptiness in tests."""
    produced = (
        validated.filter(F.col("status") == "error")
        .groupBy("area_identifier", "error_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    routed = F.broadcast(error_catalog.select("error_id"))
    return produced.join(routed, "error_id", "left_anti")


def index_rollup(validated: DataFrame, regions: DataFrame, error_catalog: DataFrame) -> DataFrame:
    """S9 index page: per-region counts split completed vs active
    (`write_index_and_merged_entries`,
    `generate_webpage_with_error_output.py:1194-1258`). Suppressed rows
    are not counted, like at every other report surface."""
    review = error_catalog.filter(F.col("category").isin("review", "obvious")).select("error_id")
    counted = (
        validated.filter(~F.col("suppressed"))
        .join(F.broadcast(review), "error_id", "left_semi")
        .groupBy("area_identifier")
        .agg(F.count(F.lit(1)).alias("problem_count"))
    )
    dim = regions.select(
        F.col("internal_region_name").alias("area_identifier"),
        "website_main_title_part",
        "hidden",
    )
    return (
        dim.join(counted, "area_identifier", "left")
        .withColumn("problem_count", F.coalesce("problem_count", F.lit(0)))
        .withColumn("completed", F.col("problem_count") == 0)
        .filter(~F.col("hidden"))
        .drop("hidden")
        .orderBy("area_identifier")
    )


def overpass_query_sink(reports: DataFrame) -> DataFrame:
    """S10: re-emit each (region, error class) as an executable
    Overpass query (`get_query_for_loading_errors_by_category…`,
    `generate_webpage_with_error_output.py:1091-1126`): header +
    one `nwr(id)`-ish clause per object in deterministic url order +
    footer — string-agg via collect_list over a sorted window."""
    obj = F.regexp_extract("osm_object_url", r"openstreetmap\.org/(\w+)/(\d+)", 1)
    oid = F.regexp_extract("osm_object_url", r"openstreetmap\.org/(\w+)/(\d+)", 2)
    lines = (
        reports.withColumn("clause", F.concat(obj, F.lit("("), oid, F.lit(");")))
        .groupBy("area_identifier", "error_id")
        .agg(F.array_sort(F.collect_list("clause")).alias("clauses"))
    )
    header = F.lit("[out:xml][timeout:1000];\n(\n")
    footer = F.lit(");\nout meta;")
    return lines.select(
        "area_identifier",
        "error_id",
        F.concat(header, F.concat_ws("\n", "clauses"), F.lit("\n"), footer).alias(
            "overpass_query"
        ),
        F.size("clauses").alias("n_objects"),
    )


def geojson_task_sink(reports: DataFrame, points: DataFrame,
                      key_cols: list[str] | None = None,
                      max_tasks_per_error_class: int | None = 1000) -> DataFrame:
    """S11: MapRoulette-style GeoJSON Feature per report
    (`build_geojson_of_tasks_to_add_challenge` + entry builders,
    `maproulette_challenge_creation.py:670-690, 1166-1207`).
    Properties carry error_message + @id; geometry is the element
    point. Pure to_json(struct(...)) — JVM-side.

    `max_tasks_per_error_class` caps each error class's task count like
    the reference's per-challenge `LIMIT 1000`
    (`maproulette_challenge_creation.py:1336`); deterministic keep order
    (osm_object_url asc) via one row_number window per error_id."""
    key_cols = key_cols or ["type", "id"]
    if max_tasks_per_error_class is not None:
        w = Window.partitionBy("error_id").orderBy("osm_object_url", *key_cols)
        reports = (
            reports.withColumn("_task_rn", F.row_number().over(w))
            .filter(F.col("_task_rn") <= max_tasks_per_error_class)
            .drop("_task_rn")
        )
    pts = points.select(*key_cols, "lon", "lat")
    joined = reports.join(pts, key_cols)
    feature = F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(F.col("lon"), F.col("lat")).alias("coordinates"),
        ).alias("geometry"),
        F.struct(
            F.col("report.error_message").alias("error_message"),
            F.col("osm_object_url").alias("@id"),
        ).alias("properties"),
    )
    return joined.select(
        "area_identifier",
        "error_id",
        "osm_object_url",
        F.to_json(feature).alias("feature_json"),
    )


def filter_reported_errors(
    reported_errors: DataFrame, approved_ids: list[str]
) -> DataFrame:
    """The bot-side approved-class filter
    (`osm_editor_bot_for_approved_tasks.py::filter_reported_errors`,
    the reference's only unit-tested pure function): keep exactly the
    error rows whose error_id is in the approved list. Declaratively a
    literal-IN filter — pushes down to the scan, no shuffle, no join;
    empty inputs and empty id lists fall out naturally (the
    reference's four edge-case tests)."""
    if not approved_ids:
        return reported_errors.filter(F.lit(False))
    return reported_errors.filter(F.col("error_id").isin(list(approved_ids)))


def sync_tasks(current_reports: DataFrame, existing_tasks: DataFrame,
               key: str = "osm_object_url") -> tuple[DataFrame, DataFrame]:
    """J7 two-way anti-join sync (`maproulette_challenge_creation.py:
    626-690`): returns (to_add, to_remove).

    to_add    — reports with no existing task (skip-if-present, :675-681)
    to_remove — tasks whose report no longer exists (delete, :642-644)
    """
    to_add = current_reports.join(existing_tasks, key, "left_anti")
    to_remove = existing_tasks.join(current_reports, key, "left_anti")
    return to_add, to_remove


# MapRoulette task statuses that count as ACTIVE for the featured
# rotation (`maproulette_challenge_creation.py:502-507`: CREATED or
# SKIPPED; everything else — fixed, false-positive, deleted, already
# fixed — is settled)
ACTIVE_TASK_STATUSES = ("created", "skipped")


def featured_rotation(
    tasks: DataFrame,
    featured_pool: list[str],
    not_to_be_featured: list[str] | None = None,
    n_featured: int = 2,
    min_total_tasks: int = 50,
    error_id_col: str = "error_id",
    status_col: str = "status",
) -> DataFrame:
    """Featured-challenge rotation
    (`maproulette_challenge_creation.py:435-479`,
    `ensure_correct_number_of_featured_groups`): keep `n_featured`
    challenges featured, walking the preference-ordered pool —

      * every challenge starts unfeatured (the reference unfeatures the
        whole pool + the not-to-be-featured list first, :442-445);
      * a pool entry with zero active tasks stays unfeatured (:468-470);
      * the LAST featured slot must lift the total active-task count to
        at least `min_total_tasks`, else the walk skips ahead for a
        bigger challenge (:461-463);
      * running out of pool entries raises, like the reference (:472-476).

    Deliberate divergence: the reference's exhaustion check runs
    unconditionally at the bottom of each loop iteration (:472-474), so
    filling the LAST slot with the LAST pool entry still raises —
    aborting after the featured flags were already set over HTTP. Here
    that fill succeeds; only a genuinely unfilled quota raises.

    Physical shape: the per-challenge active-task counts are ONE
    distributed aggregate over the (arbitrarily large) task table; the
    rotation walk itself is driver-side over the collected aggregate,
    which is bounded by the pool size — config data, not data-scale.

    Returns (error_id, active_tasks, featured, rotation_rank) for every
    challenge in pool ∪ not_to_be_featured that has tasks (rank = order
    in which the walk featured it; NULL when unfeatured).
    """
    pool = list(featured_pool)
    universe = pool + [e for e in (not_to_be_featured or []) if e not in pool]
    spark = tasks.sparkSession
    counts = (
        tasks.filter(F.col(error_id_col).isin(universe))
        .groupBy(F.col(error_id_col).alias("error_id"))
        .agg(
            F.sum(
                F.when(F.lower(F.col(status_col)).isin(*ACTIVE_TASK_STATUSES), 1).otherwise(0)
            ).alias("active_tasks")
        )
    )
    by_id = {r["error_id"]: int(r["active_tasks"]) for r in counts.collect()}

    featured: dict[str, int] = {}
    total_featured_tasks = 0
    marked = 0
    for error_id in pool:
        if marked >= n_featured:
            break
        if error_id not in by_id:
            continue  # no challenge for this pool entry (:452-454)
        active = by_id[error_id]
        if (
            marked + 1 == n_featured
            and total_featured_tasks + active < min_total_tasks
        ):
            continue  # last slot must reach the active-task floor (:461-463)
        if active > 0:
            marked += 1
            featured[error_id] = marked
            total_featured_tasks += active
    if marked < n_featured:
        raise ValueError("run out of task to feature")

    rows = [
        (e, by_id[e], e in featured, featured.get(e))
        for e in universe
        if e in by_id
    ]
    return spark.createDataFrame(
        rows, "error_id string, active_tasks long, featured boolean, rotation_rank int"
    )


# task statuses that keep a live task visible to mappers
# (`maproulette_challenge_creation.py:694-710`
# is_live_task_shown_to_people): created / false-positive / skipped /
# too-hard stay on the map; fixed / already-fixed / disabled do not,
# deleted rows are skipped outright (:635-636)
LIVE_SHOWN_STATUSES = ("created", "false_positive", "skipped", "too_hard")
# statuses a human must look at before the bot touches the task
# (:655-662: false positive / too hard → require_manual_investigation)
MANUAL_REVIEW_STATUSES = ("false_positive", "too_hard")


def challenge_sync_plan(
    candidates: DataFrame,
    challenges: DataFrame,
    mr_tasks: DataFrame,
) -> DataFrame:
    """Challenge create/update orchestration as ONE declarative action
    plan (`maproulette_challenge_creation.py:569-624`
    update_or_create_challenge_based_on_error_id + :626-668 task-state
    walk). The reference loops challenges and tasks row-by-row over
    HTTP; here the same decisions come out of one full-outer join plus
    a tiny anti-join, as an action table a thin actuator can replay:

      create_challenge — error class has ≥1 candidate task but no
                         challenge yet (:571-586; zero-candidate
                         classes are skipped, :574-576)
      add_task         — candidate url not present among the class's
                         non-deleted tasks (:670-690 skip-if-present)
      delete_task      — live-shown task whose report no longer exists
                         (:642-644 delete_task_if_not_locked)
      flag_manual      — candidate task sitting in false-positive /
                         too-hard (:655-662)

    Inputs: candidates (error_id, osm_object_url), challenges
    (error_id[, challenge_id]) — a config-sized dim, mr_tasks
    (error_id, osm_object_url, status).

    Scale shape: one shuffle of tasks and candidates on
    (error_id, osm_object_url) for the full join; the challenge dim is
    broadcast for the anti-join. No driver-side iteration.
    """
    cand = candidates.select("error_id", "osm_object_url").dropDuplicates()
    # a NULL status is an EXISTING task of unknown state, not an absent
    # one: keep it (lower(NULL) != 'deleted' is NULL and a bare filter
    # would drop the row, re-creating a live task) under a sentinel that
    # matches no action bucket, so the task is left alone
    live = mr_tasks.filter(
        F.coalesce(F.lower(F.col("status")), F.lit("")) != "deleted"
    ).select(
        "error_id",
        "osm_object_url",
        F.coalesce(F.lower(F.col("status")), F.lit("unknown")).alias("status"),
    )
    full = live.join(
        cand.withColumn("_is_cand", F.lit(True)),
        ["error_id", "osm_object_url"],
        "full",
    )
    is_cand = F.coalesce("_is_cand", F.lit(False))
    action = (
        F.when(~is_cand & F.col("status").isin(*LIVE_SHOWN_STATUSES), "delete_task")
        .when(is_cand & F.col("status").isNull(), "add_task")
        .when(is_cand & F.col("status").isin(*MANUAL_REVIEW_STATUSES), "flag_manual")
    )
    task_actions = (
        full.withColumn("action", action)
        .filter(F.col("action").isNotNull())
        .select("action", "error_id", "osm_object_url")
    )
    to_create = (
        cand.select("error_id")
        .distinct()
        .join(F.broadcast(challenges.select("error_id")), "error_id", "left_anti")
        .select(
            F.lit("create_challenge").alias("action"),
            "error_id",
            F.lit(None).cast("string").alias("osm_object_url"),
        )
    )
    return task_actions.unionByName(to_create)


def prerequisite_still_holds(reports: DataFrame, live_elements: DataFrame,
                             key_cols: list[str] | None = None) -> DataFrame:
    """V4 prerequisite re-check (`maproulette_challenge_creation.py:
    1080-1085`): the stored prerequisite tag-dict must still hold on
    the live element — null value means 'tag absent'
    (`generate_webpage_with_error_output.py:1132-1147`). Map-
    containment as a higher-order forall; no UDF."""
    key_cols = key_cols or ["type", "id"]
    live = live_elements.select(*key_cols, F.col("tags").alias("_live_tags"))
    joined = reports.join(live, key_cols, "left")
    holds = F.when(F.col("_live_tags").isNull(), F.lit(False)).otherwise(
        F.forall(
            F.map_entries(F.col("report.prerequisite")),
            lambda e: F.col("_live_tags")[e["key"]].eqNullSafe(e["value"]),
        )
    )
    return joined.withColumn(
        "prerequisite_holds",
        F.when(F.col("report.prerequisite").isNull(), F.lit(True)).otherwise(holds),
    ).drop("_live_tags")
