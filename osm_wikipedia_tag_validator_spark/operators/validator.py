"""The validator — reference's core per-row UDF as a Catalyst plan.

Reference: `update_problem_for_entry` (`script.py:318-347`) calls
`get_the_most_important_problem_generic(tags, location, type, id)` per
row in a Python loop (`script.py:304-315`), hitting a networked wiki
cache per element. Here the wiki lookups become four broadcast JOINS
against the `wiki_entities` dim table plus one against the regions,
and the rule cascade becomes a priority-ordered `F.when` chain in one
projection after them — JVM expressions, zero Python in the hot path
(beats even a pandas UDF). The cascade is whole-stage code-generated;
the higher-order functions over the tag map (`filter` / `transform` /
`exists` / `map_filter`) are `CodegenFallback` and evaluate
interpreted inside the generated code. Every subexpression that
several rules share is one named column, so the plan Catalyst
analyzes, optimizes and generates code for stays small.

Rule priority mirrors "most important problem" selection: the first
matching rule wins, and the ORDER IS DATA-DRIVEN — `RULE_PRIORITIES`
below is the single source both for the cascade order and for the
generated error catalog (`CATALOG`/`catalog_rows()`), the engine's
analog of the reference's routing list builders
(`generate_webpage_with_error_output.py:277-1081`: obvious_fixes
:277-333, for_review :335-540, for_tests :542-670, ignored :672-1081 —
which likewise GENERATE ids programmatically: "should use a secondary
wikipedia tag - linking from {wikipedia|wikidata|wikipedia and
wikidata} tag to a {class}", "malformed secondary wikidata tag - for
{prefix} prefixed tags", ...).

The tri-state complaint of the reference (`database.py:9-14`: NULL =
unchecked, '' = clean, JSON = error) is promoted to a typed `status`
enum + report struct (SURVEY.md §1.1).

Output adds columns:
  error_id       string (NULL = clean)
  status         'error' | 'clean'   (unchecked rows simply aren't here)
  suppressed     boolean — error class is region-ignored; the row STAYS
                 (reference keeps it and skips only the report,
                 `script.py:309-313`); report sinks filter on this
  report         struct<error_id, error_message, prerequisite,
                        proposed_tagging_changes, osm_object_url>
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import snapshot_memo
from ..sources.wiki_dim import assert_wiki_dim
from .error_catalog import (
    CATEGORY_ORDER,
    PREFIXED_VARIANTS,
    SECONDARY_TARGETS,
    SINGLETON_IDS,
    phrase_tables,
)

_EXPR_CACHE: tuple | None = None


def _expr_cache() -> dict:
    """Per-JVM memo for pure Column-expression trees.

    Building the validator's select lists costs hundreds of driver
    py4j round trips (the higher-order-function lambdas most of all),
    while the lists are pure functions of column names and static
    config — so they are memoized here, one entry per validate
    configuration, plus the static phrase dim. Columns are immutable
    unresolved expression wrappers: reusing
    one across selects/DataFrames is exactly how the DSL composes, and
    nothing data-dependent is ever stored. The cache is keyed to the
    live SparkContext, so a stopped/restarted JVM gets a fresh dict and
    no stale py4j handles survive a restart."""
    global _EXPR_CACHE
    from pyspark import SparkContext

    ctx = SparkContext._active_spark_context
    if _EXPR_CACHE is None or _EXPR_CACHE[0] is not ctx:
        _EXPR_CACHE = (ctx, {})
    return _EXPR_CACHE[1]


REPORT_SCHEMA = (
    "struct<error_id:string,error_message:string,"
    "prerequisite:map<string,string>,"
    "proposed_tagging_changes:array<struct<from:map<string,string>,to:map<string,string>>>,"
    "osm_object_url:string>"
)

# instance-of class → article-class phrase used in the generated error
# id ("should use a secondary wikipedia tag - linking from <from_tags>
# tag to <phrase>", reference `generate_webpage_with_error_output.py:
# 345-420`), and phrase → routing category. The FULL reference
# inventory (132 classes across review/tests/ignored) lives as data in
# `error_catalog.py`.
SECONDARY_CLASS_PHRASES, SECONDARY_CLASS_CATEGORY = phrase_tables()

# language-preference machinery (reference detector ctor
# `script.py:350-358`: `expected_language_code` +
# `languages_ordered_by_preference=[language_code]`; wrong-language
# family `generate_webpage_with_error_output.py:277-293,486-493`).
# The ctor's remaining flags are constants in the reference —
# `allow_false_positives=False` and
# `allow_requesting_edits_outside_osm=False` (`script.py:356-357`,
# never True anywhere) — so the cascade models exactly that
# configuration: high-false-positive classes are emitted only via
# their routed ignored/tests categories, never promoted.
# Canonical wikipedia language codes the engine recognizes — datagen
# mirrors this list; on a cluster this is the full sitematrix.
KNOWN_WIKIPEDIA_LANGS = ["en", "de", "pl", "fr", "es"]
# code aliases resolved to a canonical wikipedia (reference class
# "wikipedia tag using redirecting language code"); ISO 639-2 → 639-1
LANG_CODE_REDIRECTS = {
    "eng": "en",
    "ger": "de",
    "pol": "pl",
    "fra": "fr",
    "spa": "es",
}

_FROM_TAGS = ["wikipedia and wikidata", "wikipedia", "wikidata"]

# prefixed-variant stem → cascade family (the six generated id shapes
# of `error_catalog.PREFIXED_VARIANTS`)
_VARIANT_FAMILY = {
    "malformed secondary wikipedia tag": "malformed_secondary_wikipedia",
    "malformed secondary wikidata tag": "malformed_secondary_wikidata",
    "wikipedia wikidata mismatch": "mismatch",
    "wikipedia wikidata mismatch - follow wikipedia redirect":
        "mismatch_follow_wikipedia_redirect",
    "wikipedia wikidata mismatch - follow wikidata redirect":
        "mismatch_follow_wikidata_redirect",
    "wikipedia wikidata mismatch - wikipedia points to disambiguation page and wikidata does not":
        "mismatch_wp_disambig",
}

# ---------------------------------------------------------------------------
# The routing catalog — single source for cascade order AND category
# routing. (family, category, [error ids]) in priority order; the
# datagen dim table and the report sinks both derive from this.
# ---------------------------------------------------------------------------

RULE_PRIORITIES: dict[str, int] = {
    "malformed_wikipedia": 0,
    "malformed_secondary_wikipedia": 1,
    "malformed_wikidata": 2,
    "malformed_secondary_wikidata": 3,
    "old_style_wikipedia": 4,
    # language-code diagnoses must precede 404: an aliased/unknown code
    # never joins the entity dim, so without them the row would
    # misreport as a 404
    "nonexisting_lang_code": 5,
    "lang_code_redirect": 6,
    "wikipedia_404": 7,
    "wikidata_404": 8,
    "secondary_wikidata_404": 9,
    "mismatch_follow_wikipedia_redirect": 10,
    "mismatch_follow_wikidata_redirect": 11,
    # the disambig-refined mismatch diagnosis outranks the generic one
    "mismatch_wp_disambig": 12,
    "mismatch": 13,
    "wikidata_redirect": 14,
    "wikipedia_redirect": 15,
    "wikipedia_disambig": 16,
    # key-choice complaint for information boards outranks the
    # article-class heuristics (it is about WHICH key, not the article)
    "info_board_wikipedia": 17,
    "info_board_wikidata": 18,
    # bridge:* links belong on the bridge outline object
    "bridge_outline": 19,
    "secondary_class": 20,
    # the fixable refinement outranks the generic wrong-language id
    "wrong_language_fixable": 21,
    "wrong_language": 22,
    # tag-completion families (reference obvious_fixes 'wikidata from
    # wikipedia tag' / 'wikipedia from wikidata tag[, unexpected
    # language]') — gated by classify(request_missing_tags=...)
    "wikidata_from_wikipedia": 23,
    "wikipedia_from_wikidata": 24,
    "wikipedia_from_wikidata_lang": 25,
    # fixme:wikipedia is a catch-all "something is wrong" marker — any
    # specific diagnosis above outranks it
    "fixme_wikipedia": 26,
    "outside_region": 27,
}

# best-effort family for singleton catalog ids the cascade does not
# (yet) emit — they still need routing rows (reference renders/skips
# them; note_unused_errors checks membership, not emittability)
_SINGLETON_PRIORITY = 99


def catalog_rows() -> list[tuple[str, str, int, str]]:
    """(error_id, category, priority, family) — the engine's full error
    inventory, generated from `error_catalog.py`'s data tables exactly
    like the reference's programmatic list builders. Category
    semantics: obvious = bot-fixable with a proposed change, review =
    human page, tests = experimental page, ignored = never rendered
    (`generate_webpage_with_error_output.py:277-1081`)."""
    P = RULE_PRIORITIES
    rows: list[tuple[str, str, int, str]] = [
        ("malformed wikipedia tag", "review", P["malformed_wikipedia"], "malformed_wikipedia"),
        ("malformed wikidata tag", "review", P["malformed_wikidata"], "malformed_wikidata"),
        ("invalid old-style wikipedia tag", "review", P["old_style_wikipedia"], "old_style_wikipedia"),
        ("wikipedia tag links to 404", "review", P["wikipedia_404"], "wikipedia_404"),
        ("wikidata tag links to 404", "review", P["wikidata_404"], "wikidata_404"),
        ("secondary wikidata tag links to 404", "review", P["secondary_wikidata_404"], "secondary_wikidata_404"),
        ("wikipedia wikidata mismatch - follow wikipedia redirect", "obvious",
         P["mismatch_follow_wikipedia_redirect"], "mismatch_follow_wikipedia_redirect"),
        ("wikipedia wikidata mismatch - follow wikidata redirect", "obvious",
         P["mismatch_follow_wikidata_redirect"], "mismatch_follow_wikidata_redirect"),
        ("wikipedia wikidata mismatch - wikipedia points to disambiguation page and wikidata does not",
         "review", P["mismatch_wp_disambig"], "mismatch_wp_disambig"),
        ("wikipedia wikidata mismatch", "review", P["mismatch"], "mismatch"),
        ("wikidata tag links to a redirect", "obvious", P["wikidata_redirect"], "wikidata_redirect"),
        ("wikipedia tag links to a redirect", "obvious", P["wikipedia_redirect"], "wikipedia_redirect"),
        # reference id for the disambiguation complaint
        # (`generate_webpage_with_error_output.py:412`, for_review)
        ("link to a disambiguation page", "review", P["wikipedia_disambig"], "wikipedia_disambig"),
        ("malformed wikipedia tag - nonexisting language code", "review",
         P["nonexisting_lang_code"], "nonexisting_lang_code"),
        ("wikipedia tag using redirecting language code", "obvious",
         P["lang_code_redirect"], "lang_code_redirect"),
        ("wikipedia tag in unexpected language, good one in expected language found",
         "obvious", P["wrong_language_fixable"], "wrong_language_fixable"),
        ("wikipedia tag unexpected language", "review", P["wrong_language"], "wrong_language"),
        ("wikidata from wikipedia tag", "obvious",
         P["wikidata_from_wikipedia"], "wikidata_from_wikipedia"),
        ("wikipedia from wikidata tag", "obvious",
         P["wikipedia_from_wikidata"], "wikipedia_from_wikidata"),
        ("wikipedia from wikidata tag, unexpected language", "obvious",
         P["wikipedia_from_wikidata_lang"], "wikipedia_from_wikidata_lang"),
        ("element outside declared region", "review", P["outside_region"], "outside_region"),
        # information boards should link their SUBJECT via subject:*
        # (`generate_webpage_with_error_output.py:420-421`)
        ("information board with wikipedia tag, not subject:wikipedia", "review",
         P["info_board_wikipedia"], "info_board_wikipedia"),
        ("information board with wikidata tag, not subject:wikidata", "review",
         P["info_board_wikidata"], "info_board_wikidata"),
        # catch-all human marker (`generate_webpage_with_error_output.py:525`)
        ("something is wrong with wikipedia tag - fixme:wikipedia is present",
         "review", P["fixme_wikipedia"], "fixme_wikipedia"),
        # bridge:* links belong on the bridge OUTLINE object
        # (`generate_webpage_with_error_output.py` for_review singles)
        ("bridge:wikipedia - move to bridge outline", "review",
         P["bridge_outline"], "bridge_outline"),
        ("bridge:wikidata - move to bridge outline", "review",
         P["bridge_outline"], "bridge_outline"),
        ("bridge:wikipedia and bridge:wikidata - move to bridge outline", "review",
         P["bridge_outline"], "bridge_outline"),
        # routed-but-never-rendered class (reference `ignored()` list)
        ("wikipedia tag in outdated form", "ignored", _SINGLETON_PRIORITY, "legacy"),
    ]
    seen = {r[0] for r in rows}

    def add(error_id: str, category: str, priority: int, family: str) -> None:
        if error_id not in seen:
            seen.add(error_id)
            rows.append((error_id, category, priority, family))

    # shape 1: secondary-class x from-tags cross product
    for category in CATEGORY_ORDER:
        for phrase in SECONDARY_TARGETS.get(category, ()):
            for from_tags in _FROM_TAGS:
                add(
                    f"should use a secondary wikipedia tag - linking from {from_tags} tag to {phrase}",
                    category, P["secondary_class"], "secondary_class",
                )
    # shape 2: prefixed variants (category per (variant, prefix),
    # exactly the reference's per-list membership)
    for stem, family in _VARIANT_FAMILY.items():
        for category in CATEGORY_ORDER:
            for pfx in PREFIXED_VARIANTS.get(stem, {}).get(category, ()):
                add(f"{stem} - for {pfx} prefixed tags", category, P[family], family)
    # shape 3: remaining singleton ids (routed; a documented subset is
    # cascade-emittable today)
    for category in CATEGORY_ORDER:
        for error_id in SINGLETON_IDS.get(category, ()):
            add(error_id, category, _SINGLETON_PRIORITY, "singleton")
    return rows


# helper columns of the extract select — named so that each shared
# subexpression is computed once; dropped by validate's final select
_TAG_HELPERS = (
    "_wp_pref", "_wd_pref", "_plain", "_pair", "_key_pfx", "_wp_key", "_wd_key", "_wp_split",
)


def extract_wiki_tags() -> list[Column]:
    """The select list that pulls the wikipedia/wikidata payloads out of
    the `tags` map, PAIR-COHERENTLY.

    The reference validates tag FAMILIES: the plain `wikipedia` /
    `wikidata` pair, and each `<prefix>:wikipedia` /
    `<prefix>:wikidata` pair, independently — it never compares, say,
    a plain wikipedia article against `subject:wikidata`
    (`script.py:318-347` iterates key families). Here the validated
    pair is the plain one when either plain key is present, else the
    lexicographically first prefix present (one complaint per row —
    "most important problem" semantics); remaining prefixed keys
    surface as `sec_*` columns checked for malformed / 404 only.

    Later items refer to earlier ones by name (lateral column
    aliases), so each shared subexpression — the prefixed key arrays,
    the pair prefix, the split payload — is one named column, not
    inlined at every use. The `_TAG_HELPERS` columns are internal.

    Emitted columns:
      wikipedia_tag / wikidata_tag      the validated pair's payloads
      used_primary_wikipedia_key /
      used_wikidata_key                 which key supplied each payload
      pair_prefix                       '' = plain pair, else the prefix
                                        (drives the reference's
                                        "- for {prefix} prefixed tags"
                                        generated ids); NULL = no
                                        wikipedia/wikidata keys at all
      sec_wikipedia_key/-value,
      sec_wikidata_key/-value           first prefixed key OUTSIDE the
                                        validated pair (for a prefixed
                                        pair: first key of a different
                                        family)
      old_style_wikipedia_key/-value    `wikipedia:<lang>` (invalid old
                                        form)
      wikipedia_lang/-article           split of the pair's wp payload
    """
    t = F.col("tags")
    keys = F.map_keys(t)

    # suffix test, not a regex — this runs per key per row in the hot
    # path; the length guard excludes a bare ':wikipedia' key, which
    # would otherwise alias the plain-pair '' prefix. Marker keys
    # (fixme:/source:/note:) carry human text or provenance, not
    # links — fixme:wikipedia has its own complaint class (reference
    # `generate_webpage_with_error_output.py:525`), the others are
    # skipped like the reference skips them.
    def prefixed_keys(family: str) -> Column:
        sfx = ":" + family
        return F.array_sort(
            F.filter(
                keys,
                lambda k: k.endswith(sfx)
                & (F.length(k) > len(sfx))
                & ~k.isin(*(m + sfx for m in ("fixme", "source", "note"))),
            )
        )

    def prefixes(pref_col: str, family: str) -> Column:
        n = len(family) + 1
        return F.transform(pref_col, lambda k: F.substring(k, F.lit(1), F.length(k) - n))

    plain = F.col("_plain")
    wp_key, wd_key = F.col("_wp_key"), F.col("_wd_key")
    return [
        prefixed_keys("wikipedia").alias("_wp_pref"),
        prefixed_keys("wikidata").alias("_wd_pref"),
        (t["wikipedia"].isNotNull() | t["wikidata"].isNotNull()).alias("_plain"),
        F.when(plain, F.lit("")).otherwise(
            F.get(
                F.array_sort(
                    F.array_union(
                        prefixes("_wp_pref", "wikipedia"), prefixes("_wd_pref", "wikidata")
                    )
                ),
                0,
            )
        ).alias("_pair"),
        # the validated pair's two keys; NULL when the element has no pair
        F.when(plain, F.lit("")).otherwise(F.concat("_pair", F.lit(":"))).alias("_key_pfx"),
        F.concat("_key_pfx", F.lit("wikipedia")).alias("_wp_key"),
        F.concat("_key_pfx", F.lit("wikidata")).alias("_wd_key"),
        t[wp_key].alias("wikipedia_tag"),
        t[wd_key].alias("wikidata_tag"),
        F.when(F.col("wikipedia_tag").isNotNull(), wp_key).alias("used_primary_wikipedia_key"),
        F.when(F.col("wikidata_tag").isNotNull(), wd_key).alias("used_wikidata_key"),
        F.col("_pair").alias("pair_prefix"),
        # first prefixed key OUTSIDE the validated pair: for a plain pair
        # that is any prefixed key (none equals a plain key); for a
        # prefixed pair, the first key of a DIFFERENT family (the
        # reference validates each key family independently — without
        # this, a second prefixed family on a prefixed-pair element
        # would escape the shape/404 checks)
        F.get(F.filter("_wp_pref", lambda k: k != wp_key), 0).alias("sec_wikipedia_key"),
        t[F.col("sec_wikipedia_key")].alias("sec_wikipedia_value"),
        F.get(F.filter("_wd_pref", lambda k: k != wd_key), 0).alias("sec_wikidata_key"),
        t[F.col("sec_wikidata_key")].alias("sec_wikidata_value"),
        F.array_min(F.filter(keys, lambda k: k.rlike("^wikipedia:[a-z]{2,3}$"))).alias(
            "old_style_wikipedia_key"
        ),
        t[F.col("old_style_wikipedia_key")].alias("old_style_wikipedia_value"),
        F.split("wikipedia_tag", ":", 2).alias("_wp_split"),
        F.get("_wp_split", 0).alias("wikipedia_lang"),
        F.get("_wp_split", 1).alias("wikipedia_article"),
    ]


def relevance_filter(df: DataFrame, tags_col: str = "tags") -> Column:
    """P1/P2 (`load_osm_file.py:14-21`): non-empty tags and some key
    CONTAINS wikipedia/wikidata (substring match, not equality)."""
    return (F.size(tags_col) > 0) & F.exists(
        F.map_keys(tags_col),
        lambda k: k.contains("wikipedia") | k.contains("wikidata"),
    )


def join_wiki_entities(elements: DataFrame, wiki: DataFrame) -> DataFrame:
    """J1 (SURVEY §2.3): the reference's per-row cached network lookup
    (`script.py:329`) as broadcast joins — on the wikipedia article, on
    the wikidata qid, on the wikipedia redirect target (to resolve the
    redirect's article for proposed changes), and on the out-of-pair
    secondary wikidata value.

    The secondary-class phrase lookup (132 instance-of classes,
    `error_catalog.SECONDARY_TARGETS`) is joined into the wiki DIM here
    — a dim⋈dim join on the driver-side-small entity table — rather
    than inlined as a literal `create_map` in the cascade: a 132-entry
    map literal repeated across when-branches bloats every generated
    code path with hundreds of constants, and the dim join keeps plan
    size independent of catalog breadth.

    The pre-joined dim is built and cached ONCE per wiki snapshot
    (`session.snapshot_memo`, slot "wiki_dim"): every validate over the
    same snapshot reuses the one cached DataFrame, and all four joined
    selections read it, so `build_wiki_entities_dim`'s dedupe window
    and the phrase join run at fill time only — not once per selection
    per query. A new snapshot (new manifest snapshot, or a parquet path
    rewritten in place) misses and replaces the entry.

    `wiki` must satisfy `sources.wiki_dim.CONSUMED_COLUMNS` — the
    documented boundary between the validator and any real wiki-entity
    source; normalize arbitrary dumps with
    `sources.wiki_dim.build_wiki_entities_dim`."""
    wiki = assert_wiki_dim(wiki)
    dim = snapshot_memo("wiki_dim", wiki, lambda: _fill_wiki_dim(wiki))
    wp = F.broadcast(
        dim.select(
            F.col("article").alias("wikipedia_tag"),
            F.col("qid").alias("wp_qid"),
            F.col("exists").alias("wp_exists"),
            F.col("redirect_to").alias("wp_redirect_to"),
            F.col("is_disambiguation").alias("wp_is_disambiguation"),
            F.col("instance_of").alias("wp_instance_of"),
            F.col("secondary_phrase").alias("wp_phrase"),
            F.col("sitelinks").alias("wp_sitelinks"),
        )
    )
    wd = F.broadcast(
        dim.select(
            F.col("qid").alias("wikidata_tag"),
            F.col("exists").alias("wd_exists"),
            F.col("redirect_to").alias("wd_redirect_to"),
            F.col("is_disambiguation").alias("wd_is_disambiguation"),
            F.col("instance_of").alias("wd_instance_of"),
            F.col("secondary_phrase").alias("wd_phrase"),
            F.col("sitelinks").alias("wd_sitelinks"),
        )
    )
    redir = F.broadcast(
        dim.select(
            F.col("qid").alias("wp_redirect_to"),
            F.col("article").alias("wp_redirect_article"),
        )
    )
    # secondary-wikidata existence (reference 'secondary wikidata tag
    # links to 404' checks prefixed wikidata keys OUTSIDE the validated
    # pair too)
    sec = F.broadcast(
        dim.select(
            F.col("qid").alias("sec_wikidata_value"),
            F.col("exists").alias("sec_wd_exists"),
        )
    )
    return (
        elements.join(wp, "wikipedia_tag", "left")
        .join(wd, "wikidata_tag", "left")
        .join(redir, "wp_redirect_to", "left")
        .join(sec, "sec_wikidata_value", "left")
    )


def _fill_wiki_dim(wiki: DataFrame) -> DataFrame:
    """`wiki` ⋈ the secondary-class phrase dim, cached. The first query
    over it fills the cache inside its own jobs (no separate action:
    Spark's per-partition cache lock computes each block once even
    when the four broadcasts race into it); every later validate over
    the snapshot reads the four broadcasts from the cache."""
    cache = _expr_cache()
    phrase_dim = cache.get("phrase_dim")
    if phrase_dim is None:
        # static 132-row literal dim — one LocalTableScan per JVM, not
        # one createDataFrame round trip per fill. pandas + schema so it
        # plans as LocalTableScan; the list-of-tuples form plans as a
        # pickled ExistingRDD, whose scans each run a Python task.
        import pandas as _pd

        items = list(SECONDARY_CLASS_PHRASES.items())
        phrase_dim = F.broadcast(
            wiki.sparkSession.createDataFrame(
                _pd.DataFrame(
                    {
                        "instance_of": [k for k, _ in items],
                        "secondary_phrase": [v for _, v in items],
                    }
                ),
                "instance_of string, secondary_phrase string",
            )
        )
        cache["phrase_dim"] = phrase_dim
    return wiki.join(phrase_dim, "instance_of", "left").cache()


def _lang_redirect_map_col() -> Column:
    kv: list[Column] = []
    for alias, target in LANG_CODE_REDIRECTS.items():
        kv.extend([F.lit(alias), F.lit(target)])
    return F.create_map(*kv)


def _shared_predicates() -> list[Column]:
    """The rule predicates that several rules share, as named columns
    (lateral aliases) — each one computed once per row and referenced
    by name in `build_rules`, not inlined into every rule that needs
    it."""
    wp, wd = F.col("wikipedia_tag"), F.col("wikidata_tag")
    wp_ok, wd_ok = F.col("_wp_ok"), F.col("_wd_ok")
    lang, region_lang = F.col("wikipedia_lang"), F.col("language_code")

    def wp_malformed(v: Column) -> Column:
        return v.isNotNull() & ~v.rlike("^[a-z]{2,3}:.+")

    def wd_malformed(v: Column) -> Column:
        return v.isNotNull() & ~v.rlike("^Q[0-9]+$")

    pair_prefixed = F.coalesce(F.col("pair_prefix") != "", F.lit(False))
    return [
        wp_malformed(wp).alias("_wp_malformed"),
        wd_malformed(wd).alias("_wd_malformed"),
        wp_malformed(F.col("sec_wikipedia_value")).alias("_sec_wp_malformed"),
        wd_malformed(F.col("sec_wikidata_value")).alias("_sec_wd_malformed"),
        # wp_shape_ok / its wikidata twin
        (wp.isNotNull() & ~F.col("_wp_malformed")).alias("_wp_ok"),
        (wd.isNotNull() & ~F.col("_wd_malformed")).alias("_wd_ok"),
        (wp_ok & (F.col("wp_qid").isNull() | ~F.col("wp_exists"))).alias("_wp_404"),
        (wd_ok & (F.col("wd_exists").isNull() | ~F.col("wd_exists"))).alias("_wd_404"),
        (
            wp_ok & wd_ok & ~F.col("_wp_404") & ~F.col("_wd_404") & (F.col("wp_qid") != wd)
        ).alias("_mismatch"),
        # secondary-class rule fires only for PRIMARY tag links — a
        # brand:wikipedia → brand article is CORRECT secondary usage
        (
            wp_ok & ~F.col("_wp_404") & (F.col("used_primary_wikipedia_key") == "wikipedia")
        ).alias("_from_wp"),
        (wd_ok & ~F.col("_wd_404") & (F.col("used_wikidata_key") == "wikidata")).alias(
            "_from_wd"
        ),
        # the phrase was joined into the entity dim (join_wiki_entities) —
        # NULL for non-secondary classes (place/generic/unknown)
        F.when(F.col("_from_wp") & F.col("wp_phrase").isNotNull(), F.col("wp_phrase"))
        .when(F.col("_from_wd"), F.col("wd_phrase"))
        .alias("_phrase"),
        # language-preference machinery (reference `script.py:350-358`:
        # `languages_ordered_by_preference=[language_code]` — the
        # region's single preferred language)
        (wp_ok & region_lang.isNotNull() & (lang != region_lang)).alias("_wrong_lang"),
        # the reference's generated "- for {prefix} prefixed tags" id
        # suffix (`error_catalog.PREFIXED_VARIANTS`), empty for the
        # plain pair
        F.when(
            pair_prefixed,
            F.concat(F.lit(" - for "), F.col("pair_prefix"), F.lit(" prefixed tags")),
        )
        .otherwise(F.lit(""))
        .alias("_pfx_sfx"),
        # which prefixed key carries a malformed payload — the validated
        # pair's (prefixed pair) or the out-of-pair secondary key
        F.when(F.col("_wp_malformed") & pair_prefixed, F.col("used_primary_wikipedia_key"))
        .when(F.col("_sec_wp_malformed"), F.col("sec_wikipedia_key"))
        .alias("_msw_key"),
        F.when(F.col("_wd_malformed") & pair_prefixed, F.col("used_wikidata_key"))
        .when(F.col("_sec_wd_malformed"), F.col("sec_wikidata_key"))
        .alias("_msd_key"),
    ]


def build_rules(
    inside_region_col: str | None = "inside_declared_region",
    request_missing_tags: bool = False,
) -> dict[str, tuple[Column, Column]]:
    """family → (condition, error_id expression), over the columns of
    `_shared_predicates`. Families with GENERATED ids (secondary
    classes, prefixed malformed variants) compute the id from row data
    — same shape as the reference's string-building list generators."""
    wp, wd = F.col("wikipedia_tag"), F.col("wikidata_tag")
    has_wp, has_wd = wp.isNotNull(), wd.isNotNull()
    wp_primary = F.col("used_primary_wikipedia_key") == "wikipedia"
    wd_plain = F.col("used_wikidata_key") == "wikidata"
    wp_ok, wd_ok = F.col("_wp_ok"), F.col("_wd_ok")
    wp_404, wd_404 = F.col("_wp_404"), F.col("_wd_404")
    mismatch = F.col("_mismatch")
    from_wp, from_wd = F.col("_from_wp"), F.col("_from_wd")
    phrase = F.col("_phrase")
    wrong_lang = F.col("_wrong_lang")
    pfx_sfx = F.col("_pfx_sfx")
    msw_key, msd_key = F.col("_msw_key"), F.col("_msd_key")
    lang = F.col("wikipedia_lang")
    lang_known = lang.isin(*KNOWN_WIKIPEDIA_LANGS)
    lang_alias = lang.isin(*LANG_CODE_REDIRECTS.keys())
    sec_wd_404 = (
        F.col("sec_wikidata_value").isNotNull()
        & ~F.col("_sec_wd_malformed")
        & (F.col("sec_wd_exists").isNull() | ~F.col("sec_wd_exists"))
    )
    wp_disambig = F.coalesce("wp_is_disambiguation", F.lit(False))
    from_desc = (
        F.when(from_wp & from_wd, "wikipedia and wikidata")
        .when(from_wp, "wikipedia")
        .otherwise("wikidata")
    )
    # a sitelink in the region's preferred language makes the wrong-
    # language complaint bot-fixable (reference obvious_fixes class)
    preferred_sitelink = F.try_element_at(F.col("wp_sitelinks"), F.col("language_code"))

    _t = F.col("tags")
    _is_info_board = (F.try_element_at(_t, F.lit("tourism")) == "information") & (
        F.try_element_at(_t, F.lit("information")) == "board"
    )
    _bridge_wp = F.try_element_at(_t, F.lit("bridge:wikipedia"))
    _bridge_wd = F.try_element_at(_t, F.lit("bridge:wikidata"))

    rules: dict[str, tuple[Column, Column]] = {
        "malformed_wikipedia": (
            F.col("_wp_malformed") & wp_primary, F.lit("malformed wikipedia tag")
        ),
        "malformed_secondary_wikipedia": (
            msw_key.isNotNull(),
            F.concat(
                F.lit("malformed secondary wikipedia tag - for "),
                F.regexp_replace(msw_key, ":wikipedia$", ""),
                F.lit(" prefixed tags"),
            ),
        ),
        "malformed_wikidata": (F.col("_wd_malformed") & wd_plain, F.lit("malformed wikidata tag")),
        "malformed_secondary_wikidata": (
            msd_key.isNotNull(),
            F.concat(
                F.lit("malformed secondary wikidata tag - for "),
                F.regexp_replace(msd_key, ":wikidata$", ""),
                F.lit(" prefixed tags"),
            ),
        ),
        "old_style_wikipedia": (
            F.col("old_style_wikipedia_key").isNotNull(),
            F.lit("invalid old-style wikipedia tag"),
        ),
        "wikipedia_404": (wp_404, F.lit("wikipedia tag links to 404")),
        "wikidata_404": (wd_404 & wd_plain, F.lit("wikidata tag links to 404")),
        "secondary_wikidata_404": (
            (wd_404 & ~wd_plain) | sec_wd_404,
            F.lit("secondary wikidata tag links to 404"),
        ),
        "mismatch_follow_wikipedia_redirect": (
            mismatch & F.col("wp_redirect_to").eqNullSafe(wd),
            F.concat(
                F.lit("wikipedia wikidata mismatch - follow wikipedia redirect"), pfx_sfx
            ),
        ),
        "mismatch_follow_wikidata_redirect": (
            mismatch & F.col("wd_redirect_to").eqNullSafe(F.col("wp_qid")),
            F.concat(
                F.lit("wikipedia wikidata mismatch - follow wikidata redirect"), pfx_sfx
            ),
        ),
        # disambig-refined mismatch (reference id
        # `generate_webpage_with_error_output.py` for_review/for_tests/
        # ignored lists, plain + per-prefix)
        "mismatch_wp_disambig": (
            mismatch & wp_disambig & ~F.coalesce("wd_is_disambiguation", F.lit(False)),
            F.concat(
                F.lit(
                    "wikipedia wikidata mismatch - wikipedia points to "
                    "disambiguation page and wikidata does not"
                ),
                pfx_sfx,
            ),
        ),
        "mismatch": (
            mismatch, F.concat(F.lit("wikipedia wikidata mismatch"), pfx_sfx)
        ),
        "wikidata_redirect": (
            wd_ok & ~wd_404 & F.col("wd_redirect_to").isNotNull(),
            F.lit("wikidata tag links to a redirect"),
        ),
        "wikipedia_redirect": (
            wp_ok & ~wp_404 & F.col("wp_redirect_to").isNotNull(),
            F.lit("wikipedia tag links to a redirect"),
        ),
        # reference id (`generate_webpage_with_error_output.py:412`)
        "wikipedia_disambig": (
            wp_ok & ~wp_404 & wp_disambig, F.lit("link to a disambiguation page")
        ),
        "secondary_class": (
            (from_wp | from_wd) & phrase.isNotNull(),
            F.concat(
                F.lit("should use a secondary wikipedia tag - linking from "),
                from_desc,
                F.lit(" tag to "),
                phrase,
            ),
        ),
        # information boards must link their subject via subject:*
        # (`generate_webpage_with_error_output.py:420-421`; challenge
        # text `maproulette_challenge_creation.py:802-812`)
        "info_board_wikipedia": (
            _is_info_board & has_wp & wp_primary,
            F.lit("information board with wikipedia tag, not subject:wikipedia"),
        ),
        "info_board_wikidata": (
            _is_info_board & has_wd & wd_plain,
            F.lit("information board with wikidata tag, not subject:wikidata"),
        ),
        # bridge:* links belong on the bridge OUTLINE object (reference
        # for_review ids '"bridge:wikipedia[ and bridge:wikidata]" -
        # move to bridge outline'); fires for a WELL-FORMED bridge pair
        # on an element that is not itself the outline (man_made=
        # bridge) — malformed/404/mismatch diagnoses above outrank it
        # fires on the PRESENCE of bridge:* keys, not on bridge being
        # the validated pair — the reference reports per key family, so
        # an element that also carries a plain pair (or an
        # alphabetically earlier prefix) still gets the complaint;
        # higher-priority diagnoses on the validated pair outrank it
        # under the engine's one-error-per-element semantics
        "bridge_outline": (
            (_bridge_wp.isNotNull() | _bridge_wd.isNotNull())
            & (F.try_element_at(_t, F.lit("man_made")).isNull()
               | (F.try_element_at(_t, F.lit("man_made")) != "bridge")),
            F.concat(
                F.when(
                    _bridge_wp.isNotNull() & _bridge_wd.isNotNull(),
                    F.lit("bridge:wikipedia and bridge:wikidata"),
                )
                .when(_bridge_wp.isNotNull(), F.lit("bridge:wikipedia"))
                .otherwise(F.lit("bridge:wikidata")),
                F.lit(" - move to bridge outline"),
            ),
        ),
        # catch-all fixme marker (`generate_webpage…py:525`) — ranked
        # after every specific diagnosis
        "fixme_wikipedia": (
            F.try_element_at(F.col("tags"), F.lit("fixme:wikipedia")).isNotNull(),
            F.lit("something is wrong with wikipedia tag - fixme:wikipedia is present"),
        ),
        "nonexisting_lang_code": (
            wp_ok & ~lang_known & ~lang_alias,
            F.lit("malformed wikipedia tag - nonexisting language code"),
        ),
        "lang_code_redirect": (
            wp_ok & lang_alias,
            F.lit("wikipedia tag using redirecting language code"),
        ),
        "wrong_language_fixable": (
            wrong_lang & preferred_sitelink.isNotNull(),
            F.lit("wikipedia tag in unexpected language, good one in expected language found"),
        ),
        "wrong_language": (wrong_lang, F.lit("wikipedia tag unexpected language")),
    }
    if request_missing_tags:
        # tag-completion families (reference obvious_fixes
        # `generate_webpage_with_error_output.py:282-286`): propose the
        # missing twin tag from what the entity dim already knows. Off
        # by default so the baseline cascade (and its golden fixtures)
        # only complains about tags that are PRESENT and wrong.
        region_sitelink = F.try_element_at(F.col("wd_sitelinks"), F.col("language_code"))
        any_sitelink = F.col("wd_sitelinks").isNotNull() & (
            F.size(F.map_keys(F.col("wd_sitelinks"))) > 0
        )
        rules["wikidata_from_wikipedia"] = (
            from_wp & ~has_wd & F.col("wp_qid").isNotNull(),
            F.lit("wikidata from wikipedia tag"),
        )
        rules["wikipedia_from_wikidata"] = (
            ~has_wp & from_wd & region_sitelink.isNotNull(),
            F.lit("wikipedia from wikidata tag"),
        )
        rules["wikipedia_from_wikidata_lang"] = (
            ~has_wp & from_wd & region_sitelink.isNull() & any_sitelink,
            F.lit("wikipedia from wikidata tag, unexpected language"),
        )
    if inside_region_col is not None:
        rules["outside_region"] = (
            ~F.coalesce(F.col(inside_region_col), F.lit(True)),
            F.lit("element outside declared region"),
        )
    return rules


def classify(
    inside_region_col: str | None = "inside_declared_region",
    request_missing_tags: bool = False,
) -> list[Column]:
    """Priority-ordered rule cascade → the select list that adds the
    shared predicates, `error_id` (NULL = clean) and `status`.

    The cascade ORDER comes from `RULE_PRIORITIES`, the same table the
    error catalog is generated from — "most important problem"
    selection is data, not code structure."""
    rules = build_rules(inside_region_col, request_missing_tags)
    cascade = None
    for fam in sorted(rules, key=RULE_PRIORITIES.__getitem__):
        cond, err = rules[fam]
        cascade = F.when(cond, err) if cascade is None else cascade.when(cond, err)
    assert cascade is not None
    return [
        *_shared_predicates(),
        cascade.alias("error_id"),
        F.when(F.col("error_id").isNotNull(), "error").otherwise("clean").alias("status"),
    ]


def apply_ignored_problems(df: DataFrame, regions: DataFrame,
                           region_col: str = "area_identifier") -> DataFrame:
    """P8 (`script.py:195-200,309-313`): drop per-region ignored error
    classes — an anti-join against the exploded broadcast skip-list.

    REPORT-SINK-ONLY semantics: the reference keeps the row in its
    state table and merely `continue`s past it when rendering
    (`script.py:309-313`), so this anti-join must never run inside the
    state pipeline — there `validate` marks the row `suppressed`, and
    the sinks filter on that."""
    skip = F.broadcast(
        regions.select(
            F.col("internal_region_name").alias(region_col),
            F.explode("ignored_problems").alias("error_id"),
        )
    )
    return df.join(skip, [region_col, "error_id"], "left_anti")


def build_report() -> list[Column]:
    """The select list that adds `osm_object_url` and the typed report
    struct (the reference's validator_complaint JSON,
    `script.py:331-347`, as a StructType) from `error_id`.

    F13 proposed-change extraction, full form
    (`generate_webpage_with_error_output.py:216-234`, bot copy
    `osm_editor_bot_for_approved_tasks.py:85-95`): every obvious-fix
    class carries a from/to tag-map pair —

      wikidata redirect (plain or mismatch-confirmed) →
          {used wikidata key: Qold} → {key: Qtarget}
      wikipedia redirect (plain or mismatch-confirmed) →
          {used wikipedia key: old article} → {key: redirect article}
      invalid old-style wikipedia tag →
          {wikipedia:<lang>: Article} → {wikipedia: <lang>:Article}
    """
    url = F.col("osm_object_url")
    err = F.col("error_id")
    used_wd = F.col("used_wikidata_key")
    used_wp = F.col("used_primary_wikipedia_key")
    # prerequisite keys are the ACTUAL validated keys — for a prefixed
    # pair the payload lives under e.g. subject:wikipedia, and
    # prerequisite_still_holds looks the map keys up in the live
    # element's tags, so literal 'wikipedia'/'wikidata' keys would
    # spuriously invalidate every prefixed-pair task. The used_* key is
    # NULL exactly when its payload is NULL (both sides filtered out),
    # so the coalesce fallback never surfaces in the map.
    prereq = F.map_filter(
        F.create_map(
            F.coalesce(used_wp, F.lit("wikipedia")), F.col("wikipedia_tag"),
            F.coalesce(used_wd, F.lit("wikidata")), F.col("wikidata_tag"),
        ),
        lambda k, v: v.isNotNull(),
    )
    # prefixed pairs generate ids suffixed ' - for {prefix} prefixed
    # tags' (error_catalog.PREFIXED_VARIANTS); proposed-change dispatch
    # matches on the stripped stem so e.g. the brand-prefixed
    # follow-redirect class carries the same from/to change as the
    # plain one (the reference's obvious-fix contract)
    err_stem = F.col("_err_stem")
    old_key = F.col("old_style_wikipedia_key")
    old_val = F.col("old_style_wikipedia_value")

    def _change(key: Column, frm: Column, to: Column, to_key: Column | None = None) -> Column:
        return F.array(
            F.struct(
                F.create_map(key, frm).alias("from"),
                F.create_map(to_key if to_key is not None else key, to).alias("to"),
            )
        )

    changes = (
        F.when(
            err_stem.isin(
                "wikidata tag links to a redirect",
                "wikipedia wikidata mismatch - follow wikidata redirect",
            ),
            _change(used_wd, F.col("wikidata_tag"), F.col("wd_redirect_to")),
        )
        .when(
            err_stem.isin(
                "wikipedia tag links to a redirect",
                "wikipedia wikidata mismatch - follow wikipedia redirect",
            )
            & F.col("wp_redirect_article").isNotNull(),
            _change(used_wp, F.col("wikipedia_tag"), F.col("wp_redirect_article")),
        )
        .when(
            err == "invalid old-style wikipedia tag",
            _change(
                old_key,
                old_val,
                F.concat(F.regexp_replace(old_key, "^wikipedia:", ""), F.lit(":"), old_val),
                to_key=F.lit("wikipedia"),
            ),
        )
        .when(
            err == "wikipedia tag using redirecting language code",
            _change(
                used_wp,
                F.col("wikipedia_tag"),
                F.concat(
                    F.element_at(_lang_redirect_map_col(), F.col("wikipedia_lang")),
                    F.lit(":"),
                    F.col("wikipedia_article"),
                ),
            ),
        )
        .when(
            err
            == "wikipedia tag in unexpected language, good one in expected language found",
            _change(
                used_wp,
                F.col("wikipedia_tag"),
                F.try_element_at(F.col("wp_sitelinks"), F.col("language_code")),
            ),
        )
        .when(
            err == "wikidata from wikipedia tag",
            F.array(
                F.struct(
                    F.create_map().cast("map<string,string>").alias("from"),
                    F.create_map(F.lit("wikidata"), F.col("wp_qid")).alias("to"),
                )
            ),
        )
        .when(
            err == "wikipedia from wikidata tag",
            F.array(
                F.struct(
                    F.create_map().cast("map<string,string>").alias("from"),
                    F.create_map(
                        F.lit("wikipedia"),
                        F.try_element_at(F.col("wd_sitelinks"), F.col("language_code")),
                    ).alias("to"),
                )
            ),
        )
        .when(
            err == "wikipedia from wikidata tag, unexpected language",
            F.array(
                F.struct(
                    F.create_map().cast("map<string,string>").alias("from"),
                    F.create_map(
                        F.lit("wikipedia"),
                        # deterministic pick among available sitelinks
                        F.array_min(F.map_values(F.col("wd_sitelinks"))),
                    ).alias("to"),
                )
            ),
        )
    )
    msg = F.concat(err, F.lit(" for "), url)
    report = F.when(
        err.isNotNull(),
        F.struct(
            err.alias("error_id"),
            msg.alias("error_message"),
            prereq.alias("prerequisite"),
            changes.alias("proposed_tagging_changes"),
            url.alias("osm_object_url"),
        ),
    )
    return [
        F.concat(
            F.lit("https://www.openstreetmap.org/"), F.col("type"), F.lit("/"), F.col("id")
        ).alias("osm_object_url"),
        F.regexp_replace(err, " - for .+ prefixed tags$", "").alias("_err_stem"),
        report.alias("report"),
    ]


def proposed_wikipedia_target(df: DataFrame, report_col: str = "report") -> DataFrame:
    """`current_wikipedia_target` / `desired_wikipedia_target`
    (`generate_webpage_with_error_output.py:216-234`): scan the
    proposed changes for the (at most one) replacement whose to-map
    touches the `wikipedia` tag. The reference raises ValueError on
    multiple replacements; here `assert_true` fails the job the same
    way (tested)."""
    changes = F.coalesce(
        F.col(f"{report_col}.proposed_tagging_changes"),
        F.array().cast(
            "array<struct<from:map<string,string>,to:map<string,string>>>"
        ),
    )
    wp_changes = F.filter(changes, lambda ch: ch["to"].getItem("wikipedia").isNotNull())
    guard = F.assert_true(
        F.size(wp_changes) <= 1,
        F.lit("multiple incoming replacements of the same tag"),
    )
    first = F.get(wp_changes, 0)
    return df.select(
        "*",
        F.when(guard.isNull(), first["from"].getItem("wikipedia")).alias(
            "current_wikipedia_target"
        ),
        F.when(guard.isNull(), first["to"].getItem("wikipedia")).alias(
            "desired_wikipedia_target"
        ),
    )


def _select_lists(
    inside_region_col: str | None, request_missing_tags: bool
) -> tuple[list[Column], list[Column]]:
    """(the extract select list, the one select list after the joins),
    memoized per JVM for each validate configuration."""
    cache = _expr_cache()
    key = (inside_region_col, request_missing_tags)
    if key not in cache:
        cache[key] = (
            extract_wiki_tags(),
            [
                *classify(inside_region_col, request_missing_tags),
                # P8, state-preserving (`script.py:309-313`): the row
                # survives with its error class marked region-ignored
                F.coalesce(
                    F.array_contains("ignored_problems", F.col("error_id")), F.lit(False)
                ).alias("suppressed"),
                *build_report(),
            ],
        )
    return cache[key]


def validate(
    elements: DataFrame,
    wiki: DataFrame,
    regions: DataFrame,
    inside_region_col: str | None = None,
    request_missing_tags: bool = False,
) -> DataFrame:
    """Full V1 pipeline: relevance filter → pair-coherent tag extract →
    entity joins (wp article, wd qid, redirect target, out-of-pair
    secondary wd) → region join (language, hidden, ignored problems) →
    ONE projection: cascade, ignored-problems MARK (not drop:
    suppressed rows stay in state, reference `script.py:309-313`) and
    report struct. Pure DataFrame ops; Catalyst broadcasts every dim.
    Report sinks filter on `suppressed`."""
    tag_cols, rule_cols = _select_lists(inside_region_col, request_missing_tags)
    rel = elements.filter(relevance_filter(elements))
    rdim = F.broadcast(
        regions.select(
            F.col("internal_region_name").alias("area_identifier"),
            "language_code",
            "hidden",
            "ignored_problems",
        )
    )
    joined = join_wiki_entities(rel.select("*", *tag_cols), wiki).join(
        rdim, "area_identifier", "left"
    )
    # the output column order is part of the contract (sink digests
    # hash rows in it): region key and error_id first, then the joined
    # columns as the using-joins ordered them, then the verdict
    internal = {"area_identifier", "ignored_problems", *_TAG_HELPERS}
    return joined.select("*", *rule_cols).select(
        "area_identifier",
        "error_id",
        *[c for c in joined.columns if c not in internal],
        "status",
        "suppressed",
        "osm_object_url",
        "report",
    )
