"""The validator ⇄ wiki-entity-cache boundary, made explicit.

The reference resolves wikipedia/wikidata state through per-row cached
network calls into wikibrain (`script.py:329`,
`generate_webpage_with_error_output.py` passim). This engine replaces
that with ONE dimension table joined three ways
(`operators.validator.join_wiki_entities`): on the wikipedia article,
on the wikidata qid, and on the out-of-pair secondary wikidata value.
Each redirect target's article is looked up in the same table once per
snapshot, when the validator fills its cached copy of the dim. This
module is the contract for that table —
any real backing source (a wikidata JSON dump, a WDQS extract, a
wikibrain cache export) plugs into the validator by being normalized
through :func:`build_wiki_entities_dim`.

Column contract — what a source provides, and what reads each column:

``qid`` (string)
    Join key for wikidata tags and for the secondary-existence /
    redirect-target self-lookups.
``article`` (string)
    ``lang:Title`` sitelink of the entity's home wiki; join key for
    wikipedia tags (reference resolves titles via
    ``generate_webpage_with_error_output.py:589`` wikibrain calls).
``lang`` (string)
    Language of `article`. The validator does not read it (a wikipedia
    tag's language comes from the tag); it breaks ties in
    :func:`build_wiki_entities_dim`'s one-row-per-qid dedupe.
``exists`` (boolean)
    Entity/article resolves (False → the 404 family: "wikipedia tag
    links to 404", "wikidata tag links to 404", and via the `sec`
    self-join "secondary wikidata tag links to 404").
``redirect_to`` (string, nullable)
    Target qid when the entity/article is a redirect → "wikipedia tag
    links to a redirect", "wikidata tag links to a redirect", and the
    mismatch-follow-redirect pair
    (`generate_webpage_with_error_output.py:859`); the target's
    `article` is the `to` side of a wikipedia-redirect proposed change.
``is_disambiguation`` (boolean)
    Instance-of disambiguation class → "link to a disambiguation page"
    (`generate_webpage_with_error_output.py:874`).
``instance_of`` (string)
    Entity class; membership in `error_catalog.SECONDARY_TARGETS`
    routes the ~800 "should use secondary wikipedia tag" classes, and
    the phrase dim joined in `join_wiki_entities` renders the human
    description.
``sitelinks`` (map<string,string>)
    lang → article for every wiki the entity links; feeds the
    language-preference rules (is there a sitelink in the region's
    `language_code`?), their proposed change, and the tag-completion
    families ("wikipedia from wikidata tag[, unexpected language]").

Any other source column (e.g. the synthetic generator's coordinates) is
dropped: no rule compares locations.

The deterministic synthetic generator
(`datagen.world.gen_wiki_entities` / `spark_wiki_entities`) is the
reference implementation of a source producing this contract; the
driver-gate golden `spatial_error_reports` pins the validator's output
over it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: the dim's column contract — what a real source must provide. The
#: validator reads all of it except `lang` (see the module docstring).
#: Kept in one place so the validator's malformed-input assert and any
#: normalizer agree.
CONSUMED_COLUMNS: dict[str, str] = {
    "qid": "string",
    "article": "string",
    "lang": "string",
    "exists": "boolean",
    "redirect_to": "string",
    "is_disambiguation": "boolean",
    "instance_of": "string",
    "sitelinks": "map<string,string>",
}

WIKI_DIM_SCHEMA = ", ".join(f"{c} {t}" for c, t in CONSUMED_COLUMNS.items())


def build_wiki_entities_dim(
    raw_wiki: DataFrame, column_map: dict[str, str] | None = None
) -> DataFrame:
    """Normalize a raw wiki-entity table into the validator's dim.

    - `column_map` renames source columns to contract names
      (e.g. ``{"id": "qid", "enwiki_title": "article"}``).
    - missing REQUIRED columns fail fast with the full contract in the
      message (the P11 malformed-config assert applied to this
      boundary); columns outside the contract are dropped.
    - every column is cast to its contract type (a dump with int qids
      or string booleans still normalizes).
    - exactly one row per qid, deterministically: duplicates keep the
      lexicographically-smallest (article, lang) so repeated builds —
      and therefore golden fixtures — are stable regardless of source
      ordering.

    The result is driver-side-small by design: the validator joins the
    phrase dim into it and caches that one pre-joined dim per wiki
    snapshot (`operators.validator.join_wiki_entities`), so this
    function's qid window runs once per snapshot, not once per validate.
    A source that is NOT small must be pre-filtered to the
    qids/articles referenced by the elements under validation before
    being handed here — that semi-join is the source's contract, not
    the validator's.
    """
    df = raw_wiki
    for src, dst in (column_map or {}).items():
        df = df.withColumnRenamed(src, dst)

    have = set(df.columns)
    missing = [c for c in CONSUMED_COLUMNS if c not in have]
    if missing:
        raise ValueError(
            f"wiki entity source is missing required columns {missing}; "
            f"the wiki dim contract is: {WIKI_DIM_SCHEMA}"
        )

    dim = df.select(
        *[F.col(c).cast(t).alias(c) for c, t in CONSUMED_COLUMNS.items()]
    )
    w = Window.partitionBy("qid").orderBy(
        F.asc_nulls_last("article"), F.asc_nulls_last("lang")
    )
    return (
        dim.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def assert_wiki_dim(wiki: DataFrame) -> DataFrame:
    """Cheap plan-side contract check used by the validator: all
    consumed columns present (types are the source's responsibility via
    `build_wiki_entities_dim`). Returns the input projected to the
    contract's columns, so the validator caches and broadcasts nothing
    outside it."""
    missing = [c for c in CONSUMED_COLUMNS if c not in set(wiki.columns)]
    if missing:
        raise ValueError(
            f"wiki dim is missing columns {missing} — normalize the source "
            f"with sources.wiki_dim.build_wiki_entities_dim (contract: "
            f"{WIKI_DIM_SCHEMA})"
        )
    return wiki.select(*CONSUMED_COLUMNS)


# ---------------------------------------------------------------------------
# Real-data ingestion: the public wikidata JSON dump format → dim
# ---------------------------------------------------------------------------

#: the slice of a wikidata entity document the dim consumes — everything
#: else (labels, descriptions, aliases, other claims) is column-pruned at
#: parse time by giving from_json this schema instead of inferring.
WIKIDATA_DUMP_SCHEMA = (
    "id string, type string, "
    "claims struct<"
    "P31: array<struct<mainsnak: struct<"
    "datavalue: struct<value: struct<id: string>>>>>>, "
    "sitelinks map<string,struct<site: string, title: string>>"
)

#: Q-id of "Wikimedia disambiguation page" — the P31 class the reference
#: checks for its "link to a disambiguation page" family
#: (generate_webpage_with_error_output.py:874).
DISAMBIGUATION_CLASS = "Q4167410"

#: sitelink sites that are NOT language wikipedias (their keys also end
#: in "wiki" but carry no language); excluded from the sitelinks map.
NON_WIKIPEDIA_SITES = (
    "commonswiki", "specieswiki", "metawiki", "mediawikiwiki",
    "wikidatawiki", "sourceswiki", "foundationwiki", "outreachwiki",
)


def wikidata_dump_to_dim(
    spark,
    path: str,
    preferred_langs: tuple[str, ...] = ("en",),
    instance_of_map: dict[str, str] | None = None,
    redirects_path: str | None = None,
    cache_parse: bool = True,
) -> DataFrame:
    """Parse a wikidata entity dump into the validator's dim — the
    real-data seam: `latest-all.json`-shaped input in, `validate()`-ready
    dimension out, entirely Catalyst (no Python row loop; from_json with
    an explicit pruning schema, higher-order functions over sitelinks).

    Accepted layout: the PUBLIC dump format — one entity JSON document
    per line, either bare (ndjson, what `wikibase-dump-filter` emits) or
    wrapped in the dump's one-big-array framing (`[` / `]` lines,
    trailing commas) — read as text, framing stripped, from_json'd.
    Unparsable lines and non-item entities are dropped, not errors
    (properties/lexemes share the dump).

    Field mapping (entity document → contract):
      id → qid;  sitelinks.{L}wiki.title → sitelinks[L] = "L:Title"
      (non-wikipedia sites excluded, "_" in dump lang keys → "-");
      article/lang = first `preferred_langs` sitelink, else the
      lexicographically-smallest language; claims.P31[0] → instance_of
      (optionally translated via `instance_of_map` — wikidata classes →
      the engine's instance keys, `error_catalog.instance_key`);
      P31 ∋ Q4167410 → is_disambiguation;
      presence in the dump → exists=true (a qid the elements reference
      but the dim lacks IS the 404 family, carried by the validator's
      left joins). Redirected entities are published as a separate list,
      not dump documents — pass `redirects_path` (ndjson
      {"from": qid, "to": qid}) to fill redirect_to.

    Scale note: the parse is one pass of text → from_json; the dim
    contract's pre-filter rule applies unchanged (semi-join a full dump
    to the referenced qids BEFORE handing the result to the validator,
    which caches and broadcasts it). With `redirects_path` the
    parsed projection is persisted (MEMORY_AND_DISK) by default so its
    two consumers share one parse. Cache lifecycle, honestly: the
    returned DataFrame is lazy, so this function has no point at which
    it could unpersist — the blocks live until the caller unpersists or
    the session ends, and while the MEMORY tier yields to LRU pressure,
    DISK-tier blocks do NOT (eviction only trades memory blocks to
    disk). A caller building MANY dims in one session should either
    write each result out and drop the cache
    (``spark.catalog.clearCache()`` between builds), or pass
    ``cache_parse=False`` to trade one extra dump parse for zero
    retained blocks.
    """
    line = F.regexp_replace(F.trim(F.col("value")), ",$", "")
    doc = F.from_json(line, WIKIDATA_DUMP_SCHEMA)
    items = (
        spark.read.text(path)
        .select(doc.alias("e"))
        .filter(F.col("e.id").isNotNull() & (F.col("e.type") == "item"))
        .select("e.*")
    )

    def _lang(key):
        return F.translate(F.regexp_replace(key, "wiki$", ""), "_", "-")

    wp_entries = F.filter(
        F.map_entries(F.coalesce(
            F.col("sitelinks"),
            F.from_json(F.lit("{}"), "map<string,struct<site:string,title:string>>"),
        )),
        lambda e: e["key"].endswith("wiki") & ~e["key"].isin(*NON_WIKIPEDIA_SITES),
    )
    sl = F.map_from_entries(
        F.transform(
            wp_entries,
            lambda e: F.struct(
                _lang(e["key"]).alias("key"),
                F.concat(_lang(e["key"]), F.lit(":"), e["value"]["title"]).alias("value"),
            ),
        )
    )
    p31 = F.coalesce(
        F.transform(
            F.col("claims.P31"), lambda c: c["mainsnak"]["datavalue"]["value"]["id"]
        ),
        F.array().cast("array<string>"),
    )

    parsed = items.select(
        F.col("id").alias("qid"),
        sl.alias("sitelinks"),
        F.get(p31, 0).alias("_inst_qid"),
        F.array_contains(p31, DISAMBIGUATION_CLASS).alias("is_disambiguation"),
    )
    pick = F.coalesce(
        *[F.try_element_at(F.col("sitelinks"), F.lit(l)) for l in preferred_langs],
        F.try_element_at(
            F.col("sitelinks"), F.array_min(F.map_keys(F.col("sitelinks")))
        ),
    )
    parsed = parsed.withColumn("article", pick).withColumn(
        "lang", F.split(F.col("article"), ":", 2)[0]
    )
    if instance_of_map:
        m = F.create_map(*[F.lit(x) for kv in instance_of_map.items() for x in kv])
        inst = F.coalesce(F.try_element_at(m, F.col("_inst_qid")), F.col("_inst_qid"))
    else:
        inst = F.col("_inst_qid")
    parsed = parsed.withColumn("instance_of", inst).withColumn("exists", F.lit(True))

    if redirects_path:
        red = (
            spark.read.schema("`from` string, `to` string")
            .json(redirects_path)
            .select(F.col("from").alias("qid"), F.col("to").alias("redirect_to"))
        )
        # persist the parse ONCE: both consumers below (the broadcast
        # left join and the anti-join's qid probe) otherwise re-evaluate
        # the full dump text-parse lineage — on a real latest-all.json
        # that doubles the dominant cost of the build. MEMORY_AND_DISK:
        # the parsed projection is far smaller than the raw dump but
        # need not fit in memory. Spark's per-partition cache locks
        # keep a racing fill compute-once. Retention trade-off (see
        # docstring): cache_parse=False skips the persist entirely.
        from pyspark import StorageLevel

        base = (
            parsed.persist(StorageLevel.MEMORY_AND_DISK)
            if cache_parse
            else parsed
        )
        parsed = base.join(F.broadcast(red), "qid", "left")
        # redirected entities are NOT published as dump documents — the
        # sidecar is their only record, so redirect qids absent from the
        # dump become their own dim rows: they resolve (exists=true, an
        # HTTP fetch lands on the target), carry redirect_to, and have
        # no content of their own
        extra = red.join(base.select("qid"), "qid", "left_anti").select(
            "qid",
            "redirect_to",
            F.lit(True).alias("exists"),
            F.lit(None).cast("string").alias("article"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(False).alias("is_disambiguation"),
            F.lit(None).cast("string").alias("instance_of"),
            F.from_json(F.lit("{}"), "map<string,string>").alias("sitelinks"),
        )
        parsed = parsed.unionByName(extra, allowMissingColumns=True)
    else:
        parsed = parsed.withColumn("redirect_to", F.lit(None).cast("string"))

    return build_wiki_entities_dim(parsed.drop("_inst_qid"))
