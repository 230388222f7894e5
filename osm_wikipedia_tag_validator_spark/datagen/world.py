"""Deterministic synthetic world: images + elements + regions/polygons +
wiki entities + error catalog.

Mirrors the reference's data model (SURVEY.md §1, FIXTURES.md):
  * `elements`  ↔ reference `osm_data` (`database.py:15-16`): point
    lat/lon per element (way/relation get a center like
    `load_osm_file.py:64-68`), native map tags instead of the JSON
    string of `load_osm_file.py:41`, two snapshot generations per ~20%
    of keys to exercise the upsert dedup (`load_osm_file.py:27-40`).
  * `regions` / `polygons` ↔ `regions_processed.yaml` config +
    real geometry replacing hardcoded bboxes
    (`osm_editor_bot_for_approved_tasks.py:222-298`).
  * `wiki_entities` ↔ the networked Wikipedia/Wikidata cache
    (`script.py:116,329`) as a joinable dim table.
  * `images` — the BASELINE.json input_hint table
    (image_id, bytes, w, h, fmt, caption, phash), one per element id.

Every row is a pure function of its id via splitmix64, so generation is
embarrassingly parallel and identical regardless of partitioning — the
Spark wrappers use `spark.range(n).mapInPandas(...)`, which is also how
the 10^12-row table would be materialized on a real cluster.

All geometry coordinates are exact decimals (multiples of 1e-6 degree)
so fixture comparison is bit-stable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.hashing import hash2, splitmix64, u01
from .codecs import dct8_encode_batch, fake_jpeg_encode_batch, png_encode_batch
from ..functions.imagefns import ahash64_batch
from ..operators.validator import KNOWN_WIKIPEDIA_LANGS, LANG_CODE_REDIRECTS

SEED = 20260816

WORLD = dict(lon_min=-20.0, lat_min=-10.0, lon_max=40.0, lat_max=30.0)

# Hot "city" clusters (~50% of elements): skewed grid cells for the PIP join.
CLUSTERS = [
    (-10.0, 2.0, 0.25),  # inside alpha
    (8.0, 12.0, 0.25),  # inside beta
    (26.0, 6.0, 0.25),  # inside gamma (outside its hole)
]

# mirrors the engine's canonical language list (validator owns it)
LANGS = list(KNOWN_WIKIPEDIA_LANGS)
WIKI_KEYS = [
    "wikipedia",
    "wikidata",
    "brand:wikipedia",
    "subject:wikidata",
    "name:etymology:wikidata",
]

# secondary-key prefixes exercised by datagen — a sample spanning every
# routing tier of `error_catalog.PREFIXED_VARIANTS` (review / tests /
# ignored, plus obvious via the follow-redirect variants)
PREFIX_SAMPLE = [
    "architect", "artist", "operator", "species", "subject", "taxon",  # review
    "sculptor", "bridge", "network:2", "artwork_subject",  # tests
    "brand", "related", "object", "organ", "disused:operator",  # ignored
    "healthcare:speciality",  # ignored
]

# wikidata instance-of classes datagen assigns — covers a slice of
# every `error_catalog.SECONDARY_TARGETS` tier (key = phrase minus its
# leading article, `error_catalog.instance_key`); 'place'/'generic'
# draw no secondary-class complaint
CLASS_POOL = [
    # review tier (legacy short keys first — aliases in the validator)
    "human", "brand", "battle", "given name", "taxon", "event",
    "film", "profession", "website", "sport", "human language",
    "chain store", "podcast",
    # tests tier
    "science", "belief", "human behavior", "form of art",
    "aircraft crash", "signage", "lost work", "superstitution",
    "emergency service", "volunteer", "television station",
    # ignored tier
    "festival", "radio station", "genre", "research", "art genre",
    "social movement",
]

N_ENTITIES = 2000

def gen_error_catalog() -> pd.DataFrame:
    """The routing catalog dim table, generated from the validator's
    single-source rule table (`operators/validator.py::catalog_rows`) —
    the engine's analog of the reference's programmatic routing-list
    builders (`generate_webpage_with_error_output.py:277-1081`: lower
    priority wins, mirroring "most important problem" selection)."""
    from ..operators.validator import catalog_rows

    return pd.DataFrame(
        [
            {"error_id": e, "category": c, "priority": p, "rule_family": fam}
            for (e, c, p, fam) in catalog_rows()
        ]
    )


def gen_regions() -> pd.DataFrame:
    rows = [
        # internal_region_name, title, language_code, merged_into, ignored, mult, hidden
        ("alpha", "Alpha", "en", [], [], 1.0, False),
        ("beta", "Beta", "de", [], [], 2.0, False),
        ("gamma", "Gamma", "pl", [], [], 1.0, False),
        ("delta", "Delta", "en", [], ["wikipedia tag links to 404"], 0.5, False),
        ("epsilon", "Epsilon", "fr", [], [], 1.0, True),
        ("zeta-north", "Zeta North", "es", ["zeta"], [], 1.0, False),
        ("zeta-south", "Zeta South", "es", ["zeta"], [], 1.0, False),
    ]
    return pd.DataFrame(
        rows,
        columns=[
            "internal_region_name",
            "website_main_title_part",
            "language_code",
            "merged_into",
            "ignored_problems",
            "priority_multiplier",
            "hidden",
        ],
    )


def _ring(coords: list[tuple[float, float]]) -> list[dict]:
    return [{"lon": float(lo), "lat": float(la)} for lo, la in coords]


def gen_polygons() -> pd.DataFrame:
    """Region geometries. rings[0] = shell, rings[1:] = holes.

    Includes a concave polygon (beta), a polygon with a hole (gamma),
    and vertices at exact decimals so on-edge fixture points are stable.
    """
    rows = []

    def add(region, pid, rings):
        rows.append({"region": region, "polygon_id": pid, "rings": rings})

    # alpha: plain square
    add("alpha", "alpha-0", [_ring([(-18, -8), (-2, -8), (-2, 8), (-18, 8), (-18, -8)])])
    # beta: concave L-shape
    add(
        "beta",
        "beta-0",
        [_ring([(0, 8), (16, 8), (16, 20), (10, 20), (10, 12), (0, 12), (0, 8)])],
    )
    # gamma: square with a square hole
    add(
        "gamma",
        "gamma-0",
        [
            _ring([(20, 0), (36, 0), (36, 12), (20, 12), (20, 0)]),
            _ring([(30, 8), (34, 8), (34, 11), (30, 11), (30, 8)]),  # hole
        ],
    )
    # delta: two disjoint polygons (multi-polygon region)
    add("delta", "delta-0", [_ring([(-18, 12), (-10, 12), (-10, 20), (-18, 20), (-18, 12)])])
    add("delta", "delta-1", [_ring([(-8, 12), (-2, 12), (-2, 20), (-8, 20), (-8, 12)])])
    # epsilon (hidden region still has geometry)
    add("epsilon", "epsilon-0", [_ring([(20, 16), (30, 16), (30, 24), (20, 24), (20, 16)])])
    # zeta north/south share a border at lat=26 (cross-border elements)
    add("zeta-north", "zeta-north-0", [_ring([(0, 26), (12, 26), (12, 29), (0, 29), (0, 26)])])
    add("zeta-south", "zeta-south-0", [_ring([(0, 22), (12, 22), (12, 26), (0, 26), (0, 22)])])
    return pd.DataFrame(rows)


def _quantize(v: np.ndarray) -> np.ndarray:
    """Exact 1e-6-degree decimals for bit-stable fixtures."""
    return np.round(np.asarray(v, dtype=np.float64), 6)


def _region_of_points(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Assign area_identifier at generation time (bbox-level, like the
    reference's "region the data was downloaded for"). Exact containment
    is recomputed by the engine; deliberately uses shells' bboxes only,
    so gamma-hole points and beta-notch points get a declared region the
    exact PIP will contradict → 'element outside declared region'."""
    from ..functions.geometry import ring_bbox

    polys = gen_polygons()
    out = np.array(["unassigned"] * len(lon), dtype=object)
    assigned = np.zeros(len(lon), dtype=bool)
    for _, row in polys.iterrows():
        shell = np.array([[p["lon"], p["lat"]] for p in row["rings"][0]])
        x0, y0, x1, y1 = ring_bbox(shell)
        hit = (~assigned) & (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
        out[hit] = row["region"]
        assigned |= hit
    return out


def gen_elements_batch(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic element rows for the given ids (vectorized).

    ~20% of ids also emit a second, newer snapshot row (same key,
    higher download_timestamp, possibly changed wiki tag) so W1/J2
    upsert-dedup semantics are exercised (`load_osm_file.py:27-40`).
    """
    ids = np.asarray(ids, dtype=np.int64)
    h = splitmix64(ids.astype(np.uint64) + np.uint64(SEED))

    type_r = u01(hash2(h, 1))
    etype = np.where(type_r < 0.7, "node", np.where(type_r < 0.9, "way", "relation"))

    # location: 50% clustered (skew), 50% uniform
    in_cluster = u01(hash2(h, 2)) < 0.5
    cidx = (u01(hash2(h, 3)) * len(CLUSTERS)).astype(np.int64)
    ccx = np.array([c[0] for c in CLUSTERS])[cidx]
    ccy = np.array([c[1] for c in CLUSTERS])[cidx]
    csd = np.array([c[2] for c in CLUSTERS])[cidx]
    # Box-Muller from two hash-uniforms (deterministic "gaussian")
    u1 = np.clip(u01(hash2(h, 4)), 1e-12, 1 - 1e-12)
    u2 = u01(hash2(h, 5))
    g1 = np.sqrt(-2 * np.log(u1)) * np.cos(2 * np.pi * u2)
    g2 = np.sqrt(-2 * np.log(u1)) * np.sin(2 * np.pi * u2)
    lon_c = ccx + g1 * csd
    lat_c = ccy + g2 * csd
    lon_u = WORLD["lon_min"] + u01(hash2(h, 6)) * (WORLD["lon_max"] - WORLD["lon_min"])
    lat_u = WORLD["lat_min"] + u01(hash2(h, 7)) * (WORLD["lat_max"] - WORLD["lat_min"])
    lon = _quantize(np.where(in_cluster, lon_c, lon_u))
    lat = _quantize(np.where(in_cluster, lat_c, lat_u))

    area = _region_of_points(lon, lat)

    # tags
    wiki_tagged = u01(hash2(h, 8)) < 0.8
    key_idx = (u01(hash2(h, 9)) * len(WIKI_KEYS)).astype(np.int64)
    ent = (u01(hash2(h, 10)) * N_ENTITIES).astype(np.int64)
    lang_idx = (u01(hash2(h, 11)) * len(LANGS)).astype(np.int64)
    malformed = u01(hash2(h, 12)) < 0.05
    both_tags = u01(hash2(h, 13)) < 0.15  # wikipedia AND wikidata
    mismatch = u01(hash2(h, 14)) < 0.3  # of those, point at different entities
    old_style = u01(hash2(h, 18)) < 0.04  # wikipedia:<lang>=Article (invalid old form)
    # language-code defects on the wikipedia value ('wikipedia tag using
    # redirecting language code' / 'malformed wikipedia tag -
    # nonexisting language code')
    lang_bad = u01(hash2(h, 19))
    alias_codes = list(LANG_CODE_REDIRECTS)
    alias_idx = (u01(hash2(h, 20)) * len(alias_codes)).astype(np.int64)

    ts = np.int64(1_700_000_000) + (splitmix64(hash2(h, 15)) % np.uint64(900_000)).astype(
        np.int64
    )
    second_gen = u01(hash2(h, 16)) < 0.2

    langs = np.array(LANGS, dtype=object)[lang_idx]
    keys = np.array(WIKI_KEYS, dtype=object)[key_idx]
    # ~15% of wiki-tagged elements carry a PREFIXED pair
    # (`<prefix>:wikipedia` / `<prefix>:wikidata`) instead of plain
    # keys — exercises the reference's "- for {prefix} prefixed tags"
    # generated id families across all routing tiers
    prefixed = u01(hash2(h, 21)) < 0.15
    prefix_idx = (u01(hash2(h, 22)) * len(PREFIX_SAMPLE)).astype(np.int64)
    prefixes = np.array(PREFIX_SAMPLE, dtype=object)[prefix_idx]
    # ~6% carry an extra out-of-pair secondary wikidata key on top of a
    # plain pair (checked for malformed shape / 404 only)
    extra_sec = u01(hash2(h, 23)) < 0.06
    extra_idx = (u01(hash2(h, 24)) * len(PREFIX_SAMPLE)).astype(np.int64)
    extra_prefixes = np.array(PREFIX_SAMPLE, dtype=object)[extra_idx]
    extra_bad = u01(hash2(h, 25))
    # ~3% are information boards (tourism=information + information=
    # board) — plain wiki keys there should be subject:* instead
    info_board = u01(hash2(h, 26)) < 0.03
    # ~2% carry a human fixme:wikipedia marker
    fixme = u01(hash2(h, 27)) < 0.02
    # of bridge-prefixed elements, ~40% ARE the bridge outline
    # (man_made=bridge) — the rest draw the move-to-outline complaint
    bridge_outline = u01(hash2(h, 28)) < 0.4

    def tag_rows(gen: int):
        rows = []
        for i in range(len(ids)):
            tags = {"name": f"Feature {int(ids[i])}"}
            if wiki_tagged[i]:
                k = keys[i]
                wd_key = "wikidata"
                if prefixed[i] and not old_style[i]:
                    p = prefixes[i]
                    k = f"{p}:wikidata" if "wikidata" in k else f"{p}:wikipedia"
                    wd_key = f"{p}:wikidata"
                e = int(ent[i]) if gen == 0 else (int(ent[i]) + 1) % N_ENTITIES
                if old_style[i]:
                    # reference 'invalid old-style wikipedia tag':
                    # wikipedia:<lang>=Article instead of wikipedia=<lang>:Article
                    tags[f"wikipedia:{langs[i]}"] = f"Article{e}"
                elif "wikidata" in k:
                    val = f"Q{e}" if not malformed[i] else f"wd-{e}"
                    tags[k] = val
                else:
                    use_lang = langs[i]
                    if lang_bad[i] < 0.02:
                        use_lang = alias_codes[int(alias_idx[i])]
                    elif lang_bad[i] < 0.035:
                        use_lang = "xx"  # nonexisting wikipedia language
                    val = f"{use_lang}:Article{e}" if not malformed[i] else f"Article{e}"
                    tags[k] = val
                if both_tags[i] and not old_style[i] and "wikidata" not in k:
                    e2 = e if not mismatch[i] else (e + 7) % N_ENTITIES
                    tags[wd_key] = f"Q{e2}"
                if extra_sec[i] and not prefixed[i] and not old_style[i]:
                    e3 = (int(ent[i]) + 3) % N_ENTITIES
                    sec_val = f"Q{e3}" if extra_bad[i] > 0.3 else f"bad-{e3}"
                    tags[f"{extra_prefixes[i]}:wikidata"] = sec_val
                if info_board[i]:
                    tags["tourism"] = "information"
                    tags["information"] = "board"
                if prefixed[i] and prefixes[i] == "bridge" and bridge_outline[i]:
                    tags["man_made"] = "bridge"
                if fixme[i]:
                    tags["fixme:wikipedia"] = "check me"
            rows.append(tags)
        return rows

    # member points for ways/relations: 4 points around center, ~10%
    # have one point pushed far outside (fails all-inside containment,
    # `osm_editor_bot_for_approved_tasks.py:188-196`)
    is_multi = etype != "node"
    far = u01(hash2(h, 17)) < 0.1
    mp_lon = np.stack(
        [_quantize(lon + (u01(hash2(h, 100 + j)) - 0.5) * 0.1) for j in range(4)], axis=1
    )
    mp_lat = np.stack(
        [_quantize(lat + (u01(hash2(h, 200 + j)) - 0.5) * 0.1) for j in range(4)], axis=1
    )
    mp_lon[far, 0] = lon[far] + 50.0
    mp_lat[far, 0] = lat[far]
    member_points = [
        [
            {"lon": float(mp_lon[i, j]), "lat": float(mp_lat[i, j])}
            for j in range(4)
        ]
        if is_multi[i]
        else None
        for i in range(len(ids))
    ]

    base = pd.DataFrame(
        {
            "type": etype,
            "id": ids,
            "lat": lat,
            "lon": lon,
            "tags": tag_rows(0),
            "area_identifier": area,
            "download_timestamp": ts,
            "member_points": member_points,
        }
    )
    upd = base[second_gen].copy()
    if len(upd):
        gen1 = tag_rows(1)
        upd["tags"] = [gen1[i] for i in np.where(second_gen)[0]]
        upd["download_timestamp"] = upd["download_timestamp"] + 1_000_000
    out = pd.concat([base, upd], ignore_index=True)
    return out


def gen_wiki_entities(n: int = N_ENTITIES) -> pd.DataFrame:
    ids = np.arange(n, dtype=np.int64)
    h = splitmix64(ids.astype(np.uint64) + np.uint64(SEED * 3 + 1))
    lang = np.array(LANGS, dtype=object)[(u01(hash2(h, 1)) * len(LANGS)).astype(np.int64)]
    redirect = u01(hash2(h, 2)) < 0.05
    disambig = (~redirect) & (u01(hash2(h, 3)) < 0.05)
    exists = u01(hash2(h, 4)) >= 0.08
    inst_r = u01(hash2(h, 5))
    # class spread covers a slice of every secondary-class routing tier
    # (CLASS_POOL, keyed per `error_catalog.instance_key` /
    # LEGACY_INSTANCE_ALIASES) plus place/generic (no error). First 36%
    # spreads uniformly over the pool; heavier mass on the first two
    # legacy classes keeps the historical human/brand share.
    pool_idx = np.minimum(
        (inst_r / 0.36 * len(CLASS_POOL)).astype(np.int64), len(CLASS_POOL) - 1
    )
    instance_of = np.select(
        [inst_r < 0.06, inst_r < 0.11, inst_r < 0.36, inst_r < 0.7],
        ["human", "brand",
         np.array(CLASS_POOL, dtype=object)[pool_idx], "place"],
        default="generic",
    ).astype(object)
    lon = _quantize(WORLD["lon_min"] + u01(hash2(h, 6)) * (WORLD["lon_max"] - WORLD["lon_min"]))
    lat = _quantize(WORLD["lat_min"] + u01(hash2(h, 7)) * (WORLD["lat_max"] - WORLD["lat_min"]))
    has_coord = u01(hash2(h, 8)) < 0.7
    # sitelinks: the article in its own language, plus (~60%) a second
    # language's sitelink — what the language-preference rules probe
    lang2_idx = (u01(hash2(h, 9)) * len(LANGS)).astype(np.int64)
    has_lang2 = u01(hash2(h, 10)) < 0.6
    sitelinks = []
    for i in range(n):
        sl = {str(lang[i]): f"{lang[i]}:Article{i}"}
        l2 = LANGS[int(lang2_idx[i])]
        if has_lang2[i] and l2 != lang[i]:
            sl[l2] = f"{l2}:Article{i}"
        sitelinks.append(sl)
    return pd.DataFrame(
        {
            "qid": [f"Q{i}" for i in ids],
            "article": [f"{lang[i]}:Article{i}" for i in range(n)],
            "lang": lang,
            "redirect_to": [f"Q{(i + 13) % n}" if redirect[i] else None for i in range(n)],
            "is_disambiguation": disambig,
            "exists": exists,
            "instance_of": instance_of,
            "lat": np.where(has_coord, lat, np.nan),
            "lon": np.where(has_coord, lon, np.nan),
            "has_coord": has_coord,
            "sitelinks": sitelinks,
        }
    )


# ---------------------------------------------------------------------------
# images (input_hint table)
# ---------------------------------------------------------------------------

_SIZES = [16, 32, 64]


def image_id_for(eid: int) -> str:
    return f"img-{int(eid):09d}"


def expected_captions(image_ids: list[str]) -> list[str]:
    """The reference caption is a pure function of image_id: re-derive
    the element id, regenerate its tags with the seeded generator, and
    return the wiki-tag payload — the byte-exact ground truth for
    `verify_invariants(caption_fn=...)`."""
    eids = np.array([int(s.split("-")[-1]) for s in image_ids], dtype=np.int64)
    els = gen_elements_batch(eids).drop_duplicates(subset=["id"], keep="first")
    tags_by_id = dict(zip(els["id"].to_numpy(), els["tags"]))
    out = []
    for eid in eids:
        tags = tags_by_id[int(eid)]
        caption = ""
        for k in WIKI_KEYS:
            if k in tags:
                caption = tags[k]
                break
        out.append(caption)
    return out


def _image_meta(ids: np.ndarray):
    """Per-id deterministic image metadata: (hash, width, height, fmt).
    40% lossless PNG / 30% REAL lossy DCT (dct8, genuine transform-
    quantization error) / 30% fake-JPEG (documented libjpeg stand-in)."""
    ids = np.asarray(ids, dtype=np.int64)
    h = splitmix64(ids.astype(np.uint64) + np.uint64(SEED * 7 + 5))
    wsel = np.array(_SIZES)[(u01(hash2(h, 1)) * 3).astype(np.int64)]
    hsel = np.array(_SIZES)[(u01(hash2(h, 2)) * 3).astype(np.int64)]
    fsel = u01(hash2(h, 3))
    fmt = np.select([fsel < 0.4, fsel < 0.7], ["png", "dct8"], default="jpeg")
    return h, wsel, hsel, fmt


def _image_base(ht: int, w: int) -> np.ndarray:
    # float32 end-to-end: the gradient lives in [0, 382] where float32
    # is exact to ~1e-5 — and the hot loop moves half the bytes of the
    # former float64 path
    gy = np.arange(ht, dtype=np.float32)[:, None]
    gx = np.arange(w, dtype=np.float32)[None, :]
    return (
        gy * np.float32(255 / max(ht - 1, 1)) + gx * np.float32(255 / max(w - 1, 1))
    ) * np.float32(0.5)


_CH_SCALE = np.array([1.0, 0.5, 1.5], dtype=np.float32)
_BASE_Q_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _build_imgs(ht: int, w: int, hh: np.ndarray) -> np.ndarray:
    """All images of one (h, w) size as a single (n, h, w, 3) uint8 op.

    The per-channel scaled gradient is quantized ONCE per size —
    ⌊base·scale⌋ mod 256 as uint8 — and each image is then a single
    uint8 broadcast add (natural mod-256 wraparound) of its
    hash-derived channel offsets: for integer offsets o,
    ⌊(b+o) mod 256⌋ = (⌊b⌋+o) mod 256, so the add never touches
    floats. The hot loop moves exactly n·h·w·3 bytes in and out."""
    key = (ht, w)
    if key not in _BASE_Q_CACHE:
        base = _image_base(ht, w)  # (ht, w) float32
        _BASE_Q_CACHE[key] = (
            np.floor(base[:, :, None] * _CH_SCALE[None, None, :]).astype(np.int64)
            % 256
        ).astype(np.uint8)
    base_q = _BASE_Q_CACHE[key]  # (ht, w, 3) uint8
    offs = np.stack(
        [hh & 0xFF, (hh >> 8) & 0xFF, (hh >> 16) & 0xFF], axis=1
    ).astype(np.uint8)  # (n, 3)
    return base_q[None, :, :, :] + offs[:, None, None, :]


def _captions_for(ids: np.ndarray, elements: pd.DataFrame | None) -> list[str]:
    if elements is None:
        elements = gen_elements_batch(ids)
    # keep only first generation per id for caption linkage
    first_gen = elements.drop_duplicates(subset=["id"], keep="first")
    tags_by_id = dict(zip(first_gen["id"].to_numpy(), first_gen["tags"]))
    out = []
    for eid in ids:
        tags = tags_by_id[int(eid)]
        caption = ""
        for k in WIKI_KEYS:
            if k in tags:
                caption = tags[k]
                break
        out.append(caption)
    return out


def gen_image_pixel_rows(
    ids: np.ndarray, elements: pd.DataFrame | None = None
) -> list[tuple[int, np.ndarray, str, str]]:
    """The PIXEL layer of the image source: per id → (id, uint8 pixel
    array, caption, fmt) — the same pixels gen_images_batch encodes
    into bytes, before any codec loss. Independent checks compare
    decoded images against it."""
    ids = np.asarray(ids, dtype=np.int64)
    h, wsel, hsel, fmt = _image_meta(ids)
    captions = _captions_for(ids, elements)
    imgs: list[np.ndarray | None] = [None] * len(ids)
    for ht, w in {(int(a), int(b)) for a, b in zip(hsel, wsel)}:
        idx = np.where((hsel == ht) & (wsel == w))[0]
        stack = _build_imgs(ht, w, h[idx])
        for j, i in enumerate(idx):
            imgs[i] = stack[j]
    return [
        (int(eid), imgs[i], captions[i], str(fmt[i]))
        for i, eid in enumerate(ids)
    ]


def gen_images_batch(ids: np.ndarray, elements: pd.DataFrame | None = None) -> pd.DataFrame:
    """One image row per element id: deterministic gradient + hash noise,
    PNG (lossless), dct8 (real lossy) or fake-JPEG, caption = the
    element's wiki tag payload, phash = aHash of the DECODED pixels.

    Grouped-vectorized: images are generated, encoded and hashed one
    (size, fmt) GROUP at a time (9 sizes × 3 fmts), so the per-image
    Python/numpy call overhead that dominates at 16–64 px amortizes
    across the group — the batch codec paths are byte-identical to the
    per-image ones (test_codecs) and `phash` stays the aHash of the
    DECODED pixels (batch encoders return them: identity for png, the
    quantized plane for fake-jpeg, the in-memory reconstruction for
    dct8)."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    h, wsel, hsel, fmt = _image_meta(ids)
    captions = _captions_for(ids, elements)
    bytes_out: list[bytes | None] = [None] * n
    phash_out = np.zeros(n, dtype=np.int64)
    for ht, w in {(int(a), int(b)) for a, b in zip(hsel, wsel)}:
        size_mask = (hsel == ht) & (wsel == w)
        for f in ("png", "jpeg", "dct8"):
            idx = np.where(size_mask & (fmt == f))[0]
            if len(idx) == 0:
                continue
            stack = _build_imgs(ht, w, h[idx])
            if f == "png":
                datas, decoded = png_encode_batch(stack), stack
            elif f == "jpeg":
                datas, decoded = fake_jpeg_encode_batch(stack)
            else:
                datas, decoded = dct8_encode_batch(stack)
            phash_out[idx] = ahash64_batch(decoded)
            for j, i in enumerate(idx):
                bytes_out[i] = datas[j]
    return pd.DataFrame(
        {
            "image_id": [image_id_for(e) for e in ids],
            "bytes": bytes_out,
            "w": wsel.astype(np.int32),
            "h": hsel.astype(np.int32),
            "fmt": fmt,
            "caption": captions,
            "phash": phash_out,
        }
    )


# ---------------------------------------------------------------------------
# Spark wrappers — distributed datagen via mapInPandas
# ---------------------------------------------------------------------------

ELEMENTS_SCHEMA = (
    "type string, id long, lat double, lon double, tags map<string,string>, "
    "area_identifier string, download_timestamp long, "
    "member_points array<struct<lon:double,lat:double>>"
)

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)

POLYGONS_SCHEMA = "region string, polygon_id string, rings array<array<struct<lon:double,lat:double>>>"

REGIONS_SCHEMA = (
    "internal_region_name string, website_main_title_part string, language_code string, "
    "merged_into array<string>, ignored_problems array<string>, "
    "priority_multiplier double, hidden boolean"
)

WIKI_SCHEMA = (
    "qid string, article string, lang string, redirect_to string, "
    "is_disambiguation boolean, exists boolean, instance_of string, "
    "lat double, lon double, has_coord boolean, "
    "sitelinks map<string,string>"
)


def _id_range(spark, n: int):
    # 4 slices per core: stragglers rebalance without a shuffle
    parts = max(spark.sparkContext.defaultParallelism, 8) * 4
    return spark.range(n, numPartitions=min(parts, max(n // 1000, 1)))


def spark_elements(spark, n: int):
    return _id_range(spark, n).mapInPandas(
        lambda it: (gen_elements_batch(p["id"].to_numpy()) for p in it), ELEMENTS_SCHEMA
    )


def spark_images(spark, n: int):
    return _id_range(spark, n).mapInPandas(
        lambda it: (gen_images_batch(p["id"].to_numpy()) for p in it), IMAGES_SCHEMA
    )


IMAGES_LOCATED_SCHEMA = IMAGES_SCHEMA + ", lon double, lat double"


def gen_images_located_batch(ids: np.ndarray) -> pd.DataFrame:
    """Denormalized ingest: image rows co-generated with their element's
    location. At 10^12 scale images and elements are bucketed on the
    element key so the lineage join is co-located (shuffle-free); the
    synthetic source realizes the same physical property by emitting the
    joined row directly."""
    els = gen_elements_batch(ids).drop_duplicates(subset=["id"], keep="first")
    imgs = gen_images_batch(ids, elements=els)
    pos = dict(zip(els["id"].to_numpy(), zip(els["lon"], els["lat"])))
    lonlat = np.array([pos[int(i)] for i in ids], dtype=np.float64)
    imgs["lon"] = lonlat[:, 0]
    imgs["lat"] = lonlat[:, 1]
    return imgs


def spark_images_located(spark, n: int):
    return _id_range(spark, n).mapInPandas(
        lambda it: (gen_images_located_batch(p["id"].to_numpy()) for p in it),
        IMAGES_LOCATED_SCHEMA,
    )


# Dim constructors hand a pandas frame + explicit schema to
# createDataFrame: the plan becomes a driver-local LocalTableScan
# (values inlined, broadcast builds run no job) instead of a pickled
# ExistingRDD whose every broadcast re-scan launches a Python task —
# the validated plan carries 11 dim scans, so this removes 11 small
# jobs per flagship action. Verified value- and null-identical to the
# tuple path (NaN → NULL included).

def spark_polygons(spark):
    pdf = gen_polygons()
    pdf = pd.DataFrame(
        {
            "region": pdf["region"],
            "polygon_id": pdf["polygon_id"],
            "rings": [
                [[(p["lon"], p["lat"]) for p in ring] for ring in rings]
                for rings in pdf["rings"]
            ],
        }
    )
    return spark.createDataFrame(pdf, POLYGONS_SCHEMA)


def spark_regions(spark):
    return spark.createDataFrame(gen_regions(), REGIONS_SCHEMA)


def spark_wiki_entities(spark, n: int = N_ENTITIES):
    pdf = gen_wiki_entities(n)
    # nullable Float64: no-coord rows become SQL NULLs on BOTH the
    # Arrow and the row-based fallback conversion path (a raw float64
    # NaN is only nulled by the Arrow path)
    for c in ("lat", "lon"):
        pdf[c] = pdf[c].astype("Float64")
    return spark.createDataFrame(pdf, WIKI_SCHEMA)


def spark_error_catalog(spark):
    return spark.createDataFrame(gen_error_catalog())
