"""Seeded benchmark inputs, committed as tables before anything is timed.

Every workload reads only tables committed here through
``sources.tables.write_table``; the program never sees the generator.
The seed shifts the id range (``ids = (seed mod 2^30) * 2^32 + i``)
handed to the public ``datagen.world`` batch generators, so the same
seed always gives byte-identical rows and another seed gives other rows
with the same statistical shape (hot-city clusters, wiki-tag mix, image
formats).

Every process generates its inputs once, in its own session, between
the session start and the warm-up, so every process does the same work
whatever ran before it. Generation time is reported as
``datagen.gen_s`` and is never part of a timed metric or of ``setup_s``.
The output digests of the first process to run an input set are
recorded under ``perfbench/.state/expected`` and checked by later ones.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.sources import tables as T

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, "perfbench", ".state")
# output digests recorded per input set, checked by later processes
EXPECTED = os.path.join(STATE, "expected")

# Input sizes per preset. "default" is what BENCHMARK.json runs: a
# process (JVM start, cold warm-up, one or a few timed runs, checks) must
# fit the per-run time budget, and this program's runs cost seconds of
# fixed planning and job overhead at any size. "tiny" is the self-test.
SIZES = {
    "tiny": {
        "full_validate": {"elements": 1500, "images": 600},
        "incremental": {"base": 3000, "delta": 100, "rounds": 2},
    },
    "default": {
        "full_validate": {"elements": 1000, "images": 300},
        "incremental": {"base": 1000, "delta": 200, "rounds": 1},
    },
}

# delta mix for `incremental`: share of re-emitted existing keys (later
# timestamp), and of those the share whose tags change; the rest of a
# delta are inserts of new keys
DELTA_REEMIT = 0.6
DELTA_CHANGED = 0.5
DELTA_TS_STEP = 10_000_000  # > the generator's second-generation bump


def id_base(seed: int) -> int:
    return (seed % (1 << 30)) << 32


def data_files(path: str) -> list[str]:
    """Data files under a table or snapshot dir — Spark's checksum and
    marker files and the table's manifests excluded."""
    return [
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_")) and not f.endswith((".json", ".jsonl", ".tmp"))
    ]


def data_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under a table or snapshot dir."""
    files = data_files(path)
    return sum(os.path.getsize(f) for f in files), len(files)


def digest(df) -> list:
    """Order-insensitive content digest: [row count, xor of row hashes]."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.to_json(F.struct(*df.columns)))).alias("x"),
    ).first()
    return [int(row["n"]), int(row["x"] or 0)]


class Inputs:
    """A committed input set: table paths plus its meta record."""

    def __init__(self, path: str):
        self.path = path
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)

    def table(self, name: str) -> str:
        return os.path.join(self.path, name)

    def bytes_of(self, *names: str) -> int:
        return sum(self.meta["table_bytes"][n] for n in names)

    def expected(self, key: str, value):
        """Compare `value` with the value recorded for `key` by the first
        process that ran these inputs; record it when absent. Returns
        True when they agree (the same seed must give the same outputs
        in every process)."""
        os.makedirs(EXPECTED, exist_ok=True)
        p = os.path.join(
            EXPECTED,
            f"{self.meta['workload']}-{self.meta['size']}-s{self.meta['seed']}"
            f"-{self.meta['input_digest']}.json",
        )
        have = {}
        if os.path.exists(p):
            with open(p) as f:
                have = json.load(f)
        if key in have:
            return have[key] == value
        have[key] = value
        tmp = f"{p}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(have, f, indent=1, sort_keys=True)
        os.replace(tmp, p)
        return True


def generate(spark, workload: str, seed: int, size_name: str, path: str) -> Inputs:
    """Generate the inputs for (workload, size, seed) and commit them
    under `path`, replacing what was there."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    t0 = time.perf_counter()
    out = Committer(spark, path)
    extra = GENERATORS[workload](out, seed, SIZES[size_name][workload])
    gen_s = time.perf_counter() - t0
    names = sorted(n for n in os.listdir(path) if os.path.isdir(os.path.join(path, n)))
    table_bytes = {name: data_bytes(os.path.join(path, name))[0] for name in names}
    # the seeded rows and the committed sizes of every table; the parquet
    # bytes themselves differ from one JVM to the next (footer field order)
    out.hash.update(json.dumps(table_bytes, sort_keys=True).encode())
    meta = {"workload": workload, "seed": seed, "size": size_name, "gen_s": gen_s,
            "table_bytes": table_bytes, "input_digest": out.hash.hexdigest()[:16], **extra}
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return Inputs(path)


# ---------------------------------------------------------------------------
# generators — each commits its tables through `out` and returns extra meta
# ---------------------------------------------------------------------------

class Committer:
    """Commits the generated tables under one directory and hashes the
    seeded rows handed to it."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self.hash = hashlib.sha1()

    def frame(self, name: str, pdf: pd.DataFrame, schema: str, coalesce: bool = False) -> None:
        self.hash.update(name.encode())
        for col in pdf.columns:
            for v in pdf[col]:
                self.hash.update(v if isinstance(v, bytes) else repr(v).encode())
        df = self.spark.createDataFrame(pdf, schema)
        T.write_table(df.coalesce(1) if coalesce else df, os.path.join(self.path, name))

    def dims(self, *names: str) -> None:
        """The seed-independent dimension tables of ``datagen.world``."""
        dims = {
            "polygons": W.spark_polygons,
            "regions": W.spark_regions,
            "wiki": W.spark_wiki_entities,
            "error_catalog": W.spark_error_catalog,
        }
        for name in names:
            T.write_table(dims[name](self.spark).coalesce(1), os.path.join(self.path, name))


def _rows(gen, start: int, n: int) -> pd.DataFrame:
    """`gen(ids)` rows for ids start..start+n."""
    return gen(np.arange(start, start + n, dtype=np.int64))


def _first_gen(ids: np.ndarray) -> pd.DataFrame:
    return W.gen_elements_batch(ids).drop_duplicates(subset=["id"], keep="first")


def gen_full_validate(out: Committer, seed: int, size: dict) -> dict:
    base = id_base(seed)
    elements = _rows(W.gen_elements_batch, base, size["elements"])
    out.frame("elements", elements, W.ELEMENTS_SCHEMA)
    out.frame("images", _rows(W.gen_images_batch, base, size["images"]), W.IMAGES_SCHEMA)
    out.dims("polygons", "regions", "wiki", "error_catalog")
    return {"element_rows": len(elements)}


def _delta_pdf(seed: int, size: dict, r: int) -> pd.DataFrame:
    """Round `r`'s delta: re-emitted base keys with a later timestamp
    (half of them with another element's tags) plus inserts of new keys.
    One row per key."""
    base = id_base(seed)
    n = size["delta"]
    n_re = int(n * DELTA_REEMIT)
    rng = np.random.default_rng([seed, r])
    re_ids = base + rng.choice(size["base"], size=n_re, replace=False)
    new_ids = base + size["base"] + r * n + np.arange(n - n_re)
    re = _first_gen(re_ids).reset_index(drop=True)
    re["download_timestamp"] = re["download_timestamp"] + DELTA_TS_STEP * (r + 1)
    changed = rng.random(len(re)) < DELTA_CHANGED
    donors = _first_gen(np.roll(re_ids, 1))["tags"].tolist()
    re["tags"] = [donors[i] if changed[i] else t for i, t in enumerate(re["tags"])]
    ins = _first_gen(new_ids).copy()
    ins["download_timestamp"] = ins["download_timestamp"] + DELTA_TS_STEP * (r + 1)
    return pd.concat([re, ins], ignore_index=True)


def gen_incremental(out: Committer, seed: int, size: dict) -> dict:
    out.frame("base", _rows(W.gen_elements_batch, id_base(seed), size["base"]), W.ELEMENTS_SCHEMA)
    out.dims("regions", "wiki")
    delta_rows, delta_max_ts = [], []
    for r in range(size["rounds"]):
        pdf = _delta_pdf(seed, size, r)
        delta_rows.append(len(pdf))
        delta_max_ts.append(int(pdf["download_timestamp"].max()))
        out.frame(f"delta-{r}", pdf, W.ELEMENTS_SCHEMA, coalesce=True)
    return {"delta_rows": delta_rows, "delta_max_ts": delta_max_ts}


GENERATORS = {
    "full_validate": gen_full_validate,
    "incremental": gen_incremental,
}
