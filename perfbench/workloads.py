"""The benchmark workloads.

Each workload reads only committed input tables, calls the program
through its public module functions, and writes its sinks with
``tables.write_table``. A workload is driven in steps: ``step`` is the
timed unit (one run; one round for ``incremental``), ``after_step`` is
the untimed per-step check (output digests must repeat exactly, step
after step and process after process), and ``check`` holds the
independent correctness checks, made once on the last step's outputs.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.datagen.codecs import (
    LOSSY_FMTS,
    decode_image,
    encode_image,
    psnr,
)
from osm_wikipedia_tag_validator_spark.functions import geometry as G
from osm_wikipedia_tag_validator_spark.functions.imagefns import ahash64
from osm_wikipedia_tag_validator_spark.operators import images_ops as IO
from osm_wikipedia_tag_validator_spark.plans import incremental as INC
from osm_wikipedia_tag_validator_spark.plans import pipeline as P
from osm_wikipedia_tag_validator_spark.sources import tables as T
from osm_wikipedia_tag_validator_spark.sources import wiki_dim as WD
from osm_wikipedia_tag_validator_spark.streaming import checkpoint as CK

from .inputs import data_bytes, digest
from .tracing import invariant_ok

TILE_Z = 8
SAMPLE_MOD = 72  # independent checks look at ids with id % SAMPLE_MOD == 0


def brute_force_region(polygons, lon: np.ndarray, lat: np.ndarray) -> list:
    """Region of the lowest polygon_id containing each point (on-edge
    inside), or None — the containment contract of
    ``point_in_polygon_tag``, computed directly with
    ``functions.geometry``."""
    pdf = polygons.toPandas().sort_values("polygon_id", ascending=False)
    out = [None] * len(lon)
    for region, rings in zip(pdf["region"], pdf["rings"]):  # lowest id written last
        rings = [np.array([[p["lon"], p["lat"]] for p in ring]) for ring in rings]
        for i in np.nonzero(G.points_in_polygon(lon, lat, rings))[0]:
            out[i] = region
    return out


class Workload:
    item = "items"
    rounds = 1  # timed runs per pass
    round = 0  # round index of the next run within its pass

    def __init__(self, spark, inputs, size: dict, out_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.size = size
        self.out_dir = out_dir
        self.ref: dict = {}  # digests of the first step in this process
        self.failures: list[str] = []

    def read(self, name: str):
        return T.read_table(self.spark, self.inputs.table(name))

    def same_as_reference(self, key: str, value) -> bool:
        """`value` must equal the first step's in this process and the
        value recorded by earlier processes for the same inputs."""
        if key not in self.ref:
            self.ref[key] = value
            ok = self.inputs.expected(key, value)
        else:
            ok = self.ref[key] == value
        if not ok:
            self.failures.append(f"{key}: {value} != reference")
        return ok

    def close(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


class FullValidate(Workload):
    """One full round over a committed snapshot: upsert → spatial join →
    validator, then three sinks written concurrently — error reports,
    region rollup and image tile assignments (elements' lineage joined
    onto images). The image invariant pass (decode, re-encode, PSNR,
    phash, caption) runs once per traced process, outside the timed
    runs (``image_pass``)."""

    item = "elements"
    SINKS = ("reports", "rollup", "tiles")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.validated = None
        self.last_run: int | None = None
        self.image_checks: tuple[int, int] | None = None  # (images, failed)

    def run_dir(self, run: int) -> str:
        return os.path.join(self.out_dir, f"run-{run}")

    def warm_up(self) -> None:
        """One untimed run (outputs unchecked; the timed runs' are)."""
        self.step(0)
        self.last_run = 0

    def step(self, run: int) -> int:
        # drop the previous run's cached elements first: an identical plan
        # still in the cache would be reused and this run would skip the
        # upsert, the spatial join and the validator
        if self.validated is not None:
            self.validated.unpersist()
        inputs = {
            "elements": self.read("elements"),
            "images": self.read("images"),
            "polygons": self.read("polygons"),
            "regions": self.read("regions"),
            "wiki": WD.build_wiki_entities_dim(self.read("wiki")),
            "error_catalog": self.read("error_catalog"),
        }
        validated = P.validated_elements(inputs).cache()
        out = self.run_dir(run)
        P.materialize_concurrently(
            {
                "reports": P.error_reports(validated, inputs["regions"]),
                "rollup": P.region_rollup(validated, inputs["regions"], inputs["error_catalog"]),
                "tiles": P.image_tile_assignments(
                    inputs["images"], validated, inputs["polygons"], z=TILE_Z
                ),
            },
            action=lambda name, df: T.write_table(df, os.path.join(out, name)),
        )
        self.validated = validated  # the checks sample the last run's
        return self.inputs.meta["element_rows"]

    def input_bytes(self) -> int:
        return self.inputs.bytes_of(
            "elements", "images", "polygons", "regions", "wiki", "error_catalog"
        )

    def after_step(self, run: int) -> tuple[bool, int]:
        out = self.run_dir(run)
        ok = True
        for sink in self.SINKS:
            d = digest(T.read_table(self.spark, os.path.join(out, sink)))
            ok &= self.same_as_reference(f"{sink}_digest", d)
        if self.last_run is not None:
            shutil.rmtree(self.run_dir(self.last_run), ignore_errors=True)
        self.last_run = run
        return ok, data_bytes(out)[0]

    def check(self) -> dict[str, bool]:
        # containing_region of a sample of validated elements
        sample = (
            self.validated.filter(F.col("id") % SAMPLE_MOD == 0)
            .select("id", "lon", "lat", "containing_region")
            .toPandas()
        )
        want = brute_force_region(
            self.read("polygons"), sample["lon"].to_numpy(), sample["lat"].to_numpy()
        )
        got = [r if isinstance(r, str) else None for r in sample["containing_region"]]
        # a sample of images against the generator's own pixels and captions
        imgs = self.read("images").filter(F.substring("image_id", -1, 1) == "7").toPandas()
        ids = np.array([int(s.split("-")[-1]) for s in imgs["image_id"]], dtype=np.int64)
        truth = {eid: (px, cap) for eid, px, cap, _ in W.gen_image_pixel_rows(ids)}
        pixels_ok = len(imgs) > 0
        for eid, data, fmt, cap, ph in zip(
            ids, imgs["bytes"], imgs["fmt"], imgs["caption"], imgs["phash"]
        ):
            px, want_cap = truth[int(eid)]
            dec = decode_image(bytes(data))
            p = psnr(dec, px)
            exact_or_close = p >= 40.0 if fmt in LOSSY_FMTS else p == float("inf")
            pixels_ok &= bool(exact_or_close and cap == want_cap and ahash64(dec) == ph)
        self.validated.unpersist()
        checks = {
            "pip_sample_matches_brute_force": len(sample) > 0 and got == want,
            "image_sample_matches_generator_pixels": pixels_ok,
        }
        if self.image_checks is not None:
            n_images, n_failed = self.image_checks
            checks["image_invariant_holds_for_every_row"] = (
                n_images == self.size["images"] and n_failed == 0
            )
        return checks

    def image_pass(self) -> None:
        """``images_ops.verify_invariants`` over the committed images:
        every row must pass the invariant (checked in ``check``)."""
        checked = IO.verify_invariants(self.read("images"), caption_fn=W.expected_captions)
        row = checked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(invariant_ok(LOSSY_FMTS), 0).otherwise(1)).alias("failed"),
        ).first()
        self.image_checks = (int(row["n"]), int(row["failed"] or 0))

    def kernel_times(self, n: int = 200) -> dict[str, float]:
        """Single-thread codec kernel time per image on a fixed sample
        (the first `n` images by id), called in the driver."""
        rows = self.read("images").orderBy("image_id").limit(n).toPandas()
        blobs = [bytes(b) for b in rows["bytes"]]
        t0 = time.perf_counter()
        imgs = [decode_image(b) for b in blobs]
        dec = time.perf_counter() - t0
        t0 = time.perf_counter()
        for img, fmt in zip(imgs, rows["fmt"]):
            encode_image(img, fmt)
        enc = time.perf_counter() - t0
        return {
            "codecs.decode_us_per_img": dec / len(blobs) * 1e6,
            "codecs.encode_us_per_img": enc / len(blobs) * 1e6,
        }


class Incremental(Workload):
    """Rounds of ingest_delta → validate_unchecked → snapshot write →
    ledger commit over a validated state committed at warm-up. A pass
    applies the committed deltas in order, starting again from that
    state."""

    item = "delta_elements"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rounds = self.size["rounds"]
        self.round = 0
        self.pass_no = -1
        self.last: tuple[int, str] | None = None  # (round, snapshot dir)
        self.state0 = os.path.join(self.out_dir, "state0")

    def validate_from_scratch(self, elements):
        return INC.validate_unchecked(
            INC.initial_state(elements),
            WD.build_wiki_entities_dim(self.read("wiki")),
            self.read("regions"),
        )

    def warm_up(self) -> None:
        """Validate and commit the base snapshot as the state every pass
        starts from. No round runs here: this validation warms most of a
        round's plan, and the first timed round, ~1 s slower than the
        next, is the slowest of three or more and drops out of their
        median."""
        T.write_table(self.validate_from_scratch(self.read("base")), self.state0)

    def pass_dir(self) -> str:
        return os.path.join(self.out_dir, f"pass-{self.pass_no}")

    def step(self, run: int) -> int:
        r = self.round
        if r == 0:
            shutil.rmtree(self.pass_dir(), ignore_errors=True)
            self.pass_no += 1
        state_path = os.path.join(self.pass_dir(), "state")
        t0 = time.perf_counter()
        state = T.read_table(self.spark, self.state0 if r == 0 else state_path)
        merged = INC.ingest_delta(state, self.read(f"delta-{r}"))
        new = INC.validate_unchecked(
            merged, WD.build_wiki_entities_dim(self.read("wiki")), self.read("regions")
        )
        manifest = T.write_table(new, state_path, snapshot_meta={"round": r})
        n = self.inputs.meta["delta_rows"][r]
        CK.CheckpointLedger(os.path.join(self.pass_dir(), "ledger")).commit(
            "incremental", f"round-{r}", n_rows=n, wall_sec=time.perf_counter() - t0,
            snapshot_id=manifest["snapshot_id"],
            watermark_ts=self.inputs.meta["delta_max_ts"][r],
        )
        self.last = (r, os.path.join(state_path, "data", manifest["snapshot_id"]))
        return n

    def input_bytes(self) -> int:
        return self.inputs.bytes_of(f"delta-{self.round}")

    def after_step(self, run: int) -> tuple[bool, int]:
        r, snapshot = self.last
        ok = self.same_as_reference(
            f"round{r}_digest", digest(self.spark.read.parquet(snapshot))
        )
        self.round = (r + 1) % self.rounds
        return ok, data_bytes(snapshot)[0]

    def check(self) -> dict[str, bool]:
        """The state after round r equals a from-scratch validation of
        the base snapshot with deltas 0..r applied."""
        r, snapshot = self.last
        elements = self.read("base")
        for i in range(r + 1):
            elements = elements.unionByName(self.read(f"delta-{i}"))
        scratch = self.validate_from_scratch(elements)
        return {
            "state_equals_from_scratch_validate":
                digest(scratch) == digest(self.spark.read.parquet(snapshot)),
        }


WORKLOADS = {
    "full_validate": FullValidate,
    "incremental": Incremental,
}
