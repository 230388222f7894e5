"""Tracing for the traced run, plus process-tree memory sampling.

* ``Tracer`` puts a span around every call into a layer's public
  function by wrapping the module attribute the program itself calls
  through (the workloads call the program exactly as in the untraced
  run). Spark is lazy, so a wrapped call that returns a DataFrame is
  materialized at its boundary (``cache`` + ``count``): the span then
  holds that layer's work, and the layer downstream reads the cached
  result. Boundary counters (rows in/out, candidate pairs, errors,
  bytes written) are taken in child spans named ``trace.accounting`` so
  they never count as a layer's self time.
* ``spark_accounting`` reads Spark's own job/stage/task accounting from
  the event log written during the traced run (enabled only there),
  attributed to timed runs through a job-local property.
* ``tree_peak_rss_bytes`` reads the peak resident set of this process
  and all its descendants (driver JVM, PySpark daemon, Python workers).
"""

from __future__ import annotations

import inspect
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

RUN_PROP = "perfbench.run"
ACCOUNTING_PROP = "perfbench.accounting"

# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _parent_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parens: fields follow the last ')'
        out[int(d)] = int(s[s.rfind(b")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, ppid in _parent_map().items():
        kids[ppid].append(pid)
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def tree_peak_rss_bytes(root: int) -> dict[str, list[int]]:
    """Each process's own peak resident set (VmHWM), by command name, over
    a process and its live descendants, as the kernel recorded it —
    nothing is sampled while the workload runs."""
    out: dict[str, list[int]] = defaultdict(list)
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[name].append(int(line.split()[1]) * 1024)
                        break
        except OSError:
            pass  # the process ended between listing and reading
    return dict(out)


# ---------------------------------------------------------------------------
# spans and layer counters
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans and per-run counters; written out once at the end."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self.counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.run: int | None = None  # id of the traced run in progress
        self.sc = None
        self._open: dict[int, list[int]] = defaultdict(list)
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._cached: list[DataFrame] = []

    # -- run lifecycle -----------------------------------------------------
    def begin(self, sc, run: int) -> None:
        self.sc, self.run = sc, run
        sc.setLocalProperty(RUN_PROP, str(run))

    def end(self) -> None:
        self.sc.setLocalProperty(RUN_PROP, None)
        self.run = None
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        with self._lock:
            # a span opened on a pool thread (concurrent sinks) hangs
            # under the innermost span open on the driver's main thread
            stack = self._open[tid] or self._open[self._main]
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "parent": stack[-1] if stack else None,
                "workload": self.workload, "run": self.run,
                "start": time.perf_counter(), "end": None,
            })
            self._open[tid].append(sid)
        try:
            yield
        finally:
            with self._lock:
                self.spans[sid]["end"] = time.perf_counter()
                self._open[tid].pop()

    @contextmanager
    def accounting(self):
        """Benchmark-side counting: its own span (so it is not a layer's
        self time) and its Spark jobs tagged so they are not counted as
        the workload's."""
        self.sc.setLocalProperty(ACCOUNTING_PROP, "1")
        try:
            with self.span("trace.accounting"):
                yield
        finally:
            self.sc.setLocalProperty(ACCOUNTING_PROP, None)

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[self.run][key] += value

    def materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.cache()
        with self._lock:
            self._cached.append(df)
        return df, df.count()

    # -- patching --------------------------------------------------------------
    def patch(self, owner, attr: str, hook) -> None:
        """Route calls to `owner.attr` through `hook(orig, bound_args)`
        while a traced run is in progress."""
        orig = getattr(owner, attr)
        sig = inspect.signature(orig)

        def wrapper(*a, **kw):
            if self.run is None:
                return orig(*a, **kw)
            bound = sig.bind(*a, **kw)
            bound.apply_defaults()
            return hook(orig, bound)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- results ---------------------------------------------------------------
    def self_times(self) -> dict[int, dict[str, float]]:
        """Per run: summed self time per span name (duration minus the
        part of it covered by child spans, overlapping children merged)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children[s["id"]]
            )
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s["run"]][s["name"]] += (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        counters = {str(r): dict(c) for r, c in self.counters.items()}
        with open(path, "w") as f:
            json.dump({"spans": spans, "counters": counters, **extra}, f)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the workloads call."""
    from osm_wikipedia_tag_validator_spark.functions import cells as C
    from osm_wikipedia_tag_validator_spark.operators import images_ops as IO
    from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ
    from osm_wikipedia_tag_validator_spark.operators import tiles as TI
    from osm_wikipedia_tag_validator_spark.operators import upsert as UP
    from osm_wikipedia_tag_validator_spark.operators import validator as V
    from osm_wikipedia_tag_validator_spark.plans import incremental as INC
    from osm_wikipedia_tag_validator_spark.plans import pipeline as P
    from osm_wikipedia_tag_validator_spark.sources import tables as T
    from osm_wikipedia_tag_validator_spark.streaming import checkpoint as CK

    from .inputs import data_bytes

    tr = tracer

    def boundary(name, count_key=None):
        def hook(orig, b):
            with tr.span(name):
                out, n = tr.materialize(orig(*b.args, **b.kwargs))
            if count_key:
                tr.add(count_key, n)
            return out
        return hook

    def rows_in(key, *arg_names):
        def count(b):
            with tr.accounting():
                tr.add(key, sum(b.arguments[a].count() for a in arg_names))
        return count

    def chain(before, hook):
        def h(orig, b):
            before(b)
            return hook(orig, b)
        return h

    def write_hook(orig, b):
        with tr.span("tables.write"):
            manifest = orig(*b.args, **b.kwargs)
        with tr.accounting():
            nbytes, nfiles = data_bytes(
                os.path.join(b.arguments["path"], "data", manifest["snapshot_id"])
            )
            tr.add("tables.bytes_written", nbytes)
            tr.add("tables.files_written", nfiles)
        return manifest

    def pip_hook(name_col, tag):
        def hook(orig, b):
            pts, polys = b.arguments["points"], b.arguments["polygons"]
            lon, lat, res = b.arguments["lon_col"], b.arguments["lat_col"], b.arguments["res"]
            with tr.accounting():
                # candidate pairs exactly as the join's cell cover sees them
                cover = SJ.build_cell_cover(SJ.collect_polygons(polys), res)
                cover_df = pts.sparkSession.createDataFrame(cover[["cell"]])
                cand = (
                    pts.select(C.cell_col(F.col(lon), F.col(lat), res).alias("cell"))
                    .join(F.broadcast(cover_df), "cell")
                    .count()
                )
                tr.add("spatial_join.candidate_pairs", cand)
            with tr.span("spatial_join"):
                out, n = tr.materialize(orig(*b.args, **b.kwargs))
            with tr.accounting():
                hits = out.filter(F.col(name_col).isNotNull()).count() if tag else n
                tr.add("spatial_join.hits", hits)
            return out
        return hook

    def validate_hook(orig, b):
        rows_in("validator.rows_in", "elements")(b)
        with tr.span("validator"):
            out, _ = tr.materialize(orig(*b.args, **b.kwargs))
        with tr.accounting():
            tr.add("validator.errors", out.filter(F.col("status") == "error").count())
        return out

    def ingest_hook(orig, b):
        rows_in("incremental.delta_rows", "delta")(b)
        return boundary("incremental.ingest")(orig, b)

    def verify_hook(orig, b):
        from osm_wikipedia_tag_validator_spark.datagen.codecs import LOSSY_FMTS

        with tr.span("images_ops"):
            out, n = tr.materialize(orig(*b.args, **b.kwargs))
        tr.add("images_ops.rows", n)
        with tr.accounting():
            ok = invariant_ok(LOSSY_FMTS, b.arguments["min_psnr_db"])
            tr.add("images_ops.invariant_failures", out.filter(~ok).count())
        return out

    def commit_hook(orig, b):
        with tr.span("checkpoint.commit"):
            rec = orig(*b.args, **b.kwargs)
        tr.add("checkpoint.records", len(b.arguments["self"].records()))
        return rec

    def sinks_hook(orig, b):
        with tr.span("pipeline.sinks"):
            return orig(*b.args, **b.kwargs)

    tr.patch(T, "read_table", boundary("tables.read"))
    tr.patch(T, "write_table", write_hook)
    tr.patch(UP, "latest_per_key", chain(rows_in("upsert.rows_in", "df"),
                                         boundary("upsert", "upsert.rows_out")))
    tr.patch(UP, "merge_upsert", chain(rows_in("upsert.rows_in", "base", "delta"),
                                       boundary("upsert", "upsert.rows_out")))
    tr.patch(SJ, "point_in_polygon_tag", pip_hook("containing_region", True))
    tr.patch(SJ, "point_in_polygon_join", pip_hook("region", False))
    tr.patch(V, "validate", validate_hook)
    tr.patch(INC, "ingest_delta", ingest_hook)
    tr.patch(INC, "validate_unchecked", boundary("incremental.validate"))
    tr.patch(CK.CheckpointLedger, "commit", commit_hook)
    tr.patch(P, "materialize_concurrently", sinks_hook)
    tr.patch(TI, "assign_tiles", boundary("tiles", "tiles.rows"))
    tr.patch(IO, "verify_invariants", verify_hook)


def invariant_ok(lossy_fmts, min_psnr_db: float = 40.0):
    """Row passes the image invariant: PSNR >= min for lossy formats,
    exact (stored as 1e9) for lossless, stored phash matches, caption
    byte-equal."""
    exact = F.col("psnr") >= F.lit(1e9)
    psnr_ok = F.when(F.col("fmt").isin(*sorted(lossy_fmts)), F.col("psnr") >= min_psnr_db)
    return F.col("phash_match") & F.col("caption_ok") & psnr_ok.otherwise(exact)


# ---------------------------------------------------------------------------
# Spark's own accounting (event log)
# ---------------------------------------------------------------------------


def spark_accounting(eventlog_file: str) -> dict[int, dict[str, float]]:
    """Per traced run: jobs, stages, tasks, failed tasks, task CPU and GC
    time, shuffle bytes written, bytes spilled, and task skew (max over
    median task run time in the run's longest stage). Jobs tagged as
    benchmark accounting are left out."""
    stage_run: dict[tuple[int, int], int] = {}
    per: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    task_ms: dict[tuple[int, int], list[float]] = defaultdict(list)
    stage_wall: dict[tuple[int, int], float] = {}

    def run_of(props: dict) -> int | None:
        if not props or props.get(ACCOUNTING_PROP) == "1" or RUN_PROP not in props:
            return None
        return int(props[RUN_PROP])

    with open(eventlog_file) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                run = run_of(ev.get("Properties"))
                if run is not None:
                    per[run]["spark.jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                run = run_of(ev.get("Properties"))
                info = ev["Stage Info"]
                if run is not None:
                    stage_run[(info["Stage ID"], info["Stage Attempt ID"])] = run
                    per[run]["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                run = stage_run.get(key)
                if run is None:
                    continue
                p = per[run]
                p["spark.tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    p["spark.tasks_failed"] += 1
                m = ev.get("Task Metrics") or {}
                p["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                p["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                p["spark.shuffle_write_bytes"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                )
                p["spark.spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                )
                task_ms[key].append(float(m.get("Executor Run Time", 0)))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                if key in stage_run and "Completion Time" in info:
                    stage_wall[key] = info["Completion Time"] - info.get(
                        "Submission Time", info["Completion Time"]
                    )
    for run, p in per.items():
        stages = [k for k in stage_wall if stage_run[k] == run and task_ms.get(k)]
        if stages:
            slowest = max(stages, key=lambda k: stage_wall[k])
            times = task_ms[slowest]
            p["spark.task_skew"] = max(times) / max(statistics.median(times), 1.0)
    return per
