"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload full_validate --seed 1 --seconds 12 --trace 0

Closed loop: one driver process, ``local[<cpus>]``, one client; the next
run starts only after the previous one finished. Order of a process:

1. the JVM and Spark session;
2. the seed's inputs, generated and committed in that session
   (``datagen.gen_s``, never part of a timed metric or of ``setup_s``);
3. the untimed warm-up: one run for ``full_validate``; the validated
   base state and one round for ``incremental``. ``setup_s`` is
   interpreter start to the end of the warm-up, without step 2;
4. the timed loop, until the timed runs add up to ``--seconds``, in
   whole passes (a pass is one run, or all rounds of ``incremental``; at
   least one); after every run, untimed, its output digests must equal
   the first run's and those recorded by earlier processes for the same
   inputs;
5. independent correctness checks on the last run's outputs.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run: traced and untraced passes alternate, layer
spans and counters come from ``tracing.py`` and Spark's accounting from
the event log. Every metric is printed as a ``metric`` line with its
unit; the last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import osm_wikipedia_tag_validator_spark  # noqa: E402,F401  (fails fast without the program)

from perfbench import inputs as INP  # noqa: E402
from perfbench import tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "run_s_p50": "s",
    "items_per_s": "1/s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "datagen.gen_s": "s",
    "tables.read_s": "s",
    "tables.write_s": "s",
    "tables.bytes_written": "bytes",
    "tables.files_written": "count",
    "upsert.s": "s",
    "upsert.rows_in": "count",
    "upsert.rows_out": "count",
    "spatial_join.s": "s",
    "spatial_join.candidate_pairs": "count",
    "spatial_join.hits": "count",
    "spatial_join.hit_ratio": "ratio",
    "validator.s": "s",
    "validator.rows_in": "count",
    "validator.errors": "count",
    "incremental.ingest_s": "s",
    "incremental.validate_s": "s",
    "incremental.revalidate_ratio": "ratio",
    "checkpoint.commit_s": "s",
    "checkpoint.records": "count",
    "pipeline.sinks_s": "s",
    "tiles.s": "s",
    "tiles.rows": "count",
    "images_ops.s": "s",
    "images_ops.rows": "count",
    "images_ops.invariant_failures": "count",
    "codecs.decode_us_per_img": "us",
    "codecs.encode_us_per_img": "us",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "trace.accounting_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}

# run id of the traced image pass of `full_validate`
IMAGE_RUN = -1

# span name -> per-layer self-time metric
SPAN_METRIC = {
    "tables.read": "tables.read_s",
    "tables.write": "tables.write_s",
    "upsert": "upsert.s",
    "spatial_join": "spatial_join.s",
    "validator": "validator.s",
    "incremental.ingest": "incremental.ingest_s",
    "incremental.validate": "incremental.validate_s",
    "checkpoint.commit": "checkpoint.commit_s",
    "pipeline.sinks": "pipeline.sinks_s",
    "tiles": "tiles.s",
    "images_ops": "images_ops.s",
    "trace.accounting": "trace.accounting_s",
}


def tail(samples: list[float]) -> tuple[float, str]:
    """Highest nearest-rank percentile with at least ten samples above
    it, and how it was taken. Below 20 samples no percentile at or above
    the median has ten samples beyond it; the maximum is reported then."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], f"max of {n} runs (fewer than 20)"
    pct = 100 * (n - 10) // n
    return xs[-(-pct * n // 100) - 1], f"p{pct} of {n} runs"


def pin_environment(workload: str) -> dict[str, str]:
    """Pin the session to this box and to the checkout: cores, driver
    memory, shuffle/spill and temp dirs (cleared first, so leftovers of
    earlier runs never count)."""
    work = os.path.join(INP.STATE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d)
    pinned = {
        # half the CPUs: the JVM's JIT and GC threads, the Python driver and
        # the UDF workers run beside the task threads
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(pinned)
    pinned["work"] = work
    return pinned


class Sessions:
    """Start and fully stop Spark sessions, each in its own JVM."""

    def __init__(self, env: dict[str, str], trace: bool):
        tmp = env["TMPDIR"]
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(env["work"], "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the whole heap from the start: a heap that grows with GC
            # timing made the peak RSS swing by a fifth between processes
            "spark.driver.extraJavaOptions":
                f"-XX:+UseG1GC -XX:-UsePerfData -Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
        }
        self.eventlog_dir = os.path.join(env["work"], "eventlog")
        if trace:
            os.makedirs(self.eventlog_dir)
            self.conf["spark.eventLog.enabled"] = "true"
            self.conf["spark.eventLog.dir"] = self.eventlog_dir
            self.conf["spark.eventLog.compress"] = "false"
            self.conf["spark.eventLog.rolling.enabled"] = "false"

    def start(self):
        from osm_wikipedia_tag_validator_spark.session import get_spark

        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        return get_spark(cores=cores, shuffle_partitions=cores, extra_conf=self.conf)

    @staticmethod
    def stop() -> None:
        from pyspark import SparkContext

        from osm_wikipedia_tag_validator_spark.session import stop_spark

        gateway = SparkContext._gateway
        stop_spark()
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        wait_for_children()


def wait_for_children(timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while True:
        left = tracing.descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
        try:  # reap our own exited children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def phase(name: str) -> None:
    """Mark the end of a phase of the process, with its time since start."""
    print(f"# at {time.perf_counter() - T_START:.1f} s: {name}", flush=True)


def emit(name: str, value: float, unit: str, note: str = "") -> None:
    print(f"metric {name} {value:.6g} {unit}{'  # ' + note if note else ''}", flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(INP.SIZES), default="default")
    ap.add_argument("--runs", type=int, default=0,
                    help="make exactly this many timed runs instead of timing --seconds")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    env = pin_environment(args.workload)
    print(
        f"# perfbench workload={args.workload} seed={args.seed} size={args.size} "
        f"seconds={args.seconds:g} trace={args.trace} loop=closed clients=1",
        flush=True,
    )
    print("# pinned " + " ".join(
        f"{k}={env[k]}" for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                                  "SPARK_GRAFT_LOCAL_DIR")
    ), flush=True)
    cls = WORKLOADS[args.workload]

    # --- set-up: JVM and session, the seed's inputs, the warm-up --------
    import_s = time.perf_counter() - T_START
    sessions = Sessions(env, bool(args.trace))
    out_dir = os.path.join(env["work"], "out")
    t0 = time.perf_counter()
    spark = sessions.start()
    start_s = time.perf_counter() - t0
    # not part of setup_s
    inp = INP.generate(spark, args.workload, args.seed, args.size,
                       os.path.join(env["work"], "inputs"))
    print(f"# inputs {inp.meta['input_digest']}", flush=True)
    phase("inputs generated")
    wl = cls(spark, inp, INP.SIZES[args.size][args.workload], out_dir)
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    setup_s = import_s + start_s + warm_s
    phase("set-up done")
    sc = spark.sparkContext

    # --- timed closed loop ----------------------------------------------
    tracer = None
    if args.trace:
        tracer = tracing.Tracer(args.workload)
        tracing.install_layer_spans(tracer)
    samples, traced, untraced = [], [], []
    round_of = {}  # run -> round index within its pass
    rates = []  # items per second of each untraced run
    bytes_written = bytes_in = 0
    attempted = failed = 0
    run = 0
    gc.collect()
    timed_s = 0.0  # the runs themselves, not the untimed checks between them

    def more() -> bool:
        if args.runs:
            return run < args.runs
        # whole passes only, so every process times every round; a traced
        # process needs at least one untraced and one traced pass
        return (run % wl.rounds != 0
                or timed_s < args.seconds
                or (bool(tracer) and run < 2 * wl.rounds))

    while more():
        run += 1
        attempted += 1
        # passes alternate, so traced and untraced runs cover every round
        traced_run = bool(tracer) and (run - 1) // wl.rounds % 2 == 1
        round_of[run] = wl.round
        n_in = wl.input_bytes()
        if traced_run:
            tracer.begin(sc, run)
        try:
            t0 = time.perf_counter()
            n = wl.step(run)
            dt = time.perf_counter() - t0
            timed_s += dt
        except Exception:
            traceback.print_exc()
            timed_s += time.perf_counter() - t0
            failed += 1
            continue
        finally:
            if traced_run:
                tracer.end()
        (traced if traced_run else untraced).append((run, dt))
        print(f"# run {run} {'traced' if traced_run else 'untraced'} {dt:.4f} s", flush=True)
        if not traced_run:
            samples.append(dt)
            rates.append(n / dt)
        ok, nb = wl.after_step(run)
        if not traced_run:
            bytes_written += nb
            bytes_in += n_in
        failed += not ok
    rss = tracing.tree_peak_rss_bytes(os.getpid())
    peak = sum(map(sum, rss.values()))
    print("# peak rss " + ", ".join(
        f"{name} {sum(v) / 2**20:.0f} MB ({len(v)})" for name, v in sorted(rss.items())
    ), flush=True)
    phase("timed loop done")
    if tracer and hasattr(wl, "image_pass"):
        # layers no timed run calls, traced once under their own run id
        tracer.begin(sc, IMAGE_RUN)
        wl.image_pass()
        tracer.end()

    checks = wl.check() if samples else {}
    for name, ok in sorted(checks.items()):
        print(f"check {name} {'ok' if ok else 'FAILED'}", flush=True)
    wl.close()
    phase("checks done")

    per_layer = {}
    if tracer:
        tracer.unpatch()
        per_layer = layer_metrics(tracer, wl, traced, untraced, round_of, start_s, warm_s, inp)

    app_id = sc.applicationId
    Sessions.stop()
    phase("session stopped")
    if tracer:
        for run_id, acct in tracing.spark_accounting(
            os.path.join(sessions.eventlog_dir, app_id)
        ).items():
            if run_id in dict(traced):
                for k, v in acct.items():
                    per_layer.setdefault(k, []).append(v)
        per_layer = {k: (statistics.median(v) if isinstance(v, list) else v)
                     for k, v in per_layer.items()}
        for k in PER_LAYER:
            per_layer.setdefault(k, 0.0)
        tracer.dump(
            os.path.join(INP.STATE, "traces",
                         f"{args.workload}-s{args.seed}-{int(time.time())}.json"),
            {"workload": args.workload, "seed": args.seed, "pinned": env,
             "traced_runs": traced, "untraced_runs": untraced, "per_layer": per_layer},
        )

    attempted += len(checks)
    failed += sum(not ok for ok in checks.values())
    for f in wl.failures:
        print(f"# failure {f}", file=sys.stderr)
    emit("fail_ratio", failed / max(attempted, 1), "ratio", f"{failed}/{attempted}")
    notes = {}
    if args.trace:
        metrics = {k: float(per_layer[k]) for k in PER_LAYER}
        units = PER_LAYER
    else:
        if not samples:
            print("no timed run completed", file=sys.stderr)
            return 1
        emit("datagen.gen_s", inp.meta["gen_s"], "s")
        run_tail, how = tail(samples)
        metrics = {
            "setup_s": setup_s,
            "run_s_p50": statistics.median(samples),
            "items_per_s": statistics.median(rates),
            "write_amp": bytes_written / max(bytes_in, 1),
            "peak_rss_mb": peak / 2**20,
        }
        units = END_TO_END
        notes = {"run_s_p50": f"{len(samples)} runs", "items_per_s": f"{cls.item} per second"}
        # printed, not in the JSON: the tail of two to four runs is their
        # maximum, which this box's own speed swings decide
        emit("run_s_tail", run_tail, "s", how)
        emit("elements_per_s", metrics["items_per_s"], "1/s", notes["items_per_s"])
        if args.workload == "incremental":  # one timed run is one round
            emit("round_s_p50", metrics["run_s_p50"], "s", notes["run_s_p50"])
            emit("round_s_tail", run_tail, "s", how)
    metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    for k, m in metrics.items():
        emit(k, m["value"], m["unit"], notes.get(k, ""))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def layer_metrics(tracer, wl, traced, untraced, round_of, start_s, warm_s, inp) -> dict:
    """Per-layer values per traced run (lists; medians taken by caller)."""
    out: dict[str, list[float] | float] = {}
    self_t = tracer.self_times()
    for run, _dt in traced:
        st = self_t.get(run, {})
        c = tracer.counters.get(run, {})
        vals = {m: st.get(s, 0.0) for s, m in SPAN_METRIC.items()}
        for k in PER_LAYER:
            if k in c:
                vals[k] = c[k]
        cand = c.get("spatial_join.candidate_pairs", 0.0)
        vals["spatial_join.hit_ratio"] = c.get("spatial_join.hits", 0.0) / cand if cand else 0.0
        delta = c.get("incremental.delta_rows", 0.0)
        vals["incremental.revalidate_ratio"] = (
            c.get("validator.rows_in", 0.0) / delta if delta else 0.0
        )
        for k, v in vals.items():
            out.setdefault(k, []).append(v)
    if IMAGE_RUN in tracer.counters:
        c = tracer.counters[IMAGE_RUN]
        out["images_ops.s"] = self_t[IMAGE_RUN].get("images_ops", 0.0)
        for k in ("images_ops.rows", "images_ops.invariant_failures"):
            out[k] = c.get(k, 0.0)
    # overhead between traced and untraced runs of the same round index:
    # sums of per-round medians over the rounds both kinds of run cover
    med = [
        {i: statistics.median([dt for r, dt in runs if round_of[r] == i])
         for i in {round_of[r] for r, _ in runs}}
        for runs in (traced, untraced)
    ]
    common = med[0].keys() & med[1].keys()
    t_traced, t_plain = (sum(m[i] for i in common) for m in med)
    out["trace.overhead_s"] = (t_traced - t_plain) / len(common) if common else 0.0
    out["trace.overhead_ratio"] = (t_traced / t_plain - 1.0) if t_plain else 0.0
    out["session.start_s"] = start_s
    out["session.warm_s"] = warm_s
    out["datagen.gen_s"] = inp.meta["gen_s"]
    if hasattr(wl, "kernel_times"):
        out.update(wl.kernel_times())
    return out


if __name__ == "__main__":
    sys.exit(main())
