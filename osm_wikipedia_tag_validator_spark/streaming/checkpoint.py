"""Per-partition checkpoint / lineage / idempotency ledger (T1-T6).

Mirrors the reference's two state tables (SURVEY.md §2.10):
  * `osm_data_update_log` (`database.py:33-34`) — per-area download
    watermarks, read back as MAX(ts) (`database.py:52-59`); realized
    here as the `watermarks` ledger.
  * `osm_bot_edit_log` (`database.py:38-39`) — has-this-job-run-on-
    this-snapshot idempotency (`osm_editor_bot_for_approved_tasks.py:
    488-495`); realized as the `job_runs` ledger.

Plus what the reference lacks: per-partition THROUGHPUT metrics and
lineage (which snapshot produced which partition), required by the
north rule. A resumable job processes partitions (e.g. region, or
cell-prefix buckets) one batch at a time; completed partitions are
committed to the ledger and skipped on restart — the T5 pattern
("log row written only AFTER data was safely loaded",
`obtain_from_overpass.py:49-51`).

Ledger storage is one JSON-lines file, `ledger.jsonl`, that every
commit rewrites whole through a temp file and `os.replace`.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class CheckpointLedger:
    """Ledger of completed (job, partition, snapshot) work units with
    lineage + metrics, one JSON line per commit. `commit` rewrites the
    whole file (every record so far plus the new one) to a temp file
    and renames it over `ledger.jsonl`, mirroring the reference's
    `shutil.move` atomic load (`obtain_from_overpass.py:45`)."""

    path: str

    def _file(self) -> str:
        return os.path.join(self.path, "ledger.jsonl")

    def records(self) -> list[dict]:
        if not os.path.exists(self._file()):
            return []
        with open(self._file()) as f:
            return [json.loads(line) for line in f if line.strip()]

    def completed(self, job: str) -> set[str]:
        return {
            r["partition"]
            for r in self.records()
            if r["job"] == job and r["status"] == "done"
        }

    def watermark(self, job: str, partition: str) -> int | None:
        """MAX(ts) per (job, partition) — `database.py:52-59` semantics."""
        ts = [
            r["watermark_ts"]
            for r in self.records()
            if r["job"] == job and r["partition"] == partition
            and r.get("watermark_ts") is not None
        ]
        return max(ts) if ts else None

    def commit(
        self,
        job: str,
        partition: str,
        n_rows: int,
        wall_sec: float,
        snapshot_id: str | None = None,
        watermark_ts: int | None = None,
        extra: dict | None = None,
    ) -> dict:
        os.makedirs(self.path, exist_ok=True)
        rec = {
            "job": job,
            "partition": partition,
            "status": "done",
            "snapshot_id": snapshot_id or uuid.uuid4().hex,
            "n_rows": n_rows,
            "wall_sec": round(wall_sec, 4),
            "rows_per_sec": round(n_rows / wall_sec, 2) if wall_sec > 0 else None,
            "watermark_ts": watermark_ts,
            "committed_at": int(time.time()),
            "extra": extra or {},
        }
        # append atomically: write whole new file to tmp then rename
        existing = self.records()
        tmp = self._file() + f".{rec['snapshot_id']}.tmp"
        with open(tmp, "w") as f:
            for r in existing + [rec]:
                f.write(json.dumps(r) + "\n")
        os.replace(tmp, self._file())
        return rec

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        recs = self.records()
        if not recs:
            return spark.createDataFrame(
                [], "job string, partition string, n_rows long, wall_sec double, rows_per_sec double"
            )
        return spark.createDataFrame(
            [
                (r["job"], r["partition"], r["n_rows"], r["wall_sec"], r["rows_per_sec"])
                for r in recs
            ],
            "job string, partition string, n_rows long, wall_sec double, rows_per_sec double",
        )


@dataclass
class ResumableJob:
    """Run a per-partition pipeline with skip-completed resume.

    process(partition_value) → DataFrame is written under
    out_path/partition=...; the ledger row commits only after the
    write succeeds (T5 exactly-once ordering). On restart, completed
    partitions are skipped (T6 idempotency,
    `osm_editor_bot_for_approved_tasks.py:488-512`).
    """

    job_name: str
    ledger: CheckpointLedger
    out_path: str
    partition_col: str = "partition"
    results: list[dict] = field(default_factory=list)

    def run(self, partitions: list[str], process) -> list[dict]:
        done = self.ledger.completed(self.job_name)
        for p in partitions:
            if p in done:
                self.results.append({"partition": p, "skipped": True})
                continue
            t0 = time.time()
            df = process(p)
            target = os.path.join(self.out_path, f"{self.partition_col}={p}")
            df.write.mode("overwrite").parquet(target)
            n = df.sparkSession.read.parquet(target).count()
            rec = self.ledger.commit(
                self.job_name, p, n_rows=n, wall_sec=time.time() - t0
            )
            self.results.append({"partition": p, "skipped": False, **rec})
        return self.results
