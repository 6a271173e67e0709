"""Per-superstep checkpoints with lineage + metrics, and resume (ops 5, 53, 54).

Layout (one chain per algorithm run):

    <root>/<algo>/
        step_000001/
            state/...parquet (+_SUCCESS)
            manifest.json
        step_000002/
        metrics.jsonl            # one JSON line per superstep (op 6)

Manifest: {algo, superstep, parent, input_fingerprint, P, n_vertices,
           per_partition: [{part_id: -1, rows, checksum}], metrics, schema}
(lineage is ONE aggregate entry — row count + order-insensitive checksum
over the whole state, computed by an Observation riding the parquet-write
job; the ``per_partition`` key and its single part_id=-1 entry are kept so
existing chains still resume)

Atomicity (SURVEY.md §7 trap 7): state parquet + manifest are written into
``step_NNNNNN._tmp`` and the directory is renamed into place; the manifest is
written last inside the tmp dir, so a crash can never leave a complete-looking
step.  ``latest_complete`` additionally revalidates the stored row count
against the parquet it reads back, so a torn write is never resumed from.

This module is the durability surface: ``DataFrame.checkpoint()`` is NOT used
(JVM-local, not resumable across driver restarts).  The per-superstep
read-back from parquet doubles as lineage truncation (op 54) — the logical
plan for superstep t+1 is always exactly one superstep deep.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def input_fingerprint(edges: DataFrame) -> str:
    """Order-insensitive fingerprint of the edge table (lineage anchor)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws(",", "src", "dst", "w"))).alias("h"),
    ).collect()[0]
    return f"e{row['n']}-{row['h']}"


_WRITE_OBS_IDS = itertools.count()


@dataclass
class CheckpointManager:
    spark: SparkSession
    root: str
    algo: str
    fingerprint: str
    P: int
    n_vertices: int
    state_cols: list[str] = field(default_factory=list)  # incl. part_id

    @property
    def algo_dir(self) -> str:
        return os.path.join(self.root, self.algo)

    def _step_dir(self, t: int) -> str:
        return os.path.join(self.algo_dir, f"step_{t:06d}")

    def write(self, t: int, state: DataFrame, metrics: dict[str, Any]) -> list[dict]:
        """Durably persist superstep t's state; returns lineage stats.

        The row count and order-insensitive checksum ride the parquet-write
        job itself as an ``Observation`` (one aggregate record,
        ``part_id=-1``) — the durable write costs exactly ONE Spark action
        per superstep (every consumer of the manifest only ever reads the
        row-count SUM)."""
        os.makedirs(self.algo_dir, exist_ok=True)
        tmp = self._step_dir(t) + "._tmp"
        final = self._step_dir(t)
        if os.path.exists(tmp):
            import shutil

            shutil.rmtree(tmp)
        obs = Observation(f"ckpt-{self.algo}-{t}-{next(_WRITE_OBS_IDS)}")
        state.select(*self.state_cols).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.crc32(F.concat_ws(",", *self.state_cols))).alias("checksum"),
        ).write.mode("overwrite").parquet(os.path.join(tmp, "state"))
        row = obs.get
        stats = [
            {
                "part_id": -1,
                "rows": int(row["rows"] or 0),
                "checksum": int(row["checksum"] or 0),
            }
        ]
        manifest = {
            "algo": self.algo,
            "superstep": t,
            "parent": f"step_{t - 1:06d}" if t > 1 else None,
            "input_fingerprint": self.fingerprint,
            "P": self.P,
            "n_vertices": self.n_vertices,
            "per_partition": stats,
            "metrics": metrics,
            "state_cols": self.state_cols,
            "wall_clock": time.time(),
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        if os.path.exists(final):
            import shutil

            shutil.rmtree(final)
        os.rename(tmp, final)
        self.append_metrics({"superstep": t, **metrics})
        return stats

    def read_state(self, t: int) -> DataFrame:
        """Read superstep t's state and re-establish P-way co-partitioning
        (parquet does not preserve partitioning — SURVEY.md trace C)."""
        df = self.spark.read.parquet(os.path.join(self._step_dir(t), "state"))
        return df.repartition(self.P, "part_id")

    def manifest(self, t: int) -> dict | None:
        p = os.path.join(self._step_dir(t), "manifest.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def latest_complete(self, max_t: int | None = None) -> tuple[int, dict] | None:
        """Newest superstep whose manifest chain validates (resume point).

        A step counts as complete iff: manifest exists, fingerprint matches,
        parquet _SUCCESS marker exists, and the stored lineage row count
        equals the parquet row count.  Walks downward so a torn newest step
        falls back to its parent (= lineage chain).  ``max_t`` caps the
        resume point (fixed-iteration runs must not resume past step k)."""
        if not os.path.isdir(self.algo_dir):
            return None
        steps = sorted(
            int(d.split("_")[1])
            for d in os.listdir(self.algo_dir)
            if d.startswith("step_") and not d.endswith("._tmp")
        )
        if max_t is not None:
            steps = [t for t in steps if t <= max_t]
        for t in reversed(steps):
            m = self.manifest(t)
            if m is None or m.get("input_fingerprint") != self.fingerprint:
                continue
            state_dir = os.path.join(self._step_dir(t), "state")
            if not os.path.exists(os.path.join(state_dir, "_SUCCESS")):
                continue
            expected = sum(pp["rows"] for pp in m["per_partition"])
            actual = self.spark.read.parquet(state_dir).count()
            if actual == expected:
                return t, m
        return None

    def append_metrics(self, record: dict[str, Any]) -> None:
        os.makedirs(self.algo_dir, exist_ok=True)
        with open(os.path.join(self.algo_dir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps({"algo": self.algo, **record}) + "\n")

    def gc(self, keep_last: int = 2) -> list[int]:
        """Retention: delete all but the newest ``keep_last`` COMPLETE
        steps (plus every step newer than the newest complete one, so an
        in-flight write is never collected).  At the 10^12-turn target a
        superstep checkpoint is the full vertex state — retaining the
        whole chain would grow storage linearly with supersteps, while
        resume only ever needs the newest valid step (and one spare in
        case the newest turns out torn on read-back).  Incomplete/torn
        older steps are collected too.  Metrics (metrics.jsonl) are never
        touched — the audit trail outlives the states.  Returns the
        sorted list of deleted step numbers."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if not os.path.isdir(self.algo_dir):
            return []
        entries = [
            d
            for d in os.listdir(self.algo_dir)
            if d.startswith("step_") and not d.endswith("._tmp")
        ]
        steps = sorted(int(d.split("_")[1]) for d in entries)
        complete = [
            t
            for t in steps
            if (m := self.manifest(t)) is not None
            and m.get("input_fingerprint") == self.fingerprint
            and os.path.exists(
                os.path.join(self._step_dir(t), "state", "_SUCCESS")
            )
        ]
        if not complete:
            return []
        keep = set(complete[-keep_last:])
        newest_complete = complete[-1]
        deleted = []
        for t in steps:
            if t in keep or t > newest_complete:
                continue
            shutil.rmtree(self._step_dir(t), ignore_errors=True)
            deleted.append(t)
        return deleted
