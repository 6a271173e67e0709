"""Per-superstep checkpoints with lineage + metrics, and resume (ops 5, 53, 54).

Layout (one chain per algorithm run):

    <root>/<algo>/
        step_000001/
            state/part-<p:05d>.parquet (+_SUCCESS)
            manifest.json
        step_000002/
        metrics.jsonl            # one JSON line per superstep (op 6)

Manifest: {algo, superstep, parent, input_fingerprint, P, n_vertices,
           per_partition: [{part_id: -1, rows, checksum}], metrics,
           state_cols, wall_clock}
(lineage is ONE aggregate entry — row count + order-insensitive checksum
over the whole state, observed on the superstep's own job through
``lineage_exprs``; the ``per_partition`` key and its single part_id=-1
entry are kept so existing chains still resume)

Writes: a checkpointed superstep is one Spark job.  The driver clears and
creates the step's tmp state dir before it (``begin``); inside it, the task
of partition p writes p's state rows as one part file (``write_part``); after
it, the driver seals the step (``commit``).  A partition with no state rows
writes no file.

Atomicity (SURVEY.md §7 trap 7): state parquet + manifest are written into
``step_NNNNNN._tmp`` and the directory is renamed into place; the manifest is
written last inside the tmp dir, so a crash can never leave a complete-looking
step.  ``latest_complete`` additionally revalidates the stored row count
against the parquet it reads back, so a torn write is never resumed from.

This module is the durability surface: ``DataFrame.checkpoint()`` is NOT used
(JVM-local, not resumable across driver restarts).  Lineage truncation (op
54) is the superstep loop's eager ``localCheckpoint``, not this module: the
logical plan for superstep t+1 is always exactly one superstep deep.  Roots
are local paths; a URI root is rejected.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def fingerprint_exprs() -> list[Column]:
    """Aggregates of the order-insensitive edge-table fingerprint (lineage
    anchor), observed on the job that materializes the pre-summed edge
    table; ``format_fingerprint`` renders their values.  Changing either
    orphans every existing checkpoint chain."""
    return [
        F.count(F.lit(1)).alias("fp_n"),
        F.sum(F.crc32(F.concat_ws(",", "src", "dst", "w"))).alias("fp_h"),
    ]


def format_fingerprint(stats: dict[str, Any]) -> str:
    """``e{rows}-{crc sum}`` (``e0-None`` for an empty edge table)."""
    return f"e{stats['fp_n']}-{stats['fp_h']}"


# aliases of the lineage aggregates in the superstep's observed stats
LINEAGE = ("ckpt_rows", "ckpt_checksum")


def lineage_exprs(state_cols: list[str]) -> list[Column]:
    """Aggregates of a superstep's lineage entry (``LINEAGE``): the row count
    and the order-insensitive checksum of its state, observed on the
    superstep's own job.  Rows with a null vid (a carried table's message
    and mirror rows) are not state and are skipped."""
    is_state = F.col("vid").isNotNull()
    return [
        F.count("vid").alias(LINEAGE[0]),
        F.sum(F.when(is_state, F.crc32(F.concat_ws(",", *state_cols)))).alias(LINEAGE[1]),
    ]


def write_part(state_dir: str, p: int, state: pa.Table) -> None:
    """Write partition p's state rows (``state``, projected to the state
    columns) into a step's tmp state dir; called by the superstep's task.
    The file is written under a dot name, which Spark's reader skips, then
    renamed into place, so a part file is whole or absent, and a retried
    task rewrites the same name with the same bytes.  It never creates a
    directory, so a late attempt cannot bring back a tmp dir that has
    already been renamed."""
    tmp = os.path.join(state_dir, f".part-{p}.tmp")
    with open(tmp, "wb") as f:
        # no dictionary pages: vids are unique and ranks nearly so, and
        # unlike Spark's writer pyarrow never falls back to plain pages when
        # a dictionary does not pay (measured on 20k-row partitions: plain
        # pages ~22% smaller for PageRank state, no larger for components)
        pq.write_table(state, f, use_dictionary=False)
    os.replace(tmp, os.path.join(state_dir, f"part-{p:05d}.parquet"))


@dataclass
class CheckpointManager:
    spark: SparkSession
    root: str
    algo: str
    fingerprint: str
    P: int
    n_vertices: int
    state_cols: list[str] = field(default_factory=list)  # incl. part_id

    def __post_init__(self) -> None:
        # every path below goes through os.path: a URI would name a
        # directory relative to the cwd
        if "://" in self.root:
            raise ValueError(f"checkpoint root must be a local path, not a URI: {self.root!r}")

    @property
    def algo_dir(self) -> str:
        return os.path.join(self.root, self.algo)

    def _step_dir(self, t: int) -> str:
        return os.path.join(self.algo_dir, f"step_{t:06d}")

    def begin(self, t: int) -> str:
        """Clear (a killed attempt's leftovers) and create superstep t's tmp
        state dir; returns its path, where the superstep's tasks write their
        part files (``write_part``)."""
        tmp = self._step_dir(t) + "._tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        state_dir = os.path.join(tmp, "state")
        os.makedirs(state_dir)
        return state_dir

    def commit(self, t: int, rows: int, checksum: int | None, metrics: dict[str, Any]) -> None:
        """Seal superstep t once its job has written the part files: mark the
        state complete, write the manifest (fsynced) with the lineage
        observed on that job, rename the tmp dir into place and append the
        metrics line."""
        tmp = self._step_dir(t) + "._tmp"
        final = self._step_dir(t)
        open(os.path.join(tmp, "state", "_SUCCESS"), "w").close()
        manifest = {
            "algo": self.algo,
            "superstep": t,
            "parent": f"step_{t - 1:06d}" if t > 1 else None,
            "input_fingerprint": self.fingerprint,
            "P": self.P,
            "n_vertices": self.n_vertices,
            "per_partition": [{"part_id": -1, "rows": rows, "checksum": checksum or 0}],
            "metrics": metrics,
            "state_cols": self.state_cols,
            "wall_clock": time.time(),
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        self.append_metrics({"superstep": t, **metrics})

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
