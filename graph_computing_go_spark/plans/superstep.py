"""Checkpointed superstep driver for iterative DataFrame algorithms.

North-rule requirements (BASELINE.json:6,14): iteration state checkpointed
with per-partition lineage + iteration metrics so any run resumes
mid-superstep.  The reference's analogue is its idempotent task ledger
(/root/reference/internal/extractWikipediadump/mongoClient.go:65-79 — skip a
unit of work whose ledger row exists) and the year-over-year reuse of the
shrunk in-RAM graph (internal/openAlexEntropy/openAlexEntropy.go:240-252);
here the "ledger row" is a per-iteration JSON manifest written atomically
AFTER the state parquet, so a killed run restarts from the last complete
iteration.

Design notes for 100 TB scale:

- State is written as parquet per iteration (``iter=K`` directory) — an
  Iceberg table with snapshot-per-iteration is a drop-in swap when the
  runtime has the Iceberg catalog; parquet-directory-per-iteration gives the
  same atomicity here because the manifest is only written after the data
  commit succeeds.
- Checkpointing every iteration would double每-superstep I/O; default is
  every ``checkpoint_every`` supersteps with ``localCheckpoint`` in between
  to truncate the ever-growing lineage (without truncation, the logical plan
  of iteration k contains k copies of the join DAG and Catalyst analysis
  time blows up quadratically).
- The lineage manifest records per-partition row counts and a content
  checksum (sum of xxhash64 over all columns) — enough to detect a torn or
  stale checkpoint before resuming from it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Step = Callable[[DataFrame, int], DataFrame]


def _wrap64(x: int) -> int:
    """Fold an arbitrary-precision int to signed 64-bit (Spark sum wraps)."""
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def _partition_lineage(df: DataFrame) -> list[dict]:
    rows = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.xxhash64(*df.columns)).alias("checksum"),
        )
        .collect()
    )
    return [
        {"partition": r["__pid"], "rows": r["rows"], "checksum": r["checksum"]}
        for r in rows
    ]


class SuperstepRunner:
    """Run ``state = step(state, i)`` until ``converged`` or ``max_iter``.

    ``converged(old, new, i) -> bool`` is evaluated every iteration; its
    implementation is the only action per superstep (algorithms fold their
    delta metric into it).
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = checkpoint_every
        #: per-superstep iteration metrics of the most recent run() —
        #: [{iter, wall_ms, delta, checkpointed, done}, ...]; algorithms
        #: report their convergence delta by setting ``last_delta`` inside
        #: their converged() callback.  Persisted to metrics.jsonl next to
        #: the checkpoints when checkpoint_dir is set (BASELINE.json:6
        #: "iteration metrics").
        self.metrics: list[dict] = []
        self.last_delta: float | None = None

    # -- checkpoint layout ------------------------------------------------
    def _iter_dir(self, name: str, i: int) -> str:
        return os.path.join(self.checkpoint_dir, name, f"iter={i:05d}")

    def _manifest(self, name: str, i: int) -> str:
        return os.path.join(self.checkpoint_dir, name, f"manifest_{i:05d}.json")

    def _write_checkpoint(self, name: str, i: int, state: DataFrame, t0: float):
        path = self._iter_dir(name, i)
        state.write.mode("overwrite").parquet(path)
        manifest = {
            "name": name,
            "iter": i,
            "wall_ms": int((time.time() - t0) * 1000),
            "columns": state.columns,
            "partitions": _partition_lineage(self.spark.read.parquet(path)),
        }
        tmp = self._manifest(name, i) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(name, i))  # atomic commit of the ledger row

    def _manifest_iters(self, name: str) -> list[int]:
        """Sorted iteration numbers with a committed manifest — the ONE
        place the manifest filename scheme is parsed (resume and the
        fresh-run ahead-cleanup must never disagree on it).  A foreign file
        whose stem is not an iteration number (``manifest_x.json``) is not
        a manifest: it is skipped, never parsed."""
        if not self.checkpoint_dir:
            return []
        base = os.path.join(self.checkpoint_dir, name)
        if not os.path.isdir(base):
            return []
        stems = (
            f[len("manifest_") : -len(".json")]
            for f in os.listdir(base)
            if f.startswith("manifest_") and f.endswith(".json")
        )
        return sorted(int(s) for s in stems if s.isdecimal())

    def latest_checkpoint(self, name: str) -> tuple[int, DataFrame] | None:
        """(iteration, state) of the newest complete checkpoint, or None."""
        iters = self._manifest_iters(name)
        for i in reversed(iters):
            with open(self._manifest(name, i)) as f:
                manifest = json.load(f)
            path = self._iter_dir(name, i)
            if not os.path.isdir(path):
                continue
            df = self.spark.read.parquet(path)
            expect_rows = sum(p["rows"] for p in manifest["partitions"])
            # content check, not just cardinality: iterative state always has
            # |V| rows, so a stale iteration would pass a pure row count.
            # Summed xxhash64 is partition-layout independent; both sides
            # wrap at 64 bits (Spark sum wraps in non-ANSI mode).
            expect_sum = _wrap64(
                sum(p["checksum"] or 0 for p in manifest["partitions"])
            )
            got = df.agg(
                F.count("*").alias("rows"),
                F.sum(F.xxhash64(*manifest["columns"])).alias("checksum"),
            ).collect()[0]
            if got["rows"] == expect_rows and (
                expect_rows == 0 or _wrap64(got["checksum"]) == expect_sum
            ):
                return i, df
        return None

    def clear(self, name: str):
        if self.checkpoint_dir:
            shutil.rmtree(os.path.join(self.checkpoint_dir, name), ignore_errors=True)

    # -- main loop --------------------------------------------------------
    def run(
        self,
        name: str,
        state0: DataFrame,
        step: Step,
        converged: Callable[[DataFrame, DataFrame, int], bool],
        max_iter: int = 100,
        resume: bool = False,
    ) -> tuple[DataFrame, int]:
        """Returns (final_state, iterations_run)."""
        start_iter = 0
        state = state0
        if resume:
            ckpt = self.latest_checkpoint(name)
            if ckpt is not None:
                start_iter, state = ckpt
        state = state.localCheckpoint(eager=True)
        self.metrics = []
        if self.checkpoint_dir:
            # drop checkpoints AHEAD of the (re)start point: a fresh run
            # must not leave a previous run's higher-iteration checkpoints
            # behind — they are internally checksum-consistent, so a later
            # resume would load the OLD run's state with no error; a resume
            # replays those iterations anyway
            for it in self._manifest_iters(name):
                if it > start_iter:
                    os.remove(self._manifest(name, it))
                    shutil.rmtree(self._iter_dir(name, it), ignore_errors=True)
            # keep only metric records up to the iteration we (re)start
            # from: a fresh run truncates everything, a resume drops the
            # records of iterations that will be replayed — the ledger never
            # holds duplicate iters either way
            mpath = os.path.join(self.checkpoint_dir, name, "metrics.jsonl")
            if os.path.exists(mpath):
                keep = []
                with open(mpath) as f:
                    for ln in f:
                        if not ln.strip():
                            continue
                        try:
                            m = json.loads(ln)
                        except ValueError:
                            continue  # torn tail line from a killed run
                        if m.get("iter", 0) <= start_iter:
                            # a kill between the JSON bytes and the '\n' of
                            # _record_metric's append leaves a valid but
                            # unterminated tail line — re-terminate it, or
                            # the next append concatenates onto it and
                            # corrupts both records
                            keep.append(ln if ln.endswith("\n") else ln + "\n")
                with open(mpath, "w") as f:
                    f.writelines(keep)
        i = start_iter
        for i in range(start_iter + 1, max_iter + 1):
            t0 = time.time()
            self.last_delta = None
            # Lazy local checkpoint: the converged() aggregation is the one
            # materializing action per superstep, and the checkpoint
            # truncates lineage so iteration plans stay O(1) deep (without
            # it, analysis cost grows linearly and per-superstep wall time
            # triples — measured on the 60M-edge bench graph).
            new = step(state, i).localCheckpoint(eager=False)
            done = converged(state, new, i)
            state = new
            ckpt = self.checkpoint_dir is not None and (
                i % self.checkpoint_every == 0 or done or i == max_iter
            )
            if ckpt:
                self._write_checkpoint(name, i, state, t0)
            self._record_metric(
                name,
                {
                    "iter": i,
                    "wall_ms": int((time.time() - t0) * 1000),
                    "delta": self.last_delta,
                    "checkpointed": bool(ckpt),
                    "done": bool(done),
                },
            )
            if done:
                return state, i
        return state, i

    def _record_metric(self, name: str, m: dict) -> None:
        self.metrics.append(m)
        if self.checkpoint_dir:
            base = os.path.join(self.checkpoint_dir, name)
            os.makedirs(base, exist_ok=True)
            with open(os.path.join(base, "metrics.jsonl"), "a") as f:
                f.write(json.dumps(m) + "\n")
