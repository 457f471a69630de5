"""Per-stage checkpoint / resume manager and stage runner.

North rule: "resumable from checkpoint with per-partition lineage + metrics".
Iceberg is the deployment target (snapshot tables per stage); this sandbox
has no Iceberg catalog, so the same contract is implemented over parquet
directories + a JSON manifest — the interface (stage key, config hash,
idempotent overwrite, skip-if-complete) is identical and the pipeline only
talks to this class.

Layout:   <root>/<stage>/data.parquet/…  +  <root>/<stage>/manifest.json
Manifest: {stage, config_hash, rows, schema} (+ num_parts, partitioned_by,
          recomputed_parts for a partitioned stage)

One write path: run(stage, fn, parts) returns the stored DataFrame when a
manifest with a matching config_hash exists; otherwise it builds, writes
through a temp dir + rename, counts and records the manifest and a log
entry.  parts=0 commits the whole stage with one rename; parts=P>0 commits
hash partitions one rename at a time, so a killed run recomputes only the
uncommitted ones.  With checkpointing disabled the stage is pinned and
counted instead.

One runner: run_stages(table, ...) starts each stage of a declared
(name, inputs, fn) table on a pool thread once its inputs are done, tags
the stage's Spark jobs with its name, and releases the scratch blocks the
stage pinned once its output is materialized.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

PART_COL = "_part"
JOB_GROUP = "spark.jobGroup.id"


def _read_json(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _release(dfs: list[DataFrame]) -> None:
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
    dfs.clear()


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str, config_hash: str, enabled: bool = True):
        self.spark = spark
        self.root = root
        self.config_hash = config_hash
        self.enabled = enabled
        self.log: list[dict] = []
        self._pinned: list[DataFrame] = []
        self._stage = threading.local()  # .scratch: pins of the running stage
        if enabled:
            os.makedirs(root, exist_ok=True)

    def _path(self, stage: str, name: str = "data.parquet") -> str:
        return os.path.join(self.root, stage, name)

    def complete(self, stage: str) -> dict | None:
        """The stage's manifest when its checkpoint is complete under this
        config, else None."""
        m = _read_json(self._path(stage, "manifest.json")) if self.enabled else {}
        ok = m.get("config_hash") == self.config_hash
        return m if ok and os.path.exists(self._path(stage)) else None

    def _write_json(self, stage: str, name: str, fields: dict) -> None:
        os.makedirs(os.path.join(self.root, stage), exist_ok=True)
        with open(self._path(stage, name), "w") as f:
            json.dump({"config_hash": self.config_hash, **fields}, f, indent=1)

    def run(self, stage: str, fn: Callable[..., DataFrame], parts: int = 0) -> DataFrame:
        """Checkpointed stage.  parts=0: `fn()` builds the whole stage.

        parts=P>0 narrows the unit of loss to one hash partition: `fn(missing)`
        must return a DataFrame with an int `_part` column in [0, P) covering
        ONLY the requested partitions (the caller derives a row's partition
        from a stable content hash, e.g. pmod(xxhash64(id), P), so the
        assignment is identical across runs).  Each partition directory is
        committed with one atomic rename and recorded in partial.json, so a
        kill at any point loses at most one partition's work.  The returned
        DataFrame carries `_part` as the partition-discovery column.
        """
        t0 = time.time()
        data = self._path(stage)
        m = self.complete(stage)
        if m:
            self.log.append({"stage": stage, "resumed": True, "rows": m["rows"]})
            return self.spark.read.parquet(data)
        entry: dict = {"stage": stage, "resumed": False}
        if not self.enabled:
            # No persistent checkpoint requested: still materialize each
            # stage once (stages are consumed by several downstream stages;
            # recomputing a pandas-UDF stage per consumer would both waste
            # work and re-inline the UDF into contexts that cannot evaluate
            # it).  persist+count rather than localCheckpoint: Spark 4.1's
            # localCheckpoint fails to extract PythonUDF nodes.
            out = self.pin(fn(list(range(parts))) if parts else fn(), keep=True)
        elif parts:
            out, entry["recomputed_parts"] = self._write_parts(stage, fn, parts)
        else:
            tmp = data + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            fn().write.mode("overwrite").parquet(tmp)
            shutil.rmtree(data, ignore_errors=True)
            os.rename(tmp, data)
            out = self.spark.read.parquet(data)
        entry["rows"] = out.count()
        if self.enabled:
            layout = {"num_parts": parts, "partitioned_by": PART_COL,
                      "recomputed_parts": entry["recomputed_parts"]} if parts else {}
            self._write_json(stage, "manifest.json", {
                "stage": stage, "rows": entry["rows"],
                "schema": out.schema.simpleString(), **layout,
            })
            if parts:
                os.remove(self._path(stage, "partial.json"))
        entry["seconds"] = round(time.time() - t0, 3)
        self.log.append(entry)
        return out

    def _write_parts(
        self, stage: str, fn: Callable[[list[int]], DataFrame], parts: int
    ) -> tuple[DataFrame, int]:
        """Write the partitions partial.json does not list as committed,
        one rename and one partial.json rewrite per partition; returns the
        stage DataFrame and the number of partitions computed."""
        data, tmp = self._path(stage), self._path(stage, "data.parquet.tmp")
        state = _read_json(self._path(stage, "partial.json"))
        layout = {"num_parts": parts, "part_col": PART_COL}
        same = state.get("config_hash") == self.config_hash and all(
            state.get(k) == v for k, v in layout.items())
        done = set(state.get("done", [])) if same else set()
        if not done:
            shutil.rmtree(data, ignore_errors=True)  # stale layout or config
        os.makedirs(data, exist_ok=True)
        missing = [p for p in range(parts) if p not in done]
        if missing:
            shutil.rmtree(tmp, ignore_errors=True)
            fn(missing).write.mode("overwrite").partitionBy(PART_COL).parquet(tmp)
            # builder/writer bucket-assignment contract (r5 ADVICE #1): any
            # written part value outside the requested `missing` set would
            # be silently deleted with the tmp tree — a drifted builder
            # (e.g. hashing a differently-typed id) must fail loudly
            # instead of dropping rows.
            stray = {d.split("=", 1)[1] for d in os.listdir(tmp)
                     if d.startswith(f"{PART_COL}=")} - {str(p) for p in missing}
            if stray:
                raise AssertionError(
                    f"run({stage}, parts={parts}): builder wrote partition "
                    f"values outside the requested set: {sorted(stray)[:8]}"
                    f" vs missing={sorted(missing)[:8]}..."
                )
        # commit one partition directory per rename; the partial manifest
        # is rewritten after EVERY commit — this loop is the kill-safe
        # region (fault-injection hook for tests below)
        for moved, p in enumerate(missing, 1):
            src = os.path.join(tmp, f"{PART_COL}={p}")
            dst = os.path.join(data, f"{PART_COL}={p}")
            # a missing src dir = the partition is genuinely empty;
            # committed as done with no directory
            if os.path.exists(src):
                shutil.rmtree(dst, ignore_errors=True)
                os.rename(src, dst)
            done.add(p)
            self._write_json(stage, "partial.json", {**layout, "done": sorted(done)})
            if moved == self._fail_after_part_commits:
                raise RuntimeError(
                    f"injected failure after {moved} partition commits"
                )
        shutil.rmtree(tmp, ignore_errors=True)
        # all-partitions-empty input leaves a data dir with no partition
        # directories; parquet schema inference then fails instead of
        # returning an empty frame (r5 ADVICE #4) — fall back to the
        # builder's schema
        if any(d.startswith(f"{PART_COL}=") for d in os.listdir(data)):
            return self.spark.read.parquet(data), len(missing)
        return self.spark.createDataFrame([], fn([0]).schema), len(missing)

    # test-only fault injection: raise after N partition commits to
    # simulate a mid-stage kill (None = never)
    _fail_after_part_commits: int | None = None

    def timed(self, stage: str, fn: Callable[[], object],
              note: Callable[[object], dict] | None = None) -> object:
        """Time a non-checkpointed block (driver-side actions, CC loop) as a
        named stage so the wall is fully attributed in the log — VERDICT r3
        #5: untimed CC/counter actions hid 40% of a bench regression.
        `note(out)` gives fields recorded in the stage's manifest next to
        the checkpointed stages; no data directory is written, so
        complete() stays False and the stage always recomputes."""
        t0 = time.time()
        out = fn()
        if note is not None and self.enabled:
            self._write_json(stage, "manifest.json", {"stage": stage, **note(out)})
        self.log.append(
            {"stage": stage, "resumed": False, "timed_only": True,
             "seconds": round(time.time() - t0, 3)}
        )
        return out

    def run_stages(
        self,
        table: list[tuple[str, tuple[str, ...], Callable[..., object]]],
        done: dict[str, object],
        wanted: Iterable[str],
    ) -> dict[str, object]:
        """Run a declared stage table; returns every result by stage name.

        `table` lists (name, inputs, fn) in dependency order; fn is called
        with the results of `inputs` (taken from `done` or earlier stages)
        on a pool thread as soon as they are all available, so independent
        chains overlap.  Spark runs the concurrent jobs FIFO; the table's
        width bounds how many stages run at once.  A stage is started only
        if its result is `wanted` or some consumer of it does not resume
        from its checkpoint; a consumer of a stage that was not started
        gets None.
        """
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        need = set(wanted)
        for name, inputs, _ in reversed(table):
            if name in need and not self.complete(name):
                need.update(inputs)
        todo = [s for s in table if s[0] in need]
        out = dict(done)
        running: dict = {}
        with ThreadPoolExecutor(max_workers=max(len(todo), 1)) as pool:
            while todo or running:
                for s in [s for s in todo
                          if all(i in out or i not in need for i in s[1])]:
                    todo.remove(s)
                    name, inputs, fn = s
                    args = [out.get(i) for i in inputs]
                    running[pool.submit(self._run_stage, name, fn, args)] = name
                if not running:
                    raise ValueError(f"stages with unmet inputs: {todo}")
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for f in finished:
                    out[running.pop(f)] = f.result()
        return out

    def _run_stage(self, name: str, fn: Callable[..., object], args: list):
        """One stage on this thread: its jobs carry the stage name as job
        group (restored afterwards), and the scratch blocks it pins are
        released once it returns its materialized output."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(JOB_GROUP)
        sc.setLocalProperty(JOB_GROUP, name)
        self._stage.scratch = scratch = []
        try:
            return fn(*args)
        finally:
            self._stage.scratch = None
            _release(scratch)
            sc.setLocalProperty(JOB_GROUP, prev)

    def scratch(self, name: str) -> str | None:
        """Shared-FS scratch directory under the checkpoint root for
        transient barriers (e.g. the CC loop's initial lineage cut) —
        visible to every executor in a deployed run, unlike a driver-local
        tempfile.  None when checkpointing is disabled (callers fall back
        to a local tempdir, correct on local[N])."""
        if not self.enabled:
            return None
        d = os.path.join(self.root, "_scratch", name)
        os.makedirs(d, exist_ok=True)
        return d

    def pin(self, df: DataFrame, keep: bool = False) -> DataFrame:
        """persist() with bookkeeping.  Inside a run_stages stage the block
        is scratch, released when the stage returns; a `keep` block (a
        stage output) and any block pinned outside a stage are held until
        unpersist_all() — without this, each pipeline run left its stage
        blocks in the block manager for the session lifetime (round-4
        review finding)."""
        df = df.persist()
        scratch = getattr(self._stage, "scratch", None)
        (self._pinned if keep or scratch is None else scratch).append(df)
        return df

    def unpersist_all(self) -> None:
        """Release every DataFrame held by this manager.  Previously
        returned stage DataFrames stay valid — they recompute from lineage
        if acted on again (all stages are deterministic)."""
        _release(self._pinned)

    def rows_of(self, stage: str) -> int | None:
        """Row count of the stage's latest run (written or resumed) — free
        metadata used for provably-safe plan shortcuts (e.g. skipping the
        hot-bucket census when no bucket can possibly reach the threshold)
        and for the pipeline's pair counters."""
        return next(
            (int(e["rows"]) for e in reversed(self.log)
             if e["stage"] == stage and "rows" in e),
            None,
        )
