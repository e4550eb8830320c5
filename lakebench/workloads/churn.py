"""commit_churn: a long history of tiny commits on a fresh table.

Most commits are metadata-only ``add_files`` of the same small parquet file
staged during set-up; every ``APPEND_EVERY``-th commit is a small
``append``; once per pass a single ``write_stream_to_table`` query commits
``STREAM_FILES`` micro-batches. Twice per pass (mid-way and at the end) the
pass reloads the snapshot log, drains ``snapshots()``, scans the head and
reads a seeded earlier snapshot, each checked against the model. Re-registering a
live path replaces its entry, so the live file set (and every scan) stays
small while each commit still reloads and rewrites the whole snapshot log:
commit cost grows with history, the log dominates the pass and Spark
stays nearly idle.

The untimed warm-up pass runs the same kinds of operation with
``WARM_COMMITS`` commits: it warms Spark's code paths without paying for a
long history, which is pure Python and needs no warming.

One stream writer only: a second ``write_stream_to_table`` query into the
same table has its batch 0 skipped as already committed (ROADMAP item 3).
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import log as lh_log
from pyiceberg_lakehouse_spark.lakehouse import table as lh_table
from pyiceberg_lakehouse_spark.sources import synthetic
from pyiceberg_lakehouse_spark.streaming import lakehouse_io

from lakebench import model
from lakebench.harness import Run, expect
from lakebench.workloads.common import PassResult, Written, agg3, path_bytes

COMMITS = 450  # commit steps per pass (the stream step commits STREAM_FILES)
WARM_COMMITS = 100  # commit steps of the warm-up pass
APPEND_EVERY = 150
APPEND_ROWS = 50
STREAM_FILES = 2
FILE_ROWS = 20

SIZE = (f"{COMMITS + STREAM_FILES - 1} commits per pass (add_files of one {FILE_ROWS}-row file, "
        f"{APPEND_ROWS}-row append every {APPEND_EVERY}, {STREAM_FILES} stream batches)")


def _plan(commits: int) -> tuple[list[str], set[int]]:
    """The pass's steps, and the steps after which it probes: the middle
    one, just before the stream, and the last."""
    steps = []
    for i in range(commits):
        if i == commits // 2:
            steps.append("stream")
        elif i % APPEND_EVERY == 0:
            steps.append("append")
        else:
            steps.append("add_files")
    return steps, {commits // 2 - 1, commits - 1}


@dataclass
class Plan:
    steps: list[str]
    probes: set[int]
    model: model.TableModel
    step_sids: list[list[int]]  # per step: the snapshot ids it commits
    tt_targets: dict[int, int]  # per probing step: the time-travel target


class CommitChurn:
    name = "commit_churn"
    size = SIZE

    def __init__(self, spark, seed: int, selftest: bool) -> None:
        self.spark = spark
        self.selftest = selftest
        self.rng_seed = seed
        rng = np.random.default_rng(seed)
        self.lo = 1000 * int(rng.integers(0, 50))
        self.app_lo = self.lo + (1 + STREAM_FILES) * FILE_ROWS

    # --------------------------------------------------------- inputs --

    def stage(self, workdir: str) -> None:
        """Stage the add_files file and one file per stream batch."""
        stage = os.path.join(workdir, "stage")
        (
            synthetic.mock_dataset(self.spark, self.app_lo)
            .where(F.col("id") >= self.lo)
            .withColumn("f", ((F.col("id") - self.lo) / FILE_ROWS).cast("int"))
            .repartition("f")
            .write.partitionBy("f")
            .parquet(stage)
        )
        # files[0] is re-registered by every add_files; files[1:] feed the stream
        self.files = []
        for j in range(1 + STREAM_FILES):
            (path,) = glob.glob(os.path.join(stage, f"f={j}", "*.parquet"))
            self.files.append(path)

    def build_model(self) -> None:
        """The expected state after every commit, of the pass and of the warm-up."""
        rng = np.random.default_rng(self.rng_seed)
        self.plan = self._build(COMMITS, rng)
        self.warm_plan = self._build(WARM_COMMITS, rng)
        self.head_bias = 1 if self.selftest else 0

    def _build(self, commits: int, rng: np.random.Generator) -> Plan:
        steps, probes = _plan(commits)
        m = model.TableModel()
        m.commit("create")
        step_sids: list[list[int]] = []
        n_app = 0
        stream_sids: set[int] = set()
        tt_targets: dict[int, int] = {}
        for i, step in enumerate(steps):
            if step == "append":
                lo = self.app_lo + n_app * APPEND_ROWS
                ids = [np.arange(lo, lo + APPEND_ROWS)]
                n_app += 1
            elif step == "add_files":
                ids = [np.arange(self.lo, self.lo + FILE_ROWS)]
            else:
                ids = [np.arange(self.lo + b * FILE_ROWS, self.lo + (b + 1) * FILE_ROWS)
                       for b in range(1, 1 + STREAM_FILES)]
            sids = []
            for batch in ids:
                r = model.mock_rows(batch)
                m.upsert(r["id"], r["group"], r["value2"])
                sids.append(m.commit("add_files" if step == "add_files" else "append"))
            if step == "stream":
                stream_sids.update(sids)
            step_sids.append(sids)
            if i in probes:
                # time travel to an earlier snapshot whose state does not
                # depend on the order the stream read its files in
                pool = [s for s in range(1, sids[-1]) if s not in stream_sids]
                tt_targets[i] = int(rng.choice(pool))
        return Plan(steps, probes, m, step_sids, tt_targets)

    def _stream(self, t, workdir: str, tracer) -> list[dict]:
        src = os.path.join(workdir, "stream_src")
        os.makedirs(src)
        for b in range(STREAM_FILES):
            shutil.copy(self.files[1 + b], os.path.join(src, f"part-{b}.parquet"))
        schema = synthetic.mock_dataset(self.spark, 1).schema
        stream_df = self.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        query = lakehouse_io.write_stream_to_table(stream_df, t, os.path.join(workdir, "ckpt"))
        if tracer is not None:
            tracer.claim_group(str(query.runId), "streaming.lakehouse_io")
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        return [p for p in query.recentProgress if p["numInputRows"] > 0]

    # ----------------------------------------------------------- pass --

    def run_pass(self, run: Run, workdir: str, warmup: bool = False) -> PassResult:
        plan = self.warm_plan if warmup else self.plan
        lh = lh_table.Lakehouse(self.spark, workdir)
        schema = synthetic.mock_dataset(self.spark, 1).schema
        t = lh.create_table("bench.churn", schema)
        written = Written()
        n_app = 0
        batch_ms: list[float] = []
        batches = committed = 0
        for i, step in enumerate(plan.steps):
            sids = plan.step_sids[i]

            def check(out, sids=sids):
                got = out if isinstance(out, list) else [out]
                expect("snapshot ids", [s.snapshot_id for s in got], sids)

            if step == "append":
                lo = self.app_lo + n_app * APPEND_ROWS
                n_app += 1
                df = synthetic.mock_dataset(self.spark, lo + APPEND_ROWS).where(F.col("id") >= lo)
                written.add(step, run.op("write", "lakehouse.table", "append", lambda: t.append(df), check))
            elif step == "add_files":
                written.add(step, run.op("write", "lakehouse.table", "add_files",
                                         lambda: t.add_files(self.files[:1]), check), data=False)
            else:
                before = len(t.history())

                def stream_check(progress, before=before, sids=sids):
                    expect("stream batches", len(progress), STREAM_FILES)
                    t.log.load()
                    expect("stream commits", [s.snapshot_id for s in t.history()[before:]], sids)

                progress = run.op("write", "streaming.lakehouse_io", "stream",
                                  lambda: self._stream(t, workdir, run.tracer),
                                  stream_check) or []
                batches += len(progress)
                batch_ms += [float(p["durationMs"]["triggerExecution"]) for p in progress]
                t.log.load()
                new = t.history()[before:]
                committed += len(new)
                written.add(step, new)
            if i in plan.probes:
                self._probe(run, t, plan, i, sids[-1])

        counts = {
            **written.counts(),
            "lakehouse.log.bytes_end": float(path_bytes(t.log.path)),
            "streaming.lakehouse_io.batches_committed": float(committed),
            "streaming.lakehouse_io.batches_skipped": float(batches - committed),
        }
        return PassResult(
            files=written.files,
            stored_bytes=path_bytes(t.table_dir) + path_bytes(self.files[0]),
            live_rows=plan.model.states[plan.step_sids[-1][-1]][0],
            counts=counts,
            samples={"streaming.lakehouse_io.batch_ms": batch_ms},
        )

    def _probe(self, run: Run, t, plan: Plan, i: int, head_sid: int) -> None:
        m = plan.model

        def load_check(log):
            expect("log snapshots", len(log.snapshots), head_sid)

        run.op("read", "lakehouse.log", "log_load",
               lambda: lh_log.SnapshotLog(t.table_dir).load(), load_check)
        run.op("read", "lakehouse.table", "snapshots",
               lambda: [r.snapshot_id for r in t.snapshots().collect()],
               lambda ids: expect("snapshots() ids", ids, list(range(1, head_sid + 1))))
        rows, id_sum, v2_sum = m.states[head_sid]
        run.op("read", "lakehouse.table", "head_scan", lambda: agg3(t.scan()),
               lambda got: expect("head scan", got, (rows + self.head_bias, id_sum, v2_sum)))
        sid = plan.tt_targets[i]
        run.op("read", "lakehouse.table", "time_travel", lambda: agg3(t.read_snapshot(sid)),
               lambda got: expect(f"snapshot {sid}", got, m.states[sid]))
