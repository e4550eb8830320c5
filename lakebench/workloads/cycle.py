"""lakehouse_cycle: the paper's pipeline on a fresh partitioned table, then curation.

One pass: partitioned ingest, a small append, a partition-scoped upsert, a
copy-on-write ``delete_where``, a merge-on-read ``delete_keys``, a CDC
``apply_changes``; then a full scan, a partition-pruned scan, time travel,
an incremental read and the ``snapshots()`` metadata table; then
``compact``, ``expire_snapshots`` and a final scan; then the curation
operators of ``curation.CurationStage`` over stored document and embedding
tables. Every read is checked against ``model``.

The copy-on-write delete runs before the merge-on-read deletes because
``delete_where`` rewrites files without applying pending equality deletes,
which brings deleted rows back (see README.md, "Known defects").
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import maintenance as lh_maint
from pyiceberg_lakehouse_spark.lakehouse import table as lh_table
from pyiceberg_lakehouse_spark.lakehouse import upsert as lh_upsert
from pyiceberg_lakehouse_spark.sources import synthetic

from lakebench import model
from lakebench.harness import Run, expect
from lakebench.workloads import curation
from lakebench.workloads.common import PassResult, Written, agg3, path_bytes

ROWS = 5_000
APPEND_ROWS = 500
NEW_KEYS = 100  # ids past the appended range that only the upserts insert

SIZE = (f"{ROWS} rows ingested + {APPEND_ROWS} appended into 4 group partitions, 14 table "
        f"operations; curation of {curation.SIZE}")


class LakehouseCycle:
    name = "lakehouse_cycle"
    size = SIZE

    def __init__(self, spark, seed: int, selftest: bool) -> None:
        self.spark = spark
        self.selftest = selftest
        rng = np.random.default_rng(seed)
        self.lo = 1000 * int(rng.integers(0, 50))
        self.hi = self.lo + ROWS
        self.app_hi = self.hi + APPEND_ROWS
        self.new_hi = self.app_hi + NEW_KEYS
        odd = lambda: int(rng.integers(1, 500)) * 2 + 1  # noqa: E731
        self.ups = (odd(), int(rng.integers(0, 40)), 40)
        self.dels = (odd(), int(rng.integers(0, 61)), 61)
        self.chg = (odd(), int(rng.integers(0, 43)), 43)
        self.v2_cut = int(rng.integers(5, 16))
        self.scan_group = "ABCD"[int(rng.integers(0, 4))]
        # time-travel target: the state after ingest, append or upsert
        self.tt_step = int(rng.integers(0, 3))
        self.curation = curation.CurationStage(spark, rng)

    # --------------------------------------------------------- inputs --

    def stage(self, workdir: str) -> None:
        self.curation.stage(workdir)

    def build_model(self) -> None:
        """Expected table states (the table's inputs are lazy frames) and
        expected curation results."""
        self.curation.build_model()
        m = model.TableModel()
        m.commit("create")
        base = model.mock_rows(np.arange(self.lo, self.hi))
        m.upsert(base["id"], base["group"], base["value2"])
        self.sid_ingest = m.commit("append")
        app = model.mock_rows(np.arange(self.hi, self.app_hi))
        m.upsert(app["id"], app["group"], app["value2"])
        self.sid_append = m.commit("append")
        self.incr = (len(app["id"]), int(app["id"].sum()), int(app["value2"].sum()))
        ids = np.arange(self.lo, self.new_hi)
        u = model.mock_rows(ids[model.member(ids, *self.ups)])
        m.upsert(u["id"], u["group"], u["value2"] + 5000)
        self.sid_upsert = m.commit("replace")
        m.delete_where_value2_le(self.v2_cut)
        m.commit("replace")
        m.delete(ids[model.member(ids, *self.dels)])
        m.commit("delete")
        c = model.mock_rows(ids[model.member(ids, *self.chg)])
        even = c["id"] % 2 == 0
        m.upsert(c["id"][even], c["group"][even], c["value2"][even] + 7000)
        m.commit("replace")
        m.delete(c["id"][~even])
        self.sid_head = m.commit("delete")
        self.ops = list(m.ops)
        self.head = m.states[self.sid_head]
        self.group_head = m.aggregate(self.scan_group)
        self.tt_sid = (self.sid_ingest, self.sid_append, self.sid_upsert)[self.tt_step]
        self.tt_state = m.states[self.tt_sid]
        if self.selftest:
            self.head = (self.head[0] + 1, *self.head[1:])

    def _rows(self, lo: int, hi: int, where: str | None = None):
        df = synthetic.mock_dataset(self.spark, hi).where(F.col("id") >= lo)
        return df.where(where) if where else df

    # ----------------------------------------------------------- pass --

    def run_pass(self, run: Run, workdir: str, warmup: bool = False) -> PassResult:
        """One pass; the warm-up pass is the same pass."""
        lh = lh_table.Lakehouse(self.spark, workdir)
        schema = synthetic.mock_dataset(self.spark, 1).schema
        t = lh.create_table("bench.cycle", schema, partition_by=["group"])
        written = Written()

        def write(layer, name, call, sid):
            def check(snap):
                got = snap[-1] if isinstance(snap, list) else snap
                expect(f"{name} snapshot id", got.snapshot_id, sid)
            return written.add(name, run.op("write", layer, name, call, check))

        layer_t, layer_u = "lakehouse.table", "lakehouse.upsert"
        write(layer_t, "ingest", lambda: t.append(self._rows(self.lo, self.hi)), self.sid_ingest)
        write(layer_t, "append", lambda: t.append(self._rows(self.hi, self.app_hi)), self.sid_append)
        ups = self._rows(self.lo, self.new_hi, model.member_sql("id", *self.ups)).withColumn(
            "value2", F.col("value2") + 5000)
        write(layer_u, "upsert", lambda: lh_upsert.upsert_partitioned(t, ups, ["id"]), self.sid_upsert)
        write(layer_t, "delete_where", lambda: t.delete_where(F.col("value2") <= self.v2_cut),
              self.sid_upsert + 1)
        keys = self._rows(self.lo, self.new_hi, model.member_sql("id", *self.dels)).select("id")
        write(layer_t, "delete_keys", lambda: t.delete_keys(keys, ["id"]), self.sid_upsert + 2)
        changes = (
            self._rows(self.lo, self.new_hi, model.member_sql("id", *self.chg))
            .withColumn("_op", F.when(F.col("id") % 2 == 0, "upsert").otherwise("delete"))
            .withColumn("value2", F.col("value2") + 7000)
        )
        write(layer_u, "apply_changes", lambda: lh_upsert.apply_changes(t, changes, ["id"]), self.sid_head)

        run.op("read", layer_t, "full_scan", lambda: agg3(t.scan()),
               lambda got: expect("full scan", got, self.head))
        run.op("read", layer_t, "partition_scan",
               lambda: agg3(t.scan(partition_filter={"group": self.scan_group})),
               lambda got: expect(f"group {self.scan_group} scan", got, self.group_head))
        run.op("read", layer_t, "time_travel", lambda: agg3(t.read_snapshot(self.tt_sid)),
               lambda got: expect(f"snapshot {self.tt_sid}", got, self.tt_state))
        run.op("read", layer_t, "incremental",
               lambda: agg3(t.read_incremental(self.sid_ingest, self.sid_append)),
               lambda got: expect("incremental read", got, self.incr))
        run.op("read", layer_t, "snapshots",
               lambda: [r.operation for r in sorted(t.snapshots().collect())],
               lambda got: expect("snapshot operations", got, self.ops))

        write("lakehouse.maintenance", "compact", lambda: lh_maint.compact(t), self.sid_head + 1)
        expired = run.op("write", "lakehouse.maintenance", "expire",
                         lambda: lh_maint.expire_snapshots(t, keep_last=1),
                         lambda paths: expect("history after expiry", len(t.history()), 1))
        run.op("read", layer_t, "final_scan", lambda: agg3(t.scan()),
               lambda got: expect("scan after maintenance", got, self.head))

        counts = {
            **self.curation.run_ops(run),
            **written.counts(),
            "lakehouse.log.bytes_end": float(path_bytes(t.log.path)),
            "lakehouse.upsert.files_rewritten": float(
                written.removed["upsert"] + written.removed["apply_changes"]),
            "lakehouse.maintenance.bytes_rewritten": float(written.bytes_by_op["compact"]),
            "lakehouse.maintenance.files_expired": float(len(expired or [])),
        }
        return PassResult(files=written.files, stored_bytes=path_bytes(t.table_dir),
                          live_rows=self.head[0], counts=counts)

    def trace_counts(self) -> dict[str, float]:
        return self.curation.trace_counts()
