"""The measuring loop, Spark lifecycle and metric computation of one run."""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from typing import Any

from lakebench.harness import CpuClock, PassRecord, Run, TreeSample, median, process_tree, sample_tree, tail

MAX_CORES = 4
# C1 only: with the default tiered JIT, C2 keeps compiling for passes after
# the warm-up and a pass's CPU time falls by a quarter from one pass to the
# next; C1 code is ready within the warm-up, so measured passes repeat. C1
# alone defaults to a 48 MB code cache, which Spark's generated classes
# overflow: compiled code is flushed and recompiled in bursts of up to 12 CPU
# seconds a pass. 240 MB is the tiered default.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
# no pass starts that would, at the last pass's pace, end later than this
# after process start: a run must end within 180 s on a slow host
RUN_BUDGET_S = 150


def _workload(name: str):
    if name == "lakehouse_cycle":
        from lakebench.workloads.cycle import LakehouseCycle as cls
    else:
        from lakebench.workloads.churn import CommitChurn as cls
    return cls


def _start_spark(cores: int, run_dir: str, traced: bool):
    from pyiceberg_lakehouse_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "work", "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData {JIT_OPTS} "
            f"-Dderby.system.home={os.path.join(run_dir, 'tmp')}"
        ),
    }
    if traced:
        # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    spark = get_spark(
        app_name="lakebench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and every Python
    worker it started have exited."""
    from pyspark import SparkContext

    pids = process_tree(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM's gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ------------------------------------------------------------- metrics --


def e2e_metrics(run: Run, traced: bool, setup_s: float) -> tuple[dict[str, float], dict[str, Any]]:
    """End-to-end metrics over the measured passes of one kind (traced or
    untraced), and the details behind them: wall-clock figures, the
    percentile and sample count of each tail, per-operation medians.

    The gated metrics are CPU time and bytes: on a shared VM, hypervisor
    steal moves wall-clock figures by a fifth or more between runs, and the
    JVM's heap sizing moves peak memory by a third (see README.md)."""
    passes = [p for p in run.passes if p.traced == traced]
    if not passes:
        return {}, {}
    nos = {p.pass_no for p in passes}
    ops = [o for o in run.ops if o.pass_no in nos]
    info: dict[str, Any] = {"passes": len(passes)}
    for kind in ("write", "read"):
        for field in ("cpu_ms", "ms"):
            xs = [getattr(o, field) for o in ops if o.kind == kind] or [0.0]
            p, t = tail(xs)
            info[f"{kind}_{field}"] = {"p50": median(xs), "tail": t, "percentile": p, "n": len(xs)}
    m = {
        "setup_s": setup_s,
        "cpu_s_per_pass": median([p.cpu.total_s for p in passes]),
        "write_cpu_s_per_pass": sum(o.cpu_ms for o in ops if o.kind == "write") / 1000.0 / len(passes),
        "read_cpu_s_per_pass": sum(o.cpu_ms for o in ops if o.kind == "read") / 1000.0 / len(passes),
        "stored_bytes_per_row": median([p.stored_bytes / max(p.live_rows, 1) for p in passes]),
    }
    by_op: dict[str, list[float]] = {}
    for o in ops:
        by_op.setdefault(o.name, []).append(o.ms)
    info.update({
        "pass_wall_s": median([p.wall_s for p in passes]),
        "peak_rss_mb": max(p.cpu.hwm_mb for p in passes),
        "ops_per_wall_s": len(ops) / sum(p.wall_s for p in passes),
        "ops_per_cpu_s": len(ops) / sum(p.cpu.total_s for p in passes),
        "files_per_pass": median([float(p.files) for p in passes]),
        "pass_walls_s": [round(p.wall_s, 3) for p in passes],
        "pass_cpu_s": [round(p.cpu.total_s, 2) for p in passes],
        "op_wall_p50_ms": {k: round(median(v), 1) for k, v in by_op.items()},
    })
    return m, info


def layer_metrics(run: Run, tracer, spark_counts: dict[int, dict], samples: dict[int, dict],
                  session_s: float, gen_s: float) -> dict[str, float]:
    """Per-layer metrics, averaged per traced pass."""
    from lakebench.trace import SPARK_LAYERS

    traced = [p for p in run.passes if p.traced]
    nos = {p.pass_no for p in traced}
    n = max(len(traced), 1)
    spans = [s for s in tracer.spans if s.pass_no in nos]
    by_id = {s.sid: s for s in spans}

    def durs(pred) -> list[float]:
        return [s.ms for s in spans if pred(s)]

    def p50(xs: list[float]) -> float:
        return median(xs) if xs else 0.0

    def per_pass(key: str) -> float:
        return sum(p.counts.get(key, 0.0) for p in traced) / n

    def top(s) -> bool:
        """A package call not made by another call into the same layer
        (the benchmark's own operation spans do not count as callers)."""
        parent = by_id.get(s.parent)
        return parent is None or parent.layer != s.layer or parent.extra.get("op", False)

    m: dict[str, float] = {"session.start_s": session_s, "sources.gen_s": gen_s}

    commits = durs(lambda s: s.name == "SnapshotLog.commit")
    retries = sum(
        max(0, sum(1 for c in spans if c.parent == s.sid and c.name == "SnapshotLog.load") - 1)
        for s in spans if s.name == "SnapshotLog.commit"
    )
    m.update({
        "lakehouse.log.commit_ms_p50": p50(commits),
        "lakehouse.log.commit_ms_tail": tail(commits)[1] if commits else 0.0,
        "lakehouse.log.load_ms_p50": p50(durs(lambda s: s.name == "SnapshotLog.load")),
        "lakehouse.log.replay_ms_p50": p50(durs(lambda s: s.name == "SnapshotLog.live_files")),
        "lakehouse.log.bytes_end": per_pass("lakehouse.log.bytes_end"),
        "lakehouse.log.commits": per_pass("lakehouse.log.commits"),
        "lakehouse.log.conflict_retries": retries / n,
    })

    plans = [s for s in spans if s.name in ("LakehouseTable.scan", "LakehouseTable.read_snapshot",
                                            "LakehouseTable.read_incremental") and top(s)]
    planned = sum(s.extra.get("input_files", 0) for s in plans)
    live = sum(
        c.extra.get("files", 0) for c in spans
        if c.name == "SnapshotLog.live_files" and c.parent is not None
        and any(c.parent == s.sid or by_id.get(c.parent, c).parent == s.sid for s in plans)
    )
    live_bytes = sum(p.stored_bytes for p in traced) / n
    m.update({
        "lakehouse.table.append_ms_p50": p50(durs(lambda s: s.name == "LakehouseTable.append")),
        "lakehouse.table.files_written": per_pass("lakehouse.table.files_written"),
        "lakehouse.table.bytes_written": per_pass("lakehouse.table.bytes_written"),
        "lakehouse.table.write_amp": per_pass("lakehouse.table.bytes_written") / live_bytes if live_bytes else 0.0,
        "lakehouse.table.plan_ms_p50": p50([s.ms for s in plans]),
        "lakehouse.table.files_planned": planned / n,
        "lakehouse.table.prune_ratio": planned / live if live else 0.0,
        "lakehouse.upsert.ms_p50": p50(durs(lambda s: s.layer == "lakehouse.upsert" and s.extra.get("op"))),
        "lakehouse.upsert.files_rewritten": per_pass("lakehouse.upsert.files_rewritten"),
        "lakehouse.maintenance.compact_ms": p50(durs(lambda s: s.name == "compact")),
        "lakehouse.maintenance.bytes_rewritten": per_pass("lakehouse.maintenance.bytes_rewritten"),
        "lakehouse.maintenance.files_expired": per_pass("lakehouse.maintenance.files_expired"),
        "streaming.lakehouse_io.batch_ms_p50": p50(
            [x for p in traced for x in samples.get(p.pass_no, {}).get("streaming.lakehouse_io.batch_ms", [])]),
        "streaming.lakehouse_io.batches_committed": per_pass("streaming.lakehouse_io.batches_committed"),
        "streaming.lakehouse_io.batches_skipped": per_pass("streaming.lakehouse_io.batches_skipped"),
        "operators.dedup.ms_p50": p50(durs(lambda s: s.layer == "operators.dedup" and s.extra.get("op"))),
        "operators.dedup.candidates": per_pass("operators.dedup.candidates"),
        "operators.dedup.verified_ratio": per_pass("operators.dedup.verified_ratio"),
        "operators.similarity.cosine_ms_p50": p50(durs(lambda s: s.name == "cosine_topk" and s.extra.get("op"))),
        "operators.similarity.ivf_ms_p50": p50(durs(lambda s: s.name == "ivf_topk" and s.extra.get("op"))),
        "operators.similarity.recall": per_pass("operators.similarity.recall"),
        "operators.text.ms_p50": p50(durs(lambda s: s.layer == "operators.text" and s.extra.get("op"))),
    })
    media = durs(lambda s: s.layer == "operators.multimodal" and s.extra.get("op"))
    m["operators.multimodal.ms_p50"] = p50(media)
    m["operators.multimodal.rows_per_s"] = (
        per_pass("operators.multimodal.rows") * n / (sum(media) / 1000.0) if media else 0.0)

    selfs: dict[str, float] = {}
    for p in traced:
        for layer, sec in tracer.self_times(p.pass_no).items():
            selfs[layer] = selfs.get(layer, 0.0) + sec / n
    m["lakehouse.log.self_s"] = selfs.get("lakehouse.log", 0.0)
    for layer in SPARK_LAYERS:
        for key in ("jobs", "tasks", "tasks_failed", "exec_cpu_s", "shuffle_bytes"):
            m[f"{layer}.{key}"] = sum(spark_counts.get(p.pass_no, {}).get(layer, {}).get(key, 0.0)
                                      for p in traced) / n
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    m["cpu.driver_s"] = median([p.cpu.driver_s for p in traced])
    m["cpu.jvm_s"] = median([p.cpu.jvm_s for p in traced])
    m["cpu.pyworker_s"] = median([p.cpu.pyworker_s for p in traced])
    m["mem.peak_rss_mb"] = max(p.cpu.hwm_mb for p in traced)
    return m


def pass_counts(record: PassRecord, spark: dict[str, dict] | None) -> dict[str, float]:
    """The counters of one pass compared between same-seed passes and runs."""
    keys = ("lakehouse.log.commits", "lakehouse.log.bytes_end", "lakehouse.table.files_written",
            "lakehouse.table.bytes_written", "operators.dedup.candidates")
    out = {k: record.counts[k] for k in keys if k in record.counts}
    for layer, acc in (spark or {}).items():
        if acc["jobs"]:
            out[f"{layer}.jobs"] = acc["jobs"]
            out[f"{layer}.tasks"] = acc["tasks"]
    return out


def diff_counts(a: dict[str, float], b: dict[str, float]) -> list[str]:
    return sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))


# ----------------------------------------------------------------- run --


def run_benchmark(args, spec: dict, run_dir: str) -> tuple[dict, dict]:
    import pyspark

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    run_start = time.perf_counter()
    s_start = sample_tree()
    spark = _start_spark(cores, run_dir, bool(args.trace))
    s_session = sample_tree()
    session_s = s_session.total_s - s_start.total_s
    run = Run(CpuClock())
    tracer = None
    spark_counts: dict[int, dict] = {}
    samples: dict[int, dict] = {}
    pass_diffs: list[str] = []  # counters that differ between traced passes
    run_diffs: list[str] = []  # counters that differ from the --counts file
    try:
        wl = _workload(args.workload)(spark, args.seed, args.selftest)
        work = os.path.join(run_dir, "work")
        wl.stage(os.path.join(work, "stage"))
        s_staged = sample_tree()
        gen_s = s_staged.total_s - s_session.total_s
        # the expected values are the benchmark's own work: built once, and
        # their CPU and wall time are left out of every set-up figure
        m0, w0 = time.process_time(), time.perf_counter()
        wl.build_model()
        model_cpu_s, model_wall_s = time.process_time() - m0, time.perf_counter() - w0

        def one_pass(no: int, traced: bool):
            run.pass_no = no
            run.tracer = tracer if traced else None
            if traced:
                tracer.pass_no = no
                tracer.install()
            pass_dir = os.path.join(work, "passes", f"{no:04d}")
            s0, p0 = sample_tree(), time.perf_counter()
            try:
                res = wl.run_pass(run, pass_dir, warmup=no == 0)
            except Exception:  # counted as a failed operation; the run goes on
                traceback.print_exc(file=sys.stderr)
                run.pass_failures += 1
                res = None
            finally:
                if traced:
                    tracer.uninstall()
            wall, s1 = time.perf_counter() - p0, sample_tree()
            shutil.rmtree(pass_dir, ignore_errors=True)
            if res is None:
                return None
            cpu = TreeSample(s1.driver_s - s0.driver_s, s1.jvm_s - s0.jvm_s,
                             s1.pyworker_s - s0.pyworker_s, s1.hwm_mb)
            rec = PassRecord(no, traced, wall, cpu, res.files, res.stored_bytes, res.live_rows, res.counts)
            if traced:
                spark_counts[no] = tracer.collect_spark()
                samples[no] = res.samples
                if hasattr(wl, "trace_counts"):
                    run.pass_no, run.tracer = -1, None  # an untraced op outside every measured pass
                    rec.counts.update(run.op("read", "bench", "trace_counts", wl.trace_counts) or {})
            return rec

        warm_ok = one_pass(0, False) is not None
        setup_s = sample_tree().total_s - s_start.total_s - model_cpu_s
        setup_wall_s = time.perf_counter() - run_start - model_wall_s

        if args.trace:
            from lakebench.trace import Tracer

            tracer = Tracer(spark)
        # a traced run starts with a traced pass, then alternates
        start = time.perf_counter()
        no = 0
        while warm_ok:
            no += 1
            rec = one_pass(no, bool(args.trace) and no % 2 == 1)
            if rec is None:
                break
            run.passes.append(rec)
            now = time.perf_counter()
            kinds = {p.traced for p in run.passes}
            if now - start >= args.seconds and len(kinds) == (2 if args.trace else 1):
                break
            if now - run_start + rec.wall_s > RUN_BUDGET_S:
                print("[lakebench] stopping early: another pass would overrun the run's time budget",
                      file=sys.stderr)
                break

        if args.trace and tracer is not None:
            traced_recs = [p for p in run.passes if p.traced]
            per_pass = [pass_counts(p, spark_counts.get(p.pass_no)) for p in traced_recs]
            for other in per_pass[1:]:
                pass_diffs += diff_counts(per_pass[0], other)
            if args.counts and per_pass:
                if os.path.exists(args.counts):
                    with open(args.counts) as f:
                        run_diffs += diff_counts(json.load(f), per_pass[0])
                else:
                    with open(args.counts, "w") as f:
                        json.dump(per_pass[0], f, indent=1, sort_keys=True)
            if args.spans:
                tracer.dump(args.spans)
    finally:
        t = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t

    for name in sorted(set(run_diffs)):
        print(f"[lakebench] count differs from {args.counts}: {name}", file=sys.stderr)
    untraced, info = e2e_metrics(run, False, setup_s)
    detail: dict[str, Any] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "master": f"local[{cores}]",
        "pyspark": pyspark.__version__, "size": wl.size,
        "session_cpu_s": session_s, "gen_cpu_s": gen_s, "setup_wall_s": setup_wall_s,
        "model_s": model_wall_s, "stop_s": stop_s, "untraced": untraced, "untraced_info": info,
        "failed_ratio": run.failed / max(run.attempted, 1),
        "pass_count_diffs": sorted(set(pass_diffs)),
        "run_count_diffs": sorted(set(run_diffs)),
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        traced, tinfo = e2e_metrics(run, True, setup_s)
        detail.update({"traced": traced, "traced_info": tinfo})
        values = layer_metrics(run, tracer, spark_counts, samples, session_s, gen_s) if traced else {}
        # no untraced pass fits in a run on a slow host: overhead reads 0
        for k in traced:
            if k != "setup_s":
                values[f"overhead.{k}"] = traced[k] - untraced[k] if untraced else 0.0
        values["overhead.pass_wall_s"] = tinfo["pass_wall_s"] - info["pass_wall_s"] if info else 0.0
        detail["overhead_measured"] = bool(untraced)
        names = [m["name"] for m in spec["per_layer"]]
    else:
        values = untraced
        names = [m["name"] for m in spec["end_to_end"]]
    missing = [k for k in names if k not in values]
    correct = run.failed == 0 and not run_diffs and not missing and bool(run.passes)
    if missing:
        print(f"[lakebench] metrics not produced: {missing}", file=sys.stderr)
    result = {
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed + (0 if correct or run.failed else 1),
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": units[k]} for k in names},
    }
    return detail, result
