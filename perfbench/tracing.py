"""Traced runs: per-layer spans and Spark counters (``--trace 1``).

Spark is lazy, so timing a call that only returns a DataFrame measures
nothing.  The traced run therefore works stage by stage, like
``tools/scaling_stages.py``: each layer's input is staged to parquet
once, untimed, and each layer's output is materialised inside its span
with a ``noop`` write.  Spans are recorded around calls into the
program's public functions from this file only; the program itself is
not instrumented.

Each span records name, start, end, parent span and run id, and sets a
Spark job group.  Spark's own status REST API (UI on loopback, traced
runs only) then gives per-group jobs, stages, tasks, shuffle, spill,
GC and executor run time.  Spans stay in memory and are written to
``.work/trace-<workload>-s<seed>.json`` at the end; a per-layer table
with self times and the tracing overhead goes to stderr.

Layers a workload does not run report 0.
"""
from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
import uuid
from contextlib import contextmanager

import harness as H
import inputs
import workloads as W


def per_layer_metrics() -> list:
    """(name, unit) of every per-layer metric, from BENCHMARK.json."""
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.workload = workload
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "id": len(self.spans), "group": f"{self.run_id}-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    # -- Spark status REST API -------------------------------------------

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/" \
              f"{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def join_spark(self) -> None:
        """Attach Spark counters to every span (its own job group)."""
        from py4j.protocol import Py4JError
        try:  # let the status store catch up with the listener bus
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        except Py4JError:
            time.sleep(2)
        jobs = self._get("/jobs")
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._get("/stages")}
        by_group: dict = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        for rec in self.spans:
            gj = by_group.get(rec["group"], [])
            ids = {sid for j in gj for sid in j["stageIds"]}
            st = [s for (sid, _), s in stages.items()
                  if sid in ids and s["status"] in ("COMPLETE", "FAILED")]
            rec["spark"] = {
                "jobs": len(gj),
                "stages": len(st),
                "tasks": sum(s["numCompleteTasks"] for s in st),
                "failed_tasks": sum(s["numFailedTasks"] for s in st),
                "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
                "spill_bytes": sum(s["memoryBytesSpilled"]
                                   + s["diskBytesSpilled"] for s in st),
                "gc_s": sum(s["jvmGcTime"] for s in st) / 1000.0,
                "run_s": sum(s["executorRunTime"] for s in st) / 1000.0,
                "task_skew": self._skew(st),
            }

    def _skew(self, st: list) -> float:
        """max / median task run time in the span's widest stage."""
        if not st:
            return 0.0
        s = max(st, key=lambda s: (s["numTasks"], s["stageId"]))
        q = self._get(f"/stages/{s['stageId']}/{s['attemptId']}/"
                      "taskSummary?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / max(q[0], 1.0)

    def spark_of(self, names) -> dict:
        tot: dict = {}
        for rec in self.spans:
            if rec["name"] in names:
                for k, v in rec.get("spark", {}).items():
                    tot[k] = (max(tot.get(k, 0), v) if k == "task_skew"
                              else tot.get(k, 0) + v)
        return tot

    def busy_share(self, name: str) -> float:
        return self.spark_of([name]).get("run_s", 0.0) / (
            H.CORES * max(self.wall(name), 1e-9))

    # -- output ----------------------------------------------------------

    def self_time(self, rec) -> float:
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids

    def write(self, seed: int, metrics: dict) -> str:
        path = os.path.join(H.WORK, f"trace-{self.workload}-s{seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": seed,
                       "run_id": self.run_id, "cores": H.CORES,
                       "spans": self.spans, "metrics": metrics}, f, indent=1)
        return path

    def table(self, stage_sum: float, pass_wall: float) -> None:
        out = sys.stderr
        print(f"\n{'span':28s} {'self_s':>8s} {'jobs':>5s} {'stages':>6s} "
              f"{'tasks':>6s} {'shuffle_B':>10s} {'gc_s':>6s}", file=out)
        for rec in self.spans:
            sp = rec.get("spark", {})
            print(f"{rec['name']:28s} {self.self_time(rec):8.3f} "
                  f"{sp.get('jobs', 0):5d} {sp.get('stages', 0):6d} "
                  f"{sp.get('tasks', 0):6d} "
                  f"{sp.get('shuffle_write_bytes', 0):10d} "
                  f"{sp.get('gc_s', 0.0):6.2f}", file=out)
        print(f"sum of stage spans {stage_sum:.3f} s; untraced "
              f"{'pass' if self.workload == 'pit_select' else 'step'} "
              f"{pass_wall:.3f} s; gap (tracing overhead plus the cost or "
              f"benefit of fusing the stages) {stage_sum - pass_wall:+.3f} s",
              file=out)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _emit(run, tracer: Tracer, values: dict, stage_sum: float,
          pass_wall: float) -> None:
    tracer.join_spark()
    layer_spans = [s["name"] for s in tracer.spans]
    sp = tracer.spark_of(layer_spans)
    values.update({f"spark.{k}": sp.get(k, 0) for k in (
        "jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
        "spill_bytes", "gc_s")})
    values.update({"trace.stage_sum_s": stage_sum,
                   "trace.pass_wall_s": pass_wall})
    for name in ("timeline", "asof"):
        if name in layer_spans:
            s = tracer.spark_of([name])
            values[f"{name}.shuffle_write_bytes"] = s["shuffle_write_bytes"]
            values[f"{name}.spark_jobs"] = s["jobs"]
            values[f"{name}.task_skew"] = s["task_skew"]
    for name, key in (("fused_scan", "fused_scan"), ("featurize", "featurize"),
                      ("selection.stats", "selection")):
        if name in layer_spans:
            values[f"{key}.slot_busy_share"] = tracer.busy_share(name)
    if values.get("selection.stats_wall_s"):
        values["kernels.busy_share"] = (
            values["selection.minibatches"] * values["kernels.minibatch_ms"]
            / 1000.0 / (H.CORES * values["selection.stats_wall_s"]))
    metrics = {k: (float(values.get(k, 0)), u) for k, u in per_layer_metrics()}
    tracer.table(stage_sum, pass_wall)
    H.log(f"spans written to {tracer.write(run.seed, values)}")
    run.spark.stop()
    H.emit(run.ledger, metrics)


# ---------------------------------------------------------------------------
# kernels and LAR, called directly (single-threaded, no Spark)
# ---------------------------------------------------------------------------

def kernel_counts(b: int, d: int) -> tuple:
    """Computed, not measured: flops and bytes streamed by one
    ``batch_sufficient_stats`` call with an RBF x-kernel at (b, d),
    from the loop structure in ``hiselspark/kernels.py``.

    flops: the (d, b, b) Gram tensor is formed twice (row means, then
    tiles; 4 flops per entry plus one exp counted as one), centred in
    the tiles (3 flops per entry) and contracted by ``phi^T phi``
    (2 d flops per entry) and ``phi^T psi`` (2 per entry).
    bytes: float64 tile entries written when formed, read and written
    when centred, read by the two contractions; plus the row-mean pass
    writing and reading its Gram rows once."""
    entries = d * b * b
    flops = entries * (5 + 5 + 3 + 2 * d + 2)
    nbytes = 8 * entries * (1 + 2 + 2) + 8 * entries * 2
    return float(flops), float(nbytes)


def time_kernel(b: int, d: int, seed: int, reps: int = 5) -> float:
    """Median wall of one minibatch's sufficient statistics, in ms, on
    one thread, for the selector's all-continuous (RBF) case."""
    import numpy as np
    from hiselspark.kernels import KernelKind, batch_sufficient_stats
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((b, d))
    y = rng.standard_normal((b, 1))
    walls = []
    for _ in range(reps + 1):
        t0 = H.now()
        batch_sufficient_stats(x, y, KernelKind.RBF, KernelKind.RBF,
                               x_bandwidth=1.0, y_bandwidth=1.0)
        walls.append(H.now() - t0)
    return 1000.0 * H.median(walls[1:])


def time_lar(xtx, xty, k: int, reps: int = 21) -> tuple:
    from hiselspark import lar
    walls, steps = [], 0
    for _ in range(reps):
        t0 = H.now()
        _, path = lar.solve_gram(xtx, xty, k)
        walls.append(H.now() - t0)
        steps = len(path)
    return 1000.0 * H.median(walls), steps


# ---------------------------------------------------------------------------
# pit_select
# ---------------------------------------------------------------------------

def _rows(path: str) -> int:
    import glob
    return W._parquet_rows(sorted(glob.glob(f"{path}/*.parquet")))


def traced_pit_select(run) -> None:
    import pandas as pd
    from pyspark.sql import functions as F
    from hiselspark.operators.chunked import (chunked_asof_join,
                                              release_chunk_caches)
    from hiselspark.pipeline import assemble_training_frame, engineer_timeline
    from hiselspark.selection import SparkHSICSelector
    from hiselspark.sources.fused_scan import featurize_images_fused

    p = run.params("pit_select")
    corpus = inputs.stage_pointintime(run.seed, p["n_images"],
                                      p["n_labels"], p["files"])
    images = f"{corpus}/images"
    spark = run.spark = H.start_session(ui=True)
    labels = W._labels(spark, f"{corpus}/labels")

    # stage every layer's input, untimed
    inter = H.fresh_dir(os.path.join(H.WORK, "live", "pit_select-trace"))
    featurize_images_fused(spark, images).write.parquet(f"{inter}/feats")
    engineer_timeline(spark.read.parquet(f"{inter}/feats"),
                      bucket_seconds=W.BUCKET_S).write.parquet(
                          f"{inter}/timeline")
    frame, fcols = assemble_training_frame(images, labels,
                                           bucket_seconds=W.BUCKET_S)
    frame.write.parquet(f"{inter}/ptframe")
    release_chunk_caches()
    sel_cols = [c for c in fcols if c != "session_id"]
    spark.read.parquet(f"{inter}/ptframe").select(
        F.col("y").cast("double").alias("y"),
        *[F.col(c).cast("double").alias(c) for c in sel_cols]).write.parquet(
            f"{inter}/frame")

    # the zero-leakage oracle reads the staged engine outputs
    run.ledger.guard("pit_select oracle", lambda: run.ledger.record(
        *W.pit_oracle(pd.read_parquet(f"{inter}/ptframe"),
                      pd.read_parquet(f"{inter}/timeline"),
                      pd.read_parquet(f"{corpus}/labels"), fcols,
                      run.seed, p["oracle_entities"])))

    tr = Tracer(spark, "pit_select")
    v: dict = {}
    with tr.span("fused_scan"):
        _noop(featurize_images_fused(spark, images))
    v["fused_scan.wall_s"] = tr.wall("fused_scan")
    v["fused_scan.rows_out"] = _rows(f"{inter}/feats")
    v["fused_scan.bytes_read"] = sum(
        os.path.getsize(os.path.join(images, f)) for f in os.listdir(images))

    with tr.span("timeline"):
        _noop(engineer_timeline(spark.read.parquet(f"{inter}/feats"),
                                bucket_seconds=W.BUCKET_S))
        release_chunk_caches()
    v["timeline.wall_s"] = tr.wall("timeline")
    v["timeline.rows_out"] = _rows(f"{inter}/timeline")

    with tr.span("asof"):
        tl = spark.read.parquet(f"{inter}/timeline")
        vcols = [c for c in tl.columns if c not in ("entity_id", "ts")]
        lab = labels.withColumnRenamed("label_ts", "ts")
        _noop(chunked_asof_join(lab, tl, on="entity_id", left_ts="ts",
                                right_ts="ts", value_cols=vcols,
                                bucket_seconds=W.BUCKET_S)
              .dropna(subset=vcols))
        release_chunk_caches()
    v["asof.wall_s"] = tr.wall("asof")
    v["asof.labels_in"] = _rows(f"{corpus}/labels")
    v["asof.rows_out"] = _rows(f"{inter}/ptframe")
    v["asof.match_ratio"] = v["asof.rows_out"] / max(v["asof.labels_in"], 1)

    fr = spark.read.parquet(f"{inter}/frame")
    cols = [c for c in fr.columns if c != "y"]
    with tr.span("selection.stats"):
        stats = SparkHSICSelector(fr, cols, ["y"]).sufficient_stats(
            minibatch_size=p["b"], mode="scale")
    with tr.span("selection.run"):
        SparkHSICSelector(fr, cols, ["y"]).run(
            number_of_features=p["k"], minibatch_size=p["b"], mode="scale")
    xtx, xty, used, mbs = stats[0]
    v["selection.stats_wall_s"] = tr.wall("selection.stats")
    v["selection.run_wall_s"] = tr.wall("selection.run")
    v["selection.rows_in"] = _rows(f"{inter}/frame")
    v["selection.rows_used"] = used
    v["selection.use_ratio"] = used / max(v["selection.rows_in"], 1)
    v["selection.minibatches"] = mbs

    d = len(cols)
    v["kernels.minibatch_ms"] = time_kernel(p["b"], d, run.seed)
    v["kernels.flops_per_minibatch"], v["kernels.bytes_per_minibatch"] = \
        kernel_counts(p["b"], d)
    v["lar.solve_ms"], v["lar.steps"] = time_lar(xtx, xty, p["k"])

    # untraced end-to-end pass, after the layers ran twice
    t0 = H.now()
    res = run.ledger.guard("pit_select pass", lambda: W.pit_pass(spark, corpus, p))
    pass_wall = H.now() - t0
    if res is not None:
        run.ledger.record(W.selection_ok(res.features), "pit_select pass",
                          f"features={res.features}")

    stage_sum = sum(tr.wall(n) for n in
                    ("fused_scan", "timeline", "asof", "selection.run"))
    _emit(run, tr, v, stage_sum, pass_wall)


# ---------------------------------------------------------------------------
# catchup_ingest
# ---------------------------------------------------------------------------

def traced_catchup_ingest(run) -> None:
    from hiselspark.incremental import (SOURCE_VERSION_PROP, catchup,
                                        processed_source_version)
    from hiselspark.pipeline import featurize_images

    state = W.Catchup(run)
    src, drv = state.src, state.drv
    spark = run.spark = H.start_session(ui=True)
    state.step(spark)                       # cold
    walls = [w for w in (state.step(spark) for _ in range(2)) if w]
    pass_wall = H.median([w for _, w in walls])

    tr = Tracer(spark, "catchup_ingest")
    v: dict = {}
    with tr.span("catchup.poll"):
        first_poll = catchup(spark, src, drv, featurize_images)
    appended, want = state.append(spark)
    done = processed_source_version(drv)
    before = set(drv.current().files)
    with tr.span("snapshots.log_read"):
        snaps = src.snapshots()
    with tr.span("snapshots.read_incremental"):
        delta = src.read_incremental(spark, from_version=done,
                                     to_version=appended.version)
        _noop(delta)
    with tr.span("featurize"):
        _noop(featurize_images(delta))
    staged = os.path.join(H.WORK, "live", "catchup-trace-delta")
    featurize_images(delta).write.mode("overwrite").parquet(staged)
    with tr.span("snapshots.commit"):
        snap = drv.write(spark.read.parquet(staged), mode="append",
                         properties={SOURCE_VERSION_PROP:
                                     str(appended.version)})
    poll = catchup(spark, src, drv, featurize_images)
    run.ledger.record(first_poll is None, "catchup poll",
                      "poll before the append was not a no-op")
    state.check(snap, poll, before)
    state.check_totals()

    log = src.log_dir
    v["snapshots.log_read_s"] = tr.wall("snapshots.log_read")
    v["snapshots.read_incremental_s"] = tr.wall("snapshots.read_incremental")
    v["snapshots.commit_s"] = tr.wall("snapshots.commit")
    v["snapshots.versions"] = len(snaps)
    v["snapshots.log_bytes"] = sum(os.path.getsize(os.path.join(log, f))
                                   for f in os.listdir(log))
    v["catchup.poll_s"] = tr.wall("catchup.poll")
    v["featurize.wall_s"] = tr.wall("featurize")
    v["featurize.rows"] = want
    stage_sum = sum(tr.wall(n) for n in (
        "snapshots.log_read", "snapshots.read_incremental", "featurize",
        "snapshots.commit"))
    _emit(run, tr, v, stage_sum, pass_wall)


TRACED = {
    "pit_select": traced_pit_select,
    "catchup_ingest": traced_catchup_ingest,
}
