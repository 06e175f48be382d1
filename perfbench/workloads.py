"""The benchmark's workloads and their correctness gates.

Every workload is a closed loop with one client in one Spark session:
the next pass (or catch-up step) starts only after the previous one
returned.  A run is

1. staging: the seeded inputs, cached per seed, untimed;
2. the cold operation: Spark session start and the first operation.
   ``setup_s`` is the wall from process start to its end, less the
   staging time;
3. warm-up: more operations in the same session, untimed, for
   ``WARMUP_S`` seconds and at least one operation;
4. timed operations until ``seconds`` have passed since the warm-up
   ended and at least ``MIN_TIMED`` were made.  Throughput and latency
   are medians over the successful timed operations;
5. the end-of-run checks and ``peak_rss_mb``.

Sizes are in ``SIZES``; ``--smoke`` selects the tiny ones.
"""
from __future__ import annotations

import glob
import os

import harness as H
import inputs

# the JIT is still compiling the hot paths after the cold operation:
# the second pit_select pass of a session is ~15% slower than the
# third, and the first four catch-up steps after the cold one ~20%
# slower than the later ones.  A second untimed pit_select pass cost
# 10 s a run and did not narrow the spread over seeds.
WARMUP_S = 8.0
MIN_TIMED = 3
BUCKET_S = 7 * 86400.0

SIZES = {
    "full": {
        "pit_select": dict(n_images=4000, n_labels=4000, files=8,
                           b=200, k=4, oracle_entities=4),
        "catchup_ingest": dict(history=160, history_rows=25, appends=3,
                               append_rows=2000, append_files=4),
    },
    "smoke": {
        "pit_select": dict(n_images=1600, n_labels=1600, files=4,
                           b=100, k=4, oracle_entities=3),
        "catchup_ingest": dict(history=6, history_rows=10, appends=3,
                               append_rows=40, append_files=2),
    },
}


class Run:
    """State of one benchmark invocation: ledger, staging time, session."""

    def __init__(self, seed: int, seconds: float, size: str,
                 fail: bool = False):
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.ledger = H.Ledger(fail)
        self.staging_s = 0.0
        self.spark = None

    def params(self, workload: str) -> dict:
        return SIZES[self.size][workload]

    def stage(self, build):
        """Run ``build()`` (input staging) and keep its wall out of
        ``setup_s``."""
        t0 = H.now()
        out = build()
        self.staging_s += H.now() - t0
        return out

    def operate(self, op) -> tuple:
        """Phases 2 to 4 of the module docstring.  ``op(spark)`` performs
        one operation and returns (rows, seconds), or None when it
        failed.  Returns (setup_s, timed values)."""
        self.spark = H.start_session()
        op(self.spark)
        setup = H.since_process_start() - self.staging_s
        H.log(f"cold operation done: setup {setup:.2f} s")
        n, t_warm, v = 0, H.now(), None
        # a failed operation ends the warm-up
        while n < 1 or (v is not None and H.now() - t_warm < WARMUP_S):
            v = op(self.spark)
            n += 1
            H.log(f"warm-up {n}: {v}")
        timed: list = []
        n, t_timed = 0, H.now()
        # with every operation failing, stop after MIN_TIMED
        while n < MIN_TIMED or (timed and H.now() - t_timed < self.seconds):
            v = op(self.spark)
            n += 1
            H.log(f"timed {n}: {v}")
            if v is not None:
                timed.append(v)
        return setup, timed

    def finish(self, setup: float, ops: list) -> None:
        """Print the end-to-end metrics from the set-up and the timed
        operations' (rows, seconds), then stop the session.  With no
        successful timed operation the medians read 0."""
        metrics = {
            "rows_per_s": (H.median([r / s for r, s in ops]), "rows/s"),
            "step_s": (H.median([s for _, s in ops]), "s"),
            "setup_s": (setup, "s"),
            "peak_rss_mb": (H.peak_rss_mb(), "MB"),
        }
        self.spark.stop()
        H.emit(self.ledger, metrics)


# ---------------------------------------------------------------------------
# pit_select: the north query end to end
# ---------------------------------------------------------------------------

def _labels(spark, path):
    from pyspark.sql import functions as F
    return (spark.read.parquet(path)
            .withColumn("label_ts", F.col("label_ts").cast("timestamp")))


def pit_pass(spark, corpus: str, p: dict):
    from hiselspark.operators.chunked import release_chunk_caches
    from hiselspark.pipeline import select_features_pointintime
    res = select_features_pointintime(
        f"{corpus}/images", _labels(spark, f"{corpus}/labels"),
        number_of_features=p["k"], minibatch_size=p["b"], mode="scale",
        bucket_seconds=BUCKET_S, precision="float64")
    release_chunk_caches()
    return res


def selection_ok(features) -> bool:
    """The labels depend on phash bits 0 and 7 and the caption token
    count (``datagen.labels``): both bits must be selected, and every
    other pick must be a caption length/token feature."""
    return ({"pbit0", "pbit7"} <= set(features)
            and all(f in ("pbit0", "pbit7") or f.startswith("caption_")
                    for f in features))


def run_pit_select(run: Run) -> None:
    p = run.params("pit_select")
    corpus = run.stage(lambda: inputs.stage_pointintime(
        run.seed, p["n_images"], p["n_labels"], p["files"]))
    rows_seen: list = []

    def one(spark):
        t0 = H.now()
        res = run.ledger.guard("pit_select pass",
                               lambda: pit_pass(spark, corpus, p))
        wall = H.now() - t0
        if res is None:
            return None
        ok = selection_ok(res.features) and (
            not rows_seen or res.n_rows_used == rows_seen[0])
        rows_seen.append(res.n_rows_used)
        if not run.ledger.record(
                ok, "pit_select pass",
                f"features={res.features} rows={res.n_rows_used} "
                f"first={rows_seen[0]}"):
            return None
        return res.n_rows_used, wall

    run.finish(*run.operate(one))


def _naive_utc(col):
    import pandas as pd
    col = pd.to_datetime(col)
    if col.dt.tz is not None:
        col = col.dt.tz_convert(None)
    return col.astype("datetime64[ns]")


def pit_oracle(frame, timeline, labels, fcols, seed: int,
               n_entities: int) -> tuple:
    """Zero-leakage gate on pandas copies of the engine's outputs:
    for sampled entities (always the hot entity ``e000000``), pandas
    ``merge_asof(direction='backward')`` of the labels onto the
    engine's timeline features must reproduce the engine's
    point-in-time training frame (``assemble_training_frame``)."""
    import numpy as np
    import pandas as pd

    others = sorted(set(labels["entity_id"]) - {"e000000"})
    rng = np.random.default_rng(seed)
    sample = ["e000000"] + sorted(rng.choice(
        others, min(len(others), n_entities - 1), replace=False).tolist())

    def pick(df, ts):
        df = df[df["entity_id"].isin(sample)].copy()
        df[ts] = _naive_utc(df[ts])
        return df.sort_values(ts, kind="stable")

    left = pick(labels, "label_ts").rename(columns={"label_ts": "ts"})
    right = pick(timeline, "ts")
    eng = pick(frame, "ts")
    eng["__matched_ts"] = _naive_utc(eng["__matched_ts"])
    if (eng["__matched_ts"] > eng["ts"]).any():
        return False, "pit_select oracle", "feature row after its label"
    want = pd.merge_asof(
        left, right[["entity_id", "ts"]].assign(mts=right["ts"])
        .drop_duplicates(), on="ts", by="entity_id", direction="backward")
    # a label's vector is the feature row at its matched timestamp;
    # several feature rows may share one timestamp, any is valid
    cand = right.groupby(["entity_id", "ts"])
    kept = []
    for row in want.itertuples(index=False):
        if pd.isna(row.mts):
            continue
        rows = cand.get_group((row.entity_id, row.mts))[fcols].dropna()
        if len(rows):
            kept.append((row.entity_id, row.ts, row.y, rows))
    eng = eng.sort_values(["entity_id", "ts", "y"], kind="stable")
    if len(kept) != len(eng):
        return (False, "pit_select oracle",
                f"rows engine={len(eng)} oracle={len(kept)}")
    kept.sort(key=lambda t: (t[0], t[1], t[2]))
    vecs = eng[fcols].to_numpy(dtype=float)
    for (ent, ts, _, rows), e, t, vec in zip(
            kept, eng["entity_id"], eng["ts"], vecs):
        if (ent, ts) != (e, t) or not any(
                np.allclose(vec, r, rtol=1e-9, atol=1e-9, equal_nan=True)
                for r in rows.to_numpy(dtype=float)):
            return False, "pit_select oracle", f"mismatch at {ent} {ts}"
    return True, "pit_select oracle", ""


# ---------------------------------------------------------------------------
# catchup_ingest: the write path
# ---------------------------------------------------------------------------

def stage_catchup(run: Run, p: dict, live: str) -> str:
    """A source SnapshotTable with ``history`` append versions, built at
    ``live`` once per seed and kept pristine in the cache, plus the
    parquet batches the run appends.  The history is committed with the
    table's own commit routine on files written here, so ~160 versions
    cost no Spark job each."""
    import shutil

    from hiselspark import datagen
    from hiselspark.sources.snapshots import SnapshotTable, _file_column_stats

    hist = p["history"] * p["history_rows"]

    def build(d):
        df = inputs.images_frame(hist + p["appends"] * p["append_rows"],
                                 run.seed, n_entities=max(hist // 50, 1))
        for i in range(p["appends"]):
            lo = hist + i * p["append_rows"]
            inputs.write_parts(df.iloc[lo:lo + p["append_rows"]],
                               f"{d}/appends/a{i:03d}", p["append_files"])
        H.fresh_dir(live)
        src = SnapshotTable(f"{live}/source")
        files, stats = [], {}
        for v in range(p["history"]):
            f = inputs.write_parquet(
                df.iloc[v * p["history_rows"]:(v + 1) * p["history_rows"]],
                f"{src.data_dir}/h{v:04d}/part-00000.parquet")
            files.append(f)
            stats[f] = _file_column_stats(f)
            src._commit(list(files), "append", stats=stats,
                        schema_json=datagen.IMAGE_SCHEMA.json())
        shutil.copytree(live, f"{d}/tables")

    return inputs.cached(
        f"catchup_ingest-s{run.seed}-h{p['history']}x{p['history_rows']}"
        f"-a{p['appends']}x{p['append_rows']}x{p['append_files']}", build)


def _parquet_rows(files) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class Catchup:
    """The live source/derived tables of one run and its append loop."""

    def __init__(self, run: Run):
        import itertools

        from hiselspark.sources.snapshots import SnapshotTable

        self.run = run
        self.p = run.params("catchup_ingest")
        live = os.path.join(H.WORK, "live", "catchup_ingest")
        self.staged = run.stage(lambda: stage_catchup(run, self.p, live))
        run.stage(lambda: inputs.restore(f"{self.staged}/tables", live))
        self.src = SnapshotTable(f"{live}/source")
        self.drv = SnapshotTable(f"{live}/derived")
        self.source_rows = _parquet_rows(self.src.current().files)
        self.derived_rows = 0
        # re-appending a staged batch is a new ingest of the same rows
        self.batches = itertools.cycle(
            sorted(os.listdir(f"{self.staged}/appends")))

    def append(self, spark):
        """Commit the next staged batch to the source table; returns
        (snapshot, rows)."""
        path = f"{self.staged}/appends/{next(self.batches)}"
        snap = self.src.write(spark.read.parquet(path), mode="append")
        rows = _parquet_rows(glob.glob(f"{path}/*.parquet"))
        self.source_rows += rows
        return snap, rows

    def check(self, snap, poll, before: set) -> bool:
        """The step's derived snapshot covers the source's current
        version, adds exactly the source rows the derived table lacked,
        and the poll after it is a no-op."""
        from hiselspark.incremental import SOURCE_VERSION_PROP
        new = [f for f in snap.files if f not in before] if snap else []
        rows, want = _parquet_rows(new), self.source_rows - self.derived_rows
        self.derived_rows += rows
        return self.run.ledger.record(
            snap is not None and poll is None and rows == want
            and int(snap.properties.get(SOURCE_VERSION_PROP, -1))
            == self.src.current().version,
            "catchup step", f"snap={snap and snap.version} poll={poll} "
            f"rows={rows} want={want}")

    def step(self, spark):
        """One closed-loop operation: append, catch up, poll.  Returns
        (rows caught up, seconds from the append's commit to the
        derived commit) or None.  The derived table starts empty, so
        the first step also featurizes the whole history."""
        from hiselspark.incremental import catchup
        from hiselspark.pipeline import featurize_images
        cur = self.drv.current()
        before = set(cur.files) if cur else set()
        rows_before = self.derived_rows

        def go():
            appended, _ = self.append(spark)
            snap = catchup(spark, self.src, self.drv, featurize_images)
            return appended, snap, catchup(spark, self.src, self.drv,
                                           featurize_images)

        got = self.run.ledger.guard("catchup step", go)
        if got is None or not self.check(*got[1:], before):
            return None
        return (self.derived_rows - rows_before,
                got[1].committed_at - got[0].committed_at)

    def check_totals(self) -> None:
        drv = self.drv.current()
        self.run.ledger.record(
            drv is not None and _parquet_rows(drv.files)
            == _parquet_rows(self.src.current().files),
            "catchup totals", "derived rows != source rows")


def run_catchup_ingest(run: Run) -> None:
    state = Catchup(run)
    setup, steps = run.operate(state.step)
    state.check_totals()
    run.finish(setup, steps)


WORKLOADS = {
    "pit_select": run_pit_select,
    "catchup_ingest": run_catchup_ingest,
}
