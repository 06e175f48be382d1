"""Seeded, cached input staging.  The seed reaches the generators only;
the program sees parquet paths and snapshot tables.

``datagen.images`` / ``datagen.labels`` build their rows with pandas
functions handed to ``spark.range(...).mapInPandas``.  ``_Captured``
stands in for the session so those functions run in this process, with
no JVM: staging stays out of the Spark application and its cost does
not depend on JIT state.  Each input is staged once per (workload,
seed, size) under ``.work/cache`` and reused by later runs.
"""
from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import CACHE, fresh_dir

THUMB_SIZES = (32, 64, 128)


class _Captured:
    """Minimal ``SparkSession`` stand-in: ``range().mapInPandas(fn)``
    evaluates ``fn`` on one in-process id frame."""

    def range(self, start, end, numPartitions=None):
        self._ids = np.arange(start, end, dtype=np.int64)
        return self

    def mapInPandas(self, fn, schema):
        frames = list(fn(iter([pd.DataFrame({"id": self._ids})])))
        return pd.concat(frames, ignore_index=True)


def _utc(df: pd.DataFrame, col: str) -> pd.DataFrame:
    # tz-aware UTC instants read back as Spark TimestampType (LTZ),
    # exactly what datagen's Spark path writes
    df[col] = pd.to_datetime(df[col]).dt.tz_localize("UTC")
    return df


def images_frame(n_rows: int, seed: int, n_entities: int = 0) -> pd.DataFrame:
    from hiselspark import datagen
    df = datagen.images(_Captured(), n_rows, n_entities=n_entities,
                        seed=seed, sizes=THUMB_SIZES)
    return _utc(df, "ts")


def labels_frame(n_rows: int, n_labels: int, seed: int) -> pd.DataFrame:
    from hiselspark import datagen
    df = datagen.labels(_Captured(), n_rows, n_labels=n_labels, seed=seed)
    return _utc(df, "label_ts")


def write_parquet(df: pd.DataFrame, path: str) -> str:
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.cast(pa.schema([
        pa.field(f.name, pa.timestamp("us", tz="UTC"))
        if pa.types.is_timestamp(f.type) else f for f in table.schema]))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def write_parts(df: pd.DataFrame, directory: str, parts: int) -> list:
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, len(df), parts + 1).astype(int)
    return [write_parquet(df.iloc[lo:hi],
                          os.path.join(directory, f"part-{i:05d}.parquet"))
            for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))]


def cached(name: str, build) -> str:
    """Directory ``.work/cache/<name>``, built by ``build(dir)`` unless
    a previous run completed it."""
    path = os.path.join(CACHE, name)
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        build(fresh_dir(path))
        with open(done, "w") as f:
            f.write("ok")
    return path


def stage_pointintime(seed: int, n_images: int, n_labels: int,
                      files: int) -> str:
    """``images/`` (``files`` parquet files, one row group each, so the
    fused scan runs one task per file) and ``labels/``."""
    def build(d):
        write_parts(images_frame(n_images, seed), f"{d}/images", files)
        write_parts(labels_frame(n_images, n_labels, seed), f"{d}/labels", 1)
    return cached(f"pit_select-s{seed}-n{n_images}-l{n_labels}", build)


def restore(pristine: str, live: str) -> None:
    """Copy a pristine table tree back to the live root it was built
    at (snapshot logs store absolute file paths)."""
    shutil.rmtree(live, ignore_errors=True)
    shutil.copytree(pristine, live)
