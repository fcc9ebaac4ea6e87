"""Shared distributed writer for fixed-name bucketed text layouts
(dataN.txt, dataN.warc): bucket rows by a key, write each bucket with the
DISTRIBUTED text writer (repartition(N, bucket) puts all of a bucket's
rows in one task), then concatenate each bucket's part files to its final
fixed name. One implementation so the staging/concat lifecycle can't
drift between the layouts that use it."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_bucketed_files(values: DataFrame, d: str, n_files: int, ext: str) -> None:
    """``values`` must have columns (value string, bucket int in [0, n));
    writes d/data{k}.{ext} for k in 0..n-1 (empty buckets yield empty
    files). The text writer supplies the '\\n' row terminator."""
    staging = os.path.join(d, "_staging")
    shutil.rmtree(staging, ignore_errors=True)
    (
        values.repartition(n_files, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .text(staging)
    )
    for stale in glob.glob(os.path.join(d, f"data*.{ext}")):
        os.unlink(stale)
    for k in range(n_files):
        parts = sorted(glob.glob(os.path.join(staging, f"bucket={k}", "part-*")))
        with open(os.path.join(d, f"data{k}.{ext}"), "wb") as out:
            for p in parts:
                with open(p, "rb") as src_f:
                    shutil.copyfileobj(src_f, out)
    shutil.rmtree(staging, ignore_errors=True)
