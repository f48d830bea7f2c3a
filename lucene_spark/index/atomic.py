"""Crash-safe directory swap shared by expunge / BP / doc-values updates /
rollback / layout builds.

The swap must survive a crash at ANY point and a replay afterwards:
  - a leftover ``<final>.old`` from a crashed prior swap is cleared first
    (os.rename cannot replace a non-empty directory — without the clear,
    every later mutation would fail ENOTEMPTY until manual cleanup);
  - a missing ``final`` (crash in the rename-rename gap) is tolerated:
    the staged dir simply becomes the live one on replay.
Spark caches parquet file listings per path, so the new live dir is
refreshed before returning.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession


def swap_dir(spark: SparkSession, tmp: str, final: str) -> None:
    old = final + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(final):
        os.rename(final, old)
    os.rename(tmp, final)
    if os.path.exists(old):
        shutil.rmtree(old)
    spark.catalog.refreshByPath(final)


def recover_dir(final: str) -> None:
    """Restore a live dir lost to a crash inside swap_dir's rename-rename
    gap: ``final`` missing with ``final + ".old"`` present means the old
    generation was moved aside but the staged dir never landed — move the
    old generation back (the staged sibling, if any, is re-created by the
    caller's replay). Call before READING a swap-managed dir on a path
    that may be replaying a crashed mutation."""
    old = final + ".old"
    if not os.path.exists(final) and os.path.exists(old):
        os.rename(old, final)


def finish_swaps(spark: SparkSession, swaps) -> None:
    """Swap each staged ``(tmp, final)`` pair in. A pair whose ``tmp`` is
    gone was swapped by an earlier, crashed attempt: clear its leftover
    ``final.old`` (or restore it, see ``recover_dir``) and refresh the
    listing."""
    for tmp, final in swaps:
        if os.path.exists(tmp):
            swap_dir(spark, tmp, final)
            continue
        if os.path.exists(final) and os.path.exists(final + ".old"):
            shutil.rmtree(final + ".old")
        recover_dir(final)
        spark.catalog.refreshByPath(final)
