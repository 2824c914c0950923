"""Partition-range backfill orchestrator (the ops loop around S9/S10).

The reference drives daily model builds through Airflow with per-date task
instances and catchup (reference airflow_dags/dbt_orchestration_dag.py's
schedule + the incremental models' is_incremental() windows). This is the
engine-side equivalent: rebuild a RANGE of partitions restartably —

- each partition is built by a caller-supplied ``build(date) -> DataFrame``
  and lands via a staged write + atomic rename of ITS OWN partition
  directory, so a crash mid-backfill leaves every completed partition
  readable and every incomplete one invisible;
- ``skip_existing`` makes re-runs resume-from-where-it-died (Airflow
  catchup semantics) — idempotent without any bookkeeping table;
- partitions build concurrently on driver threads (they are independent
  writes to disjoint directories), the same overlap dbt/Airflow get from
  parallel task slots.

On a real cluster each ``build(date)`` is a pruned scan of one day's
input, so N threads keep N days in flight and the cluster saturated.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from .sink import staged_swap
from .versioned import fs_handles


def backfill_partitions(
    spark: SparkSession,
    target: str,
    partition_col: str,
    build: Callable[[str], DataFrame],
    dates: Sequence[str],
    threads: int = 4,
    skip_existing: bool = True,
) -> dict[str, str]:
    """Backfill ``target/<partition_col>=<date>`` for every date.

    Returns {date: "built" | "skipped" | "failed: <err>"} — one failed
    partition never blocks or corrupts the others."""
    jvm, fs, _ = fs_handles(spark, target)

    def part_dir(date: str) -> str:
        return f"{target}/{partition_col}={date}"

    def one(date: str) -> tuple[str, str]:
        hpath = jvm.org.apache.hadoop.fs.Path(part_dir(date))
        if skip_existing and fs.exists(hpath):
            return date, "skipped"
        # stage under an _-prefixed sibling: partition discovery skips
        # _-paths, so neither an in-flight write nor a crash orphan is ever
        # visible as a (bogus) partition value to readers of `target`
        staged = f"{target}/_staged-{date}-{uuid.uuid4().hex[:8]}"
        try:
            df = build(date).drop(partition_col)
            df.write.mode("overwrite").parquet(staged)
            if not staged_swap(spark, staged, part_dir(date)):
                raise RuntimeError("rename failed")
            return date, "built"
        except Exception as e:  # noqa: BLE001 — per-partition isolation
            # staged_swap's non-race rename failure deliberately PRESERVES
            # the staged copy (the old target was already removed, so it
            # may be the only copy) — honor that here instead of deleting
            # the path the error message points operators at
            if not (isinstance(e, IOError) and "no rival output" in str(e)):
                fs.delete(jvm.org.apache.hadoop.fs.Path(staged), True)
            return date, f"failed: {type(e).__name__}: {e}"

    if threads <= 1 or len(dates) == 1:
        results = [one(d) for d in dates]
    else:
        with ThreadPoolExecutor(max_workers=min(threads, len(dates))) as ex:
            results = list(ex.map(one, dates))
    return dict(results)
