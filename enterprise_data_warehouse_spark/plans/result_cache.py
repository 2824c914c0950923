"""Plan-fingerprint result cache (engine feature; extends SURVEY §2.1 S11's
KV cache-key idea from feature fetches to ANY DataFrame).

The reference memoizes feature-set fetches with md5 keys over the request
(reference ml_platform/feature_store/feature_store_manager.py's Redis
cache); warehouses memoize whole queries the same way (Snowflake's result
cache). Here the key is the CANONICALIZED logical plan — Spark's own
``sameResult`` normal form, with expression ids zeroed — plus
caller-supplied input versions, so:

- the same query built twice (fresh scans, different exprIds, re-ordered
  builder calls that produce the same plan) HITS;
- any semantic change (different filter, column, constant) MISSES, and so
  does a different output schema (canonicalization erases alias names, so
  the schema is part of the key);
- a new input version (VersionedTable.current_version(), a partition
  watermark, an ingest batch id) MISSES without plan inspection.

Entries are parquet directories named by fingerprint, written staged-then-
rename (crash-safe: a torn write is invisible because the final directory
never exists half-written). At 100 TB this is exactly a materialized
result store: hits cost one parquet scan of the RESULT (usually orders of
magnitude smaller than the inputs), misses cost the query plus one write.
Entries are read with the schema the key names, so neither a hit nor a
miss runs Spark's schema-inference job.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def plan_fingerprint(df: DataFrame, versions: Mapping[str, object] | None = None) -> str:
    """md5 over the canonicalized logical plan + output schema + sorted
    input versions.

    Canonicalization (Catalyst's ``sameResult`` normal form) zeroes
    expression ids and normalizes auto-generated aliases, so two
    independently-built DataFrames with identical semantics fingerprint
    identically — plain ``analyzed.toString()`` would differ on every
    build because exprIds are session-global counters. It also erases
    alias NAMES, so the output schema is hashed too: ``count(*) AS n`` and
    ``count(*) AS m`` must not share an entry."""
    canon = df._jdf.queryExecution().logical().canonicalized().toString()
    vtext = repr(sorted((versions or {}).items()))
    text = canon + "\n@schema:" + df.schema.json() + "\n@versions:" + vtext
    return hashlib.md5(text.encode()).hexdigest()


class ResultCache:
    """Directory-backed query result cache.

    >>> cache = ResultCache(spark, "/warehouse/_result_cache")
    >>> out, hit = cache.get_or_build("daily_rollup", df, {"lineitem": 42})
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.hits = 0
        self.misses = 0

    def _entry(self, name: str, key: str) -> str:
        return os.path.join(self.root, name, key)

    def get_or_build(
        self,
        name: str,
        df: DataFrame,
        versions: Mapping[str, object] | None = None,
    ) -> tuple[DataFrame, bool]:
        """Return (result, hit). On miss, materializes ``df`` into the
        cache (staged write + atomic-on-HDFS rename, same contract as
        sources.sink) and returns a scan of the materialized result — so
        downstream consumers of a miss ALSO read the compact result
        instead of re-running the query's lineage. Either way the entry is
        read with ``df``'s schema (as written: nullable), which the key
        names, so the read launches no schema-inference job."""
        from ..sources.sink import staged_swap
        from ..sources.versioned import NO_SUCCESS_FILE, fs_handles, written_schema

        key = plan_fingerprint(df, versions)
        path = self._entry(name, key)
        reader = self.spark.read.schema(StructType.fromJson(written_schema(df)))
        _, fs, hpath = fs_handles(self.spark, path)
        if fs.exists(hpath):
            self.hits += 1
            return reader.parquet(path), True
        self.misses += 1
        # stage under an underscore-prefixed sibling: Spark/Hadoop readers
        # skip _-prefixed paths, so in-flight (or crash-orphaned) staged
        # data is invisible to anything listing the cache directory
        staged = os.path.join(
            self.root, name, "_staged-" + key[:8] + "-" + uuid.uuid4().hex[:8]
        )
        df.write.mode("overwrite").options(**NO_SUCCESS_FILE).parquet(staged)
        if not staged_swap(self.spark, staged, path):
            # concurrent builder won the race — their result is ours too
            if not fs.exists(hpath):
                raise RuntimeError(f"result-cache rename failed for {path}")
        return reader.parquet(path), False

    def entries(self, name: str) -> list[str]:
        from ..sources.versioned import fs_handles

        _, fs, hdir = fs_handles(self.spark, os.path.join(self.root, name))
        if not fs.exists(hdir):
            return []
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(hdir)
            if not st.getPath().getName().startswith("_")
        )

    def evict(self, name: str, keep: set[str] | None = None) -> int:
        """Drop cached entries for ``name`` (all, or all except ``keep``
        fingerprints — e.g. the current input versions' keys). Returns the
        number of entries removed."""
        from ..sources.versioned import fs_handles

        jvm, fs, _ = fs_handles(self.spark, self.root)
        removed = 0
        for key in self.entries(name):
            if keep and key in keep:
                continue
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(self._entry(name, key)), True
            )
            removed += 1
        return removed
