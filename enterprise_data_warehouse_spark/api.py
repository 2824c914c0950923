"""User-facing façade — the one import a reference user needs to switch.

The reference exposes its warehouse through dbt models + ad-hoc SQL +
Python pipeline entry points; this is the equivalent single surface over
the Spark engine:

    from enterprise_data_warehouse_spark.api import Warehouse

    wh = Warehouse(sf_dir="/data/sf0.1")
    wh.table("lineitem")                       # lazy scans
    wh.sql("SELECT COUNT(*) FROM orders")      # ANSI SQL over all tables
    wh.query("pricing_summary")                # any of the 190+ registry ops
    wh.build_models()                          # the 10 staging models,
                                               #   topo-parallel
    wh.cached_query("pricing_summary", versions={"lineitem": 7})
                                               # plan-fingerprint result cache

Everything returns lazy DataFrames; nothing here adds execution machinery —
it only wires together sources.tables, queries.REGISTRY, plans.catalog and
plans.result_cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .queries import load_registry
from .session import get_spark
from .sources.tables import DEFAULT_SF_DIR, TABLE_NAMES, load_table


class Warehouse:
    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str = DEFAULT_SF_DIR,
        cache_root: str | None = None,
    ):
        self.spark = spark or get_spark("edw-warehouse")
        self.sf_dir = sf_dir
        self._registry = load_registry()
        self._cache = None
        if cache_root:
            from .plans.result_cache import ResultCache

            self._cache = ResultCache(self.spark, cache_root)

    # --- tables & SQL ------------------------------------------------------

    def table(self, name: str) -> DataFrame:
        """Lazy scan of one warehouse table (S1)."""
        return load_table(self.spark, self.sf_dir, name)

    def register_views(self) -> None:
        """Expose every table as a temp view so ``sql()`` sees the same
        names the reference's warehouse (and the DuckDB oracle) uses.

        Registered UNCONDITIONALLY on every sql() call: temp views are
        session-global, so a second Warehouse on the same SparkSession
        would otherwise silently serve this one's sf_dir (or vice versa).
        It launches no Spark job once each table has been read in this
        process: ``load_table`` reuses the schema inferred for unchanged
        local files. The first read of a table in a process, or of a
        changed or non-local one, pays one schema-inference job."""
        for t in TABLE_NAMES:
            self.table(t).createOrReplaceTempView(t)

    def sql(self, text: str) -> DataFrame:
        """ANSI SQL over the warehouse tables (Catalyst plans it exactly
        like the DataFrame API — same pushdown/broadcast behavior)."""
        self.register_views()
        return self.spark.sql(text)

    # --- registry queries --------------------------------------------------

    def query_names(self) -> list[str]:
        return list(self._registry)

    def query(self, name: str) -> DataFrame:
        """Run a registered operator/query by name at this warehouse's
        sf_dir."""
        return self._registry[name].fn(self.spark, self.sf_dir)

    def explain(self, name: str, mode: str = "formatted") -> str:
        """The physical plan of a registry query as a string (the
        `.explain()` text) — for plan review without a shell."""
        df = self.query(name)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )

    def oracle_sql(self, name: str) -> str | None:
        """The ANSI oracle statement for a registry query (None for the
        non-SQL-expressible surfaces)."""
        return self._registry[name].oracle

    def cached_query(
        self, name: str, versions: dict | None = None
    ) -> tuple[DataFrame, bool]:
        """Registry query through the plan-fingerprint result cache:
        (result, hit). Requires ``cache_root``."""
        if self._cache is None:
            raise ValueError("Warehouse built without cache_root")
        return self._cache.get_or_build(name, self.query(name), versions)

    # --- catalog models ----------------------------------------------------

    def models(self):
        """The staging-layer ModelRegistry (dbt-style ref graph): the 8
        source tables and the 10 staging models over them. The facts and
        dims of catalog/warehouse.yml are registered only by
        ``operators.facts.full_catalog_registry``."""
        from .operators.facts import _registry

        return _registry(self.spark, self.sf_dir)

    def build_models(self, threads: int = 8, action=None) -> dict[str, DataFrame]:
        """Compile/build the 10 staging models of ``models()``,
        dependency-layered, models within a layer on concurrent driver
        threads (the dbt-threads analogue). ``action`` is the per-model
        materialization hook."""
        return self.models().build_all(threads=threads, action=action)
