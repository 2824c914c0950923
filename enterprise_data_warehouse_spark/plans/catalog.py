"""Catalog-driven model compiler (SURVEY.md §2.10 D2, §3.1 step 2).

The reference generates SQL model files from a YAML catalog with a Jinja
templater (reference scripts/utilities/generate_fact_dimension_models.py:63-248,
governance/data_catalog.yml). Here the same YAML shape compiles directly to
DataFrames: `derived_measures[].calculation` strings are parsed by Spark SQL
(`F.expr`) — the catalog remains declarative, Catalyst executes it, and
there is no intermediate SQL-file codegen step to drift.

Model kinds:
- fact: grain-truncated date key + business keys + FK columns + aggregated
  measures + derived (post-agg) measures + audit columns
- dimension scd_type 1: latest-wins overwrite shape
- dimension scd_type 2: delegated to operators.scd2

A registry resolves `source:` names to DataFrames (the dbt ref()/source()
graph) and topo-orders model builds.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

import yaml
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GRAIN_TRUNC = {"daily": "day", "weekly": "week", "monthly": "month", "quarterly": "quarter"}

AGG_FNS: Mapping[str, Callable] = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "count_distinct": F.countDistinct,
}


@dataclass
class Catalog:
    raw: dict

    @classmethod
    def load(cls, path: str) -> "Catalog":
        with open(path) as f:
            return cls(yaml.safe_load(f))

    @property
    def facts(self) -> list[dict]:
        return self.raw.get("fact_tables", [])

    @property
    def dimensions(self) -> list[dict]:
        return self.raw.get("dimensions", [])

    def fact(self, name: str) -> dict:
        return next(f for f in self.facts if f["name"] == name)

    def dimension(self, name: str) -> dict:
        return next(d for d in self.dimensions if d["name"] == name)


def build_fact(src: DataFrame, spec: dict, decimal_sums: bool = True) -> DataFrame:
    """Compile one fact spec to a grouped-aggregate DataFrame.

    Measures with aggregation 'sum' over doubles route through the
    deterministic decimal layer (same guarantees as every other query).
    """
    from ..functions.deterministic import davg, dsum

    grain = GRAIN_TRUNC[spec.get("grain", "daily")]
    date_col = spec["date_column"]
    date_key = F.date_trunc(grain, F.col(date_col)).cast("date").alias("date_key")

    group_cols = [date_key] + [
        F.col(k["source_column"]).alias(k["name"]) for k in spec.get("dimension_keys", [])
    ]

    aggs = []
    for m in spec.get("measures", []):
        fn_name = m.get("aggregation", "sum")
        if fn_name == "sum" and decimal_sums:
            aggs.append(dsum(m["column"], m["name"]))
        elif fn_name == "avg" and decimal_sums:
            aggs.append(davg(m["column"], m["name"]))
        elif fn_name == "sum_int":
            # integer sums are exact in any order — no decimal detour, and
            # the bigint result hash-matches DuckDB's CAST(SUM(..) AS BIGINT)
            aggs.append(F.sum(m["column"]).cast("bigint").alias(m["name"]))
        else:
            aggs.append(AGG_FNS[fn_name](m["column"]).alias(m["name"]))
    aggs.append(F.count("*").alias("row_count"))

    if spec.get("near_unique_grain"):
        # Near-unique grain (declared in the catalog: ~1 source row per
        # group, e.g. fact_sales_daily's (date, customer, part) over order
        # lines — measured 5,999,350 groups from 6,001,215 rows at sf1).
        # The default partial→exchange→final plan ships WIDENED partial
        # rows through the exchange: each exact-sum partial is three bigint
        # limbs and a double capacity weight (dec_sum, 32 B) where the
        # source double is 8 B, and with
        # no reduction the partial aggregation only inflates the shuffle
        # (~2.2× for this measure set, measured with the older
        # decimal(38,10)+isEmpty buffer). Repartitioning by the
        # group keys FIRST makes the exchange carry the raw narrow rows;
        # the aggregation then runs entirely post-shuffle (partial+final
        # back-to-back, no second exchange). No fixed partition count —
        # AQE sizes/coalesces the exchange, so the same plan scales.
        key_names = ["date_key"] + [k["name"] for k in spec.get("dimension_keys", [])]
        projected = src.select(
            *group_cols,
            *dict.fromkeys(m["column"] for m in spec.get("measures", [])),
        )
        out = projected.repartition(*key_names).groupBy(*key_names).agg(*aggs)
    else:
        out = src.groupBy(*group_cols).agg(*aggs)

    # post-aggregation derived measures: catalog calculation strings are
    # Spark SQL expressions over the aggregated columns (D2: F.expr).
    for dm in spec.get("derived_measures", []):
        out = out.withColumn(dm["name"], F.expr(dm["calculation"]))
    return out


def build_scd1_dimension(
    src: DataFrame, spec: dict, lookups: Mapping[str, DataFrame] | None = None
) -> DataFrame:
    """SCD1: latest row per natural key + derived attributes.

    Two derived-attribute kinds (reference
    governance/data_catalog.yml:523-597 declares both):
    - ``calculation:`` — a SQL expression over the row (F.expr)
    - ``exists_in: {lookup, column}`` — membership semi-join (the reference's
      ``is_manager`` pattern, data_catalog.yml:596-597: an IN (SELECT ...)
      subquery). Compiled as a broadcast left join against the DISTINCT
      non-null lookup values + a null flag — the lookup side is tiny
      (distinct FK values), so no shuffle of the dimension at any scale.
    """
    from pyspark.sql.window import Window

    key = spec["natural_key"]
    order_col = spec.get("updated_at", key)
    w = Window.partitionBy(key).orderBy(F.desc(order_col))
    out = (
        src.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )
    for da in spec.get("derived_attributes", []):
        if "exists_in" in da:
            ref = da["exists_in"]
            lookup_df = (lookups or {})[ref["lookup"]]
            ids = (
                lookup_df.select(F.col(ref["column"]).alias("_exists_key"))
                .where(F.col("_exists_key").isNotNull())
                .distinct()
            )
            out = (
                out.join(
                    F.broadcast(ids), out[key] == ids["_exists_key"], "left"
                )
                .withColumn(da["name"], F.col("_exists_key").isNotNull())
                .drop("_exists_key")
            )
        else:
            out = out.withColumn(da["name"], F.expr(da["calculation"]))
    cols = [key] + [a["name"] for a in spec.get("attributes", [])] + [
        da["name"] for da in spec.get("derived_attributes", [])
    ]
    return out.select(*[c for c in cols if c in out.columns])


@dataclass
class ModelRegistry:
    """dbt-style ref() graph: sources are DataFrames, models are builders
    that may ref() other models; builds memoize (ephemeral semantics).

    ``build_all`` is the topo-parallel runner the reference drives through
    dbt (profiles.yml:13,39 — threads 8/16; airflow dbt_orchestration_dag.py
    :320-323 — staging → dims/facts layer order): models are levelled by
    their declared ``deps`` (Kahn's algorithm) and each level is built with
    a driver-side thread pool. Spark is happy to run jobs from multiple
    driver threads — the scheduler interleaves their stages across the
    cluster, which is exactly how dbt overlaps independent model builds on
    a warehouse. Memoized refs make concurrent same-dep lookups cheap, and
    a lock makes the inline-build fallback (an undeclared dep) safe."""

    spark: SparkSession
    sources: dict[str, DataFrame] = field(default_factory=dict)
    builders: dict[str, Callable[["ModelRegistry"], DataFrame]] = field(default_factory=dict)
    deps: dict[str, tuple[str, ...]] = field(default_factory=dict)
    _built: dict[str, DataFrame] = field(default_factory=dict)

    def add_source(self, name: str, df: DataFrame) -> None:
        self.sources[name] = df

    def add_model(
        self,
        name: str,
        builder: Callable[["ModelRegistry"], DataFrame],
        deps: tuple[str, ...] | list[str] = (),
    ) -> None:
        self.builders[name] = builder
        self.deps[name] = tuple(deps)

    def ref(self, name: str) -> DataFrame:
        if name in self._built:
            return self._built[name]
        if name in self.sources:
            return self.sources[name]
        if name not in self.builders:
            raise KeyError(f"unknown model/source: {name}")
        with self._ref_lock:
            if name not in self._built:  # double-checked under the lock
                self._built[name] = self.builders[name](self)
        return self._built[name]

    def __post_init__(self) -> None:
        import threading

        self._ref_lock = threading.RLock()

    def layers(self) -> list[list[str]]:
        """Kahn levels over declared deps: level N models depend only on
        sources and models in levels < N. Unknown deps and cycles raise."""
        for name, ds in self.deps.items():
            for d in ds:
                if d not in self.builders and d not in self.sources:
                    raise KeyError(f"{name}: unknown dep {d!r}")
        remaining = set(self.builders)
        resolved = set(self.sources)
        levels: list[list[str]] = []
        while remaining:
            level = sorted(
                n for n in remaining if all(d in resolved for d in self.deps[n])
            )
            if not level:
                raise ValueError(f"dependency cycle among: {sorted(remaining)}")
            levels.append(level)
            resolved.update(level)
            remaining.difference_update(level)
        return levels

    def build_all(
        self,
        threads: int = 8,
        action: Callable[[str, DataFrame], None] | None = None,
    ) -> dict[str, DataFrame]:
        """Build every registered model, layer by layer, models within a
        layer concurrently on ``threads`` driver threads. ``action`` is the
        per-model materialization (write/count); None just compiles plans."""
        from concurrent.futures import ThreadPoolExecutor

        def one(name: str) -> None:
            df = self.ref(name)
            if action is not None:
                action(name, df)

        for level in self.layers():
            if len(level) == 1 or threads <= 1:
                for n in level:
                    one(n)
                continue
            with ThreadPoolExecutor(max_workers=min(threads, len(level))) as ex:
                for fut in [ex.submit(one, n) for n in level]:
                    fut.result()  # re-raise builder errors with traceback
        return dict(self._built)


def build_scd2_dimension(
    initial: DataFrame,
    updates: DataFrame,
    spec: dict,
    initial_effective_from: str = "1900-01-01 00:00:00",
) -> DataFrame:
    """Compile a ``scd_type: 2`` catalog spec to the versioned dimension:
    initial snapshot + one update batch through operators.scd2 (the
    reference's scd_type2 macro pipeline, driven by the same YAML fields
    its generator reads: natural_key, attributes, updated_at)."""
    from ..operators.scd2 import scd2_apply, scd2_initial_load

    key = spec["natural_key"]
    attrs = [a["name"] for a in spec.get("attributes", [])]
    tracked = [t["name"] for t in spec.get("tracked", [])] or attrs
    base = scd2_initial_load(
        initial, key, tracked, initial_effective_from, attrs=attrs
    )
    return scd2_apply(
        base, updates, key, tracked, spec.get("updated_at", "updated_at"), attrs=attrs
    )
