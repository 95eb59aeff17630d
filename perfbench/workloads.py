"""Workload definitions, pinned here so that reshaping ``examples/`` or
``bench.py`` cannot silently change what the benchmark measures.

They depend only on ``__spark_entry__.queries()`` / ``oracle_sql()`` and on
public functions of ``impc_etl_spark``.

- ``registry``: the 22 headline queries of ``bench.py``, issued one after
  another, each forced by a count.
- ``release``: the IMPC release DAG (clean -> observations -> curve synthesis
  and union_conform -> stats input -> release_diff -> mart -> solr/mongo
  shaping) on key-shifted orders/lineitem replicas.

Each pipeline target carries a correctness check run in DuckDB (see
``check.py``): an ``oracle_sql()`` entry evaluated over the target's own
parquet inputs where one computes the same thing, otherwise SQL that
recomputes the target or its invariants from the targets it was built from.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import TABLES, InputSpec

REGISTRY = (
    "pricing_summary",
    "region_revenue",
    "top_customers_per_nation",
    "supplier_lineitem_window",
    "purchase_attribution_asof",
    "user_sessions",
    "customer_order_rollup",
    "campaign_order_attribution",
    "observations_pipeline",
    "docs_minhash_lsh",
    "docs_verified_near_dups",
    "docs_dup_groups",
    "docs_quality",
    "docs_unigram_logprob",
    "docs_chunks",
    "docs_line_dedup",
    "corpus_prepare",
    "media_feature_extract",
    "emb_cosine_topk",
    "emb_batch_topk",
    "docs_dup_spans",
    "docs_bm25_search",
)

@dataclass(frozen=True)
class Check:
    """A DuckDB check of one target. ``views`` binds oracle table names to
    target names (or ``input:<table>``); ``expected`` is an ``oracle_sql()``
    key (``oracle:<name>``) or SQL over the bound views; ``actual`` is SQL
    over the view ``t`` (the target). The two must be equal multisets."""

    views: dict[str, str]
    expected: str
    actual: str = "SELECT * FROM t"


@dataclass(frozen=True)
class Workload:
    name: str
    source: str      # source scale name ("sf0.1"), see TESTDATA.md
    inputs: InputSpec
    kind: str        # "registry" | "pipeline"


WORKLOADS = {
    "registry": Workload("registry", "sf0.001", InputSpec(TABLES), "registry"),
    "release": Workload(
        "release", "sf0.01",
        InputSpec(("orders", "lineitem"), replicas=4), "pipeline"),
}


# ---------------------------------------------------------------------------
# release
# ---------------------------------------------------------------------------

def build_release(spark, input_dir: str, root: str):
    from pyspark.sql import functions as F

    from impc_etl_spark.operators.clean import drop_null_rows
    from impc_etl_spark.operators.conform import union_conform
    from impc_etl_spark.operators.joins import release_diff
    from impc_etl_spark.plans.observations import (
        observations, synthesize_curve_observations,
    )
    from impc_etl_spark.plans.runner import Pipeline
    from impc_etl_spark.sources.sinks import (
        shape_mongo_documents, shape_solr_documents,
    )

    p = Pipeline(spark, root)

    @p.task("orders_raw")
    def orders_raw(s):
        return s.read.parquet(f"{input_dir}/orders.parquet")

    @p.task("lineitem_raw")
    def lineitem_raw(s):
        return s.read.parquet(f"{input_dir}/lineitem.parquet")

    @p.task("orders_clean", inputs=["orders_raw"])
    def orders_clean(s, orders):
        return drop_null_rows(orders, ["o_orderkey", "o_custkey", "o_orderdate"])

    @p.task("observations", inputs=["orders_clean", "lineitem_raw"])
    def obs(s, orders, lineitem):
        return observations(orders, lineitem)

    @p.task("observations_final", inputs=["observations"])
    def obs_final(s, obs_df):
        return union_conform([obs_df, synthesize_curve_observations(obs_df)])

    @p.task("stats_input", inputs=["observations_final"])
    def stats_input(s, obs_df):
        return obs_df.select(
            "observation_id", "experiment_id",
            F.concat_ws("::", "parameter_family", "observation_type").alias("parameter_key"),
            "data_point", "category", "metadata_group",
        )

    @p.task("release_diff", inputs=["observations_final"])
    def diff(s, obs_df):
        previous = obs_df.where(F.col("parameter_family") != "derivedCurve")
        return release_diff(obs_df, previous, ["observation_id"])

    @p.task("mart", inputs=["observations_final"])
    def mart(s, obs_df):
        return obs_df.groupBy("experiment_id").agg(
            F.count(F.lit(1)).alias("n_observations"),
            F.sum(F.when(F.col("observation_type") == "unidimensional", 1)
                  .otherwise(0)).alias("n_numeric"),
            F.max(F.when(F.col("parameter_family") == "derivedCurve",
                         F.col("data_point"))).alias("curve_auc"),
        )

    @p.task("solr_docs", inputs=["mart"])
    def solr_docs(s, mart_df):
        return shape_solr_documents(
            mart_df,
            schema_fields={"experiment_id": "string", "n_observations": "plong",
                           "curve_auc": "pdouble", "doc_id": "string"},
            unique_field="doc_id", deterministic_ids=True,
        )

    @p.task("mongo_docs", inputs=["mart"])
    def mongo_docs(s, mart_df):
        return shape_mongo_documents(mart_df, "org.impc.api.ExperimentSummary")

    return p


# observations_with_curves rounds data_point to 4 places; apply the same
# rounding to the target so the oracle compares like with like
_OBS_COLS = """observation_id, experiment_id, parameter_family, observation_type,
    floor(data_point * 10000 + 0.5) / 10000 AS data_point, metadata_group"""

RELEASE_CHECKS = {
    "orders_raw": Check({"src": "input:orders"}, "SELECT * FROM src"),
    "lineitem_raw": Check({"src": "input:lineitem"}, "SELECT * FROM src"),
    "orders_clean": Check(
        {"src": "input:orders"},
        "SELECT * FROM src WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL "
        "AND o_orderdate IS NOT NULL"),
    # observations_final is checked against the oracle; its non-curve rows
    # must be exactly this target
    "observations": Check(
        {"o": "observations_final"},
        "SELECT * FROM o WHERE parameter_family <> 'derivedCurve'"),
    "observations_final": Check(
        {"orders": "orders_clean", "lineitem": "lineitem_raw"},
        "oracle:observations_with_curves", f"SELECT {_OBS_COLS} FROM t"),
    "stats_input": Check(
        {"o": "observations_final"},
        "SELECT observation_id, experiment_id, "
        "concat_ws('::', parameter_family, observation_type) AS parameter_key, "
        "data_point, category, metadata_group FROM o"),
    "release_diff": Check(
        {"o": "observations_final"},
        "WITH cur AS (SELECT DISTINCT observation_id FROM o), "
        "prev AS (SELECT DISTINCT observation_id FROM o "
        "         WHERE parameter_family <> 'derivedCurve') "
        "SELECT observation_id, 'added' AS change FROM (SELECT * FROM cur EXCEPT SELECT * FROM prev) "
        "UNION ALL "
        "SELECT observation_id, 'removed' FROM (SELECT * FROM prev EXCEPT SELECT * FROM cur)"),
    "mart": Check(
        {"o": "observations_final"},
        "SELECT experiment_id, count(*) AS n_observations, "
        "sum(CASE WHEN observation_type = 'unidimensional' THEN 1 ELSE 0 END) AS n_numeric, "
        "max(CASE WHEN parameter_family = 'derivedCurve' THEN data_point END) AS curve_auc "
        "FROM o GROUP BY experiment_id"),
    # doc ids are minted by the sink; check shape and key invariants
    "solr_docs": Check(
        {"m": "mart"},
        "SELECT experiment_id, n_observations::DOUBLE AS n_observations, "
        "curve_auc::DOUBLE AS curve_auc, true AS id_ok FROM m",
        "SELECT experiment_id, n_observations, curve_auc, "
        "doc_id IS NOT NULL AND count(*) OVER (PARTITION BY doc_id) = 1 AS id_ok FROM t"),
    "mongo_docs": Check(
        {"m": "mart"},
        "SELECT *, 'org.impc.api.ExperimentSummary' AS _class FROM m"),
}

RELEASE_GOALS = tuple(RELEASE_CHECKS)


PIPELINES = {
    "release": (build_release, RELEASE_GOALS, RELEASE_CHECKS),
}
