"""Catalog-layer driver queries (SURVEY §2.1 S3–S6, §2.2 T10–T11,
§2.3 F4–F5) over the region/nation/supplier dims, which play
org-spaces / apps / app-fields respectively.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crm_etl_pipeline_spark.catalog import (
    build_catalog,
    build_catalog_with_fields,
    drift_diff,
    split_composite_key,
    visible_fields,
)
from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.registry import query


# monotone suffix for catalog_recursive_paths' per-invocation temp view
_RCTE_VIEW_SEQ = itertools.count()


def _spaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("space_id"), F.col("r_name").alias("space_name")
    )


def _apps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("app_id"),
        F.col("n_name").alias("app_name"),
        F.col("n_regionkey").alias("space_id"),
    )


def _fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier plays the per-app field metadata: deterministic
    field_type by key, return_type override on every 5th field
    (the coalesce-fallback case), hidden = negative account balance."""
    s = table(spark, sf_dir, "supplier")
    return s.select(
        F.col("s_suppkey").alias("field_id"),
        F.col("s_name").alias("field_label"),
        F.when(F.col("s_suppkey") % 3 == 0, F.lit("number"))
        .when(F.col("s_suppkey") % 3 == 1, F.lit("text"))
        .otherwise(F.lit("category"))
        .alias("field_type"),
        F.when(F.col("s_suppkey") % 5 == 0, F.lit("calculation")).alias("return_type"),
        (F.col("s_acctbal") < 0).alias("hidden"),
        F.col("s_nationkey").alias("app_id"),
    )


@query(
    "catalog_tree",
    oracle="""
    SELECT r_regionkey AS space_id, r_name AS space_name,
           n_nationkey AS app_id, n_name AS app_name,
           CONCAT_WS('.', r_regionkey, n_nationkey) AS space_app_id
    FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE r_name <> 'EUROPE'
    """,
    survey="S3,S4,S6,T10,F4 (catalog sync; PodioApiWrapper.py:239-268)",
)
def catalog_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Org→space→app catalog walk as one broadcast join, with the
    reference's space-exclusion filter (`PodioApiWrapper.py:254`)."""
    return build_catalog(_spaces(spark, sf_dir), _apps(spark, sf_dir), exclude_space="EUROPE")


@query(
    "composite_key_roundtrip",
    oracle="""
    SELECT CONCAT_WS('.', r_regionkey, n_nationkey) AS space_app_id,
           CAST(r_regionkey AS BIGINT) AS space_id_part,
           CAST(n_nationkey AS BIGINT) AS app_id_part
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    survey="T10 (composite key build/split; PodioApiWrapper.py:201,260)",
)
def composite_key_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build '{space}.{app}' then split it back — the reference does the
    same string round-trip between sync passes."""
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    built = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        F.concat_ws(".", F.col("r_regionkey"), F.col("n_nationkey")).alias("space_app_id")
    )
    return split_composite_key(built)


@query(
    "return_type_fallback",
    oracle="""
    SELECT o_orderkey,
           COALESCE(NULLIF(o_orderstatus, 'O'), o_orderpriority) AS effective_type
    FROM orders
    """,
    survey="T11,F3 (return_type-else-type fallback; PodioApiWrapper.py:230-233)",
)
def return_type_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`coalesce(return_type, type)` pattern: NULLIF fabricates the
    missing-override case deterministically from fixture data."""
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.col("o_orderpriority")).alias(
            "effective_type"
        ),
    )


@query(
    "catalog_drift",
    oracle="""
    WITH old AS (
      SELECT n_nationkey AS field_id, n_name AS field_label, n_regionkey AS field_type
      FROM nation WHERE n_regionkey <= 3
    ), new AS (
      SELECT n_nationkey AS field_id,
             CASE WHEN n_nationkey % 7 = 0 THEN n_name || '_RENAMED' ELSE n_name END AS field_label,
             n_regionkey AS field_type
      FROM nation WHERE n_regionkey >= 1
    )
    SELECT COALESCE(o.field_id, n.field_id) AS field_id,
           CASE WHEN o.field_id IS NULL THEN 'added'
                WHEN n.field_id IS NULL THEN 'dropped'
                WHEN o.field_label IS DISTINCT FROM n.field_label
                  OR o.field_type IS DISTINCT FROM n.field_type THEN 'changed'
                ELSE 'unchanged' END AS status,
           o.field_label AS old_field_label, o.field_type AS old_field_type,
           n.field_label AS new_field_label, n.field_type AS new_field_type
    FROM old o FULL OUTER JOIN new n ON o.field_id = n.field_id
    """,
    survey="S6 drift (twice-daily metadata refresh; PodioApiWrapper.py:13, README.md:18)",
)
def catalog_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift between two catalog snapshots: one dropped region,
    one added, some renamed fields — classified by full-outer join."""
    nation = table(spark, sf_dir, "nation")
    old = nation.filter(F.col("n_regionkey") <= 3).select(
        F.col("n_nationkey").alias("field_id"),
        F.col("n_name").alias("field_label"),
        F.col("n_regionkey").alias("field_type"),
    )
    new = nation.filter(F.col("n_regionkey") >= 1).select(
        F.col("n_nationkey").alias("field_id"),
        F.when(F.col("n_nationkey") % 7 == 0, F.concat(F.col("n_name"), F.lit("_RENAMED")))
        .otherwise(F.col("n_name"))
        .alias("field_label"),
        F.col("n_regionkey").alias("field_type"),
    )
    return drift_diff(old, new, "field_id", ["field_label", "field_type"])


_FIELDS_SQL = """
      SELECT s_suppkey AS field_id, s_name AS field_label,
             CASE CAST(s_suppkey % 3 AS INT)
                  WHEN 0 THEN 'number' WHEN 1 THEN 'text'
                  ELSE 'category' END AS field_type,
             CASE WHEN s_suppkey % 5 = 0 THEN 'calculation' END AS return_type,
             s_acctbal < 0 AS hidden,
             s_nationkey AS app_id
      FROM supplier
"""


@query(
    "catalog_fields_tree",
    oracle=f"""
    WITH f AS ({_FIELDS_SQL})
    SELECT r_regionkey AS space_id, r_name AS space_name,
           n_nationkey AS app_id, n_name AS app_name,
           CONCAT_WS('.', r_regionkey, n_nationkey) AS space_app_id,
           field_id, field_label, field_type,
           COALESCE(return_type, field_type) AS effective_type,
           hidden
    FROM f
    JOIN nation ON f.app_id = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name <> 'EUROPE'
    """,
    survey="S5,S6,T11,F5 (3-level org→space→app→fields sync; PodioApiWrapper.py:207-268)",
)
def catalog_fields_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full metadata sync: fields ⋈ broadcast(apps ⋈ spaces), with
    return_type fallback and the hidden flag carried through — the
    ~380-sequential-API-call walk as one shuffle-free job."""
    return build_catalog_with_fields(
        _spaces(spark, sf_dir),
        _apps(spark, sf_dir),
        _fields(spark, sf_dir),
        exclude_space="EUROPE",
    )


@query(
    "hidden_field_projection",
    oracle=f"""
    WITH f AS ({_FIELDS_SQL})
    SELECT app_id,
           COUNT(*) AS n_visible,
           CAST(SUM(CASE WHEN effective_type = 'calculation' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overridden
    FROM (SELECT app_id, COALESCE(return_type, field_type) AS effective_type
          FROM f WHERE NOT hidden)
    GROUP BY app_id
    """,
    survey="F5 (hidden-field projection decision; PodioApiWrapper.py:226,234)",
)
def hidden_field_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema the item table actually exposes: hidden fields dropped,
    per-app counts of visible and return_type-overridden fields."""
    fields = visible_fields(_fields(spark, sf_dir))
    return (
        fields.select(
            "app_id",
            F.coalesce(F.col("return_type"), F.col("field_type")).alias("effective_type"),
        )
        .groupBy("app_id")
        .agg(
            F.count(F.lit(1)).alias("n_visible"),
            F.sum((F.col("effective_type") == "calculation").cast("int"))
            .cast("bigint")
            .alias("n_overridden"),
        )
    )


@query(
    "catalog_recursive_paths",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT 1 AS node_id, 'ORG' AS label, CAST(NULL AS BIGINT) AS parent_id
      UNION ALL SELECT r_regionkey + 10, r_name, 1 FROM region
      UNION ALL SELECT n_nationkey + 100, n_name, n_regionkey + 10 FROM nation
      UNION ALL SELECT s_suppkey + 1000, s_name, s_nationkey + 100 FROM supplier
    ), walk(node_id, label, depth, path) AS (
      SELECT node_id, label, 0, label FROM nodes WHERE parent_id IS NULL
      UNION ALL
      SELECT c.node_id, c.label, w.depth + 1, w.path || '/' || c.label
      FROM nodes c JOIN walk w ON c.parent_id = w.node_id
    )
    SELECT CAST(node_id AS BIGINT) AS node_id, label,
           CAST(depth AS INT) AS depth, path
    FROM walk
    """,
    survey="S3-S6 closure via Spark-4 recursive CTE (depth-agnostic catalog walk)",
)
def catalog_recursive_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full catalog closure by WITH RECURSIVE (Spark 4): org -> spaces
    -> apps -> fields as ONE uniform parent/child edge list walked to
    any depth, vs catalog_tree's hand-written per-level joins. The
    reference's sync nests three fixed loops (`PodioApiWrapper.py:
    239-268` orgs->spaces->apps, then per-app fields at
    `PodioApiWrapper.py:218-237`); the recursive form is what survives
    when the hierarchy gains a level (nested workspaces) — the query
    text does not encode the depth.

    Spark executes the recursion as iterative UnionLoop steps: each
    iteration joins the previous frontier to the child table, unions
    into the result, and stops when the frontier is empty (4 levels
    here). Scale: this is CATALOG metadata — dim-table sized (~1e5
    nodes for even a huge org), independent of fact volume, and each
    frontier join is broadcast-sized. Fact-scale hierarchies (graphs)
    use the checkpointed iterative-join form instead
    (dedup_components, copurchase_pagerank).

    Determinism: a tree (every child one parent), so each node appears
    exactly once with one path; no cycle risk, recursion depth bounded
    by the hierarchy's 4 levels.
    """
    root = spark.range(1).select(
        F.lit(1).cast("bigint").alias("node_id"),
        F.lit("ORG").alias("label"),
        F.lit(None).cast("bigint").alias("parent_id"),
    )
    spaces = _spaces(spark, sf_dir).select(
        (F.col("space_id") + 10).cast("bigint").alias("node_id"),
        F.col("space_name").alias("label"),
        F.lit(1).cast("bigint").alias("parent_id"),
    )
    apps = _apps(spark, sf_dir).select(
        (F.col("app_id") + 100).cast("bigint").alias("node_id"),
        F.col("app_name").alias("label"),
        (F.col("space_id") + 10).cast("bigint").alias("parent_id"),
    )
    fields = _fields(spark, sf_dir).select(
        (F.col("field_id") + 1000).cast("bigint").alias("node_id"),
        F.col("field_label").alias("label"),
        (F.col("app_id") + 100).cast("bigint").alias("parent_id"),
    )
    nodes = root.unionByName(spaces).unionByName(apps).unionByName(fields)
    # per-invocation view name: the session-global temp-view namespace is
    # shared, so a fixed name would let two concurrent invocations on one
    # SparkSession clobber each other between createOrReplaceTempView and
    # spark.sql (r11 ADVICE). pid + a module counter makes the name unique
    # per call; the view is dropped once the plan is captured (the
    # returned DataFrame's logical plan no longer needs the catalog entry).
    view = f"__catalog_nodes_rcte_{os.getpid()}_{next(_RCTE_VIEW_SEQ)}"
    nodes.createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            WITH RECURSIVE walk(node_id, label, depth, path) AS (
              SELECT node_id, label, 0, CAST(label AS STRING)
              FROM {view} WHERE parent_id IS NULL
              UNION ALL
              SELECT c.node_id, c.label, w.depth + 1, CONCAT(w.path, '/', c.label)
              FROM {view} c JOIN walk w ON c.parent_id = w.node_id
            )
            SELECT node_id, label, CAST(depth AS INT) AS depth, path FROM walk
            """
        )
    finally:
        spark.catalog.dropTempView(view)
