"""Catalog layer: metadata tree sync + schema-drift detection.

Reference parity: `get_podio_system_setup` walks org → spaces → apps →
fields into a nested dict, refreshed twice daily to catch field
adds/drops/renames (`PodioApiWrapper.py:239-268`, `PodioApiWrapper.py:13`,
`README.md:18`). Here the catalog is a DataFrame built by joining the
dimension scans (the Spark analog of the nested loops), and drift is a
full-outer join of two snapshots — both fully declarative, so at scale
the whole sync is one small broadcast-join job instead of ~380
sequential API calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_catalog(spaces: DataFrame, apps: DataFrame, exclude_space: str | None = None) -> DataFrame:
    """Join space-level and app-level scans into the flat catalog table.

    Mirrors S3–S6: the composite key ``space_app_id`` is
    '{space_id}.{app_id}' (`PodioApiWrapper.py:201`) and one space can
    be excluded by name (`PodioApiWrapper.py:254`). ``spaces`` must
    have (space_id, space_name); ``apps`` (app_id, app_name, space_id).
    """
    out = apps.join(spaces, "space_id")
    if exclude_space is not None:
        out = out.filter(F.col("space_name") != F.lit(exclude_space))
    return out.select(
        "space_id",
        "space_name",
        "app_id",
        "app_name",
        F.concat_ws(".", F.col("space_id"), F.col("app_id")).alias("space_app_id"),
    )


def build_catalog_with_fields(
    spaces: DataFrame,
    apps: DataFrame,
    fields: DataFrame,
    exclude_space: str | None = None,
) -> DataFrame:
    """The full 3-level sync org → space → app → fields (S5/S6/F5):
    `get_podio_system_setup` nests `get_app_fields_data` per app
    (`PodioApiWrapper.py:239-268`, fields at `PodioApiWrapper.py:
    207-237`). ``fields`` must have (field_id, field_label, field_type,
    return_type, hidden, app_id); per-field ``return_type`` falls back
    to ``field_type`` when absent (`PodioApiWrapper.py:230-233`) and
    ``hidden`` is carried for downstream projection decisions
    (`PodioApiWrapper.py:226`).

    Scale: fields ⋈ (apps ⋈ spaces) — both upper levels are broadcast
    (genuinely constant-size metadata), so the whole sync is one
    shuffle-free job regardless of field count. Catalyst's estimate
    already broadcasts spaces into apps; the two-level frame carries a
    hint so that it, not the fields scan, is the build side.
    """
    two_level = build_catalog(spaces, apps, exclude_space=exclude_space)
    # two_level is the constant-size app catalog; the hint makes it the build side
    return fields.join(F.broadcast(two_level), "app_id").select(
        "space_id",
        "space_name",
        "app_id",
        "app_name",
        "space_app_id",
        "field_id",
        "field_label",
        F.col("field_type"),
        F.coalesce(F.col("return_type"), F.col("field_type")).alias("effective_type"),
        "hidden",
    )


def visible_fields(catalog: DataFrame) -> DataFrame:
    """F5: the projection decision — hidden fields drop out of the
    schema the item table exposes (`PodioApiWrapper.py:226,234`)."""
    return catalog.filter(~F.col("hidden"))


def split_composite_key(df: DataFrame, col: str = "space_app_id") -> DataFrame:
    """Inverse of the composite key build (`PodioApiWrapper.py:260`)."""
    parts = F.split(F.col(col), r"\.")
    return df.withColumn("space_id_part", parts.getItem(0).cast("long")).withColumn(
        "app_id_part", parts.getItem(1).cast("long")
    )


def drift_diff(old: DataFrame, new: DataFrame, key: str, attrs: list[str]) -> DataFrame:
    """Schema-drift report between two catalog snapshots.

    Full-outer join on ``key``; rows are classified added / dropped /
    changed / unchanged. This is the declarative version of the
    twice-daily metadata refresh diff the reference performs by
    re-reading everything (`PodioApiWrapper.py:13`).
    """
    o = old.select(key, *attrs).alias("o")
    n = new.select(key, *attrs).alias("n")
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~(
            F.col(f"o.{a}").eqNullSafe(F.col(f"n.{a}"))
        )
    status = (
        F.when(F.col(f"o.{key}").isNull(), F.lit("added"))
        .when(F.col(f"n.{key}").isNull(), F.lit("dropped"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
        status.alias("status"),
        *[F.col(f"o.{a}").alias(f"old_{a}") for a in attrs],
        *[F.col(f"n.{a}").alias(f"new_{a}") for a in attrs],
    )


def read_evolving(spark, *paths: str) -> DataFrame:
    """Read successive item-table generations written under different
    catalog versions as one DataFrame: ``mergeSchema`` unions the
    per-file schemas, so fields added by a catalog drift appear as
    nullable columns on old rows and dropped fields stay readable on
    history (SURVEY §1.3: the catalog sync is the schema authority;
    `PodioApiWrapper.py:13`, `README.md:18`).

    Scale note: schema merging reads every file footer — fine for
    generation-partitioned layouts (few schema variants), wrong for
    millions of heterogeneous files; at 100 TB keep one schema per
    partition directory and let the catalog drive explicit casts.
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def rename_mapping(
    drift: DataFrame, key: str = "field_id", attr: str = "field_label"
) -> DataFrame:
    """Distill a drift report (``drift_diff`` keyed on ``key`` with an
    ``attr`` column) into the (old_label → new_label) pairs a store
    reader needs: fields whose key survived but whose label changed —
    the reference's rename case (`README.md:18`). Added and dropped
    fields need no mapping (mergeSchema already NULLs/retains them).
    ``key``/``attr`` default to the catalog's field_id/field_label but
    follow whatever (key, attrs) the drift report was built with."""
    return drift.filter(
        (F.col("status") == "changed")
        & ~F.col(f"old_{attr}").eqNullSafe(F.col(f"new_{attr}"))
        & F.col(f"old_{attr}").isNotNull()
        & F.col(f"new_{attr}").isNotNull()
    ).select(key, f"old_{attr}", f"new_{attr}")


def unify_renamed(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Apply a rename mapping to a ``read_evolving`` frame: each
    (old, new) label pair that surfaced as two mergeSchema columns
    collapses into the NEW name via COALESCE (new wins where both
    generations somehow carry a value) and the old column drops. This
    is the automatic consumer of ``rename_mapping`` — detect with
    drift_diff, distill, apply — so a rename needs zero hand-written
    projection code and zero bytes rewritten in the store.

    A scan that happens to span only old-generation files still
    normalizes to the NEW label (plain rename) — downstream consumers
    must see one schema regardless of which generations were read."""
    out = df
    for old, new in pairs:
        if old in out.columns and new in out.columns:
            out = out.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
        elif old in out.columns:
            out = out.withColumnRenamed(old, new)
    return out
