"""Split columnar storage layout + the pruned-scan extract variant.

SCALE.md's measured conclusion: per-region filters defeat Catalyst's
nested-STRUCT pruning, so the 100 TB fix is storage layout — store the
region attributes as parallel TOP-LEVEL arrays instead of one
array<struct>. Top-level column pruning always works, so each branch's
parquet scan reads only its own payload columns (text branch: never the
cell arrays; table branch: never pred_ids) regardless of filters.

- to_split_layout: array<struct> -> parallel top-level arrays (pure
  transform projections; run once at ingest).
- extract_split: the flagship pipeline over the split layout, output
  identical to plans.extract.extract (span-equality tested).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .extract import SCALAR_FILTER_SQL, classify_kind


def to_split_layout(raw: DataFrame) -> DataFrame:
    """(doc_id, width, height, regions array<struct>) -> parallel
    top-level arrays, index-aligned by construction."""
    r = "regions"
    return raw.select(
        "doc_id",
        "width",
        "height",
        F.col(f"{r}.bbox").alias("bboxes"),
        F.col(f"{r}.kind_scores").alias("kind_scores"),
        F.col(f"{r}.pred_ids").alias("pred_ids"),
        F.col(f"{r}.mode").alias("modes"),
        F.col(f"{r}.care").alias("cares"),
        F.col(f"{r}.media_ref").alias("media_refs"),
        F.col(f"{r}.cell_bboxes").alias("cell_bboxes"),
        F.col(f"{r}.cell_texts").alias("cell_texts"),
    )


def extract_split(split: DataFrame) -> DataFrame:
    """extract() over the split layout; each branch touches only its
    own top-level columns so the parquet scans prune."""
    from ..operators.decode_sql import text_decode_col
    from ..operators.table import lgpma_stage

    scalar = split.filter(SCALAR_FILTER_SQL)

    def explode_zip(cols: list[str]):
        """posexplode-free zip of the needed parallel arrays only."""
        zipped = F.arrays_zip(*[F.col(c).alias(c) for c in cols])
        return scalar.select("doc_id", F.explode(zipped).alias("z")).select(
            "doc_id", *[F.col(f"z.{c}").alias(c) for c in cols]
        )

    text_cols = ["bboxes", "kind_scores", "cares", "modes", "media_refs", "pred_ids"]
    t = explode_zip(text_cols).filter((F.col("cares") == 1) & (F.col("modes") != "table"))
    text_media = t.select(
        "doc_id",
        F.col("bboxes")[1].alias("y0"),
        F.col("bboxes")[0].alias("x0"),
        classify_kind("kind_scores").alias("kind"),
        text_decode_col("modes", "pred_ids").alias("text"),
        F.col("media_refs").alias("media_ref"),
    )

    table_cols = ["bboxes", "kind_scores", "cares", "modes", "media_refs", "cell_bboxes", "cell_texts"]
    tb = explode_zip(table_cols).filter(
        (F.col("cares") == 1) & (F.col("modes") == "table")
    )
    tables_in = tb.select(
        "doc_id",
        F.col("bboxes")[1].alias("y0"),
        F.col("bboxes")[0].alias("x0"),
        classify_kind("kind_scores").alias("kind"),
        F.col("media_refs").alias("media_ref"),
        "cell_bboxes",
        "cell_texts",
    )
    tables = lgpma_stage(tables_in, out_col="text").select(
        "doc_id", "y0", "x0", "kind", "text", "media_ref"
    )

    keyed = text_media.unionByName(tables).select(
        "doc_id", F.struct("y0", "x0", "kind", "text", "media_ref").alias("span_k")
    )
    merged = keyed.groupBy("doc_id").agg(F.collect_list("span_k").alias("spans_unsorted"))

    from ..operators.ordering import sort_spans_expr

    return merged.select("doc_id", sort_spans_expr("spans_unsorted").alias("spans"))
