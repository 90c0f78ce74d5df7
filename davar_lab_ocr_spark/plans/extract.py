"""The flagship end-to-end extraction plan.

raw_documents (doc_id, width, height, regions[]) -> documents
(doc_id, spans array<struct<kind,text,media_ref,offset>>).

Stage map (SURVEY.md §3.3; reference pipeline tools/test.py ->
single_gpu_test -> post_processing -> evaluate):

  1. corpus filter        — SQL predicates (davar_custom._filter_imgs
                            semantics: drop .gif ids, min side >= 32,
                            at least one cared region)
  2. explode + care mask  — explode of the region array,
                            filter(care=1); with salt_buckets > 1,
                            posexplode and salt = pmod(pos, S) for
                            two-phase re-aggregation
  3. layout classify      — kind = KINDS[argmax(kind_scores)], pure
                            JVM exprs (array_position/array_max), the
                            VSR-decode analog (vsr.py:420-437)
  4. decode               — CTC / attention decode as JVM higher-order
                            array exprs (decode_sql.py; lambdas run
                            outside whole-stage codegen); table regions
                            route through a column-level pandas_udf
                            (LGPMA chain) behind when(mode = 'table')
  5. re-assembly          — groupBy(doc_id).collect_list(span): ONE
                            shuffle (default). Skew analysis: for a
                            collect_list re-assembly the final merge
                            task must hold a whole document's spans
                            regardless, so salted two-phase agg cannot
                            reduce per-reducer volume — it only doubles
                            shuffle bytes (measured ~1.5x slower).
                            Salting pays off for REDUCIBLE aggregates
                            (sums/counts/sketches — see the map-side
                            partial aggs in dedup/metrics). Reducer
                            hot-spotting from many docs hashing to one
                            partition is handled by AQE partition
                            splitting. The salted two-phase path is
                            kept behind salt_buckets>1 for corpora with
                            pathological per-doc span counts where the
                            partial arrays relieve executor memory
                            pressure during the map phase.
  6. order + offsets      — array_sort by (y0, x0) — the xy-cut
                            reading-order serialization (lexsort
                            analog, post_lgpma.py:394) — then
                            transform to attach dense offsets

One wide operation after the scan (the groupBy); all expressions
JVM-side except the per-table Arrow kernel. Every expression is SQL
text parsed once by ``F.expr``: building it node by node with
``pyspark.sql.functions`` would cost one py4j round trip per node.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..corpus import KINDS
from ..operators import sql_ref


DEFAULT_SALT_BUCKETS = 1  # single-shuffle re-assembly; >1 enables two-phase


def filter_documents(raw: DataFrame) -> DataFrame:
    """Corpus-level filter — the single implementation lives in
    operators/filters.filter_docs (davar_custom.py:182-207 semantics)."""
    from ..operators.filters import filter_docs

    return filter_docs(raw)


# scalar corpus predicates only (gif / min side): the full
# filter_documents also counts cared regions via a lambda over the
# struct array, which kills nested pruning — and is redundant in
# extract() because the per-region care filter removes every row of
# such documents
SCALAR_FILTER_SQL = "NOT endswith(doc_id, '.gif') AND least(width, height) >= 32"


def classify_kind_sql(scores) -> str:
    """argmax over the score array -> kind string, all JVM-side."""
    s = sql_ref(scores)
    kinds = ", ".join(f"'{k}'" for k in KINDS)
    return f"element_at(array({kinds}), CAST(array_position({s}, array_max({s})) AS INT))"


def classify_kind(scores) -> F.Column:
    return F.expr(classify_kind_sql(scores))


# the per-region projection: region struct r and its decoded text ->
# struct(y0, x0, kind, text, media_ref); the field order is the
# reading-order sort key (y0, then x0)
SPAN_STRUCT_SQL = (
    "named_struct('y0', r.bbox[1], 'x0', r.bbox[0], "
    f"'kind', {classify_kind_sql('r.kind_scores')}, 'text', text, 'media_ref', r.media_ref)"
)


def extract(raw: DataFrame, salt_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Run the full extraction pipeline.

    Text/media regions decode JVM-side (higher-order array exprs,
    operators/decode_sql.py). Only table regions (rare, genuinely
    numpy: clique solving + html assembly) route through the Arrow
    batch UDF.
    """
    from ..operators import decode_sql
    from ..operators.ordering import sort_spans_expr
    from ..operators.table import table_html_udf

    # ONE scan, ONE explode (r6; the r5 two-branch unionByName scanned
    # the corpus twice — once per branch — re-reading the shared region
    # fields and re-running the explode, because each branch's
    # nested-pruned scan is a separate subtree Catalyst cannot merge).
    # Table html comes from a COLUMN-level pandas_udf dispatched behind
    # when(mode = 'table'): only the masked cell arrays (null for the
    # ~89% non-table regions) and the html string cross the Python
    # boundary, instead of mapInArrow round-tripping every pass-through
    # column of every table row (guide §4.1). Measured on the 240k-doc
    # bench corpus: 3.78 s -> 3.0 s quiet-window minima.
    salted = salt_buckets > 1
    explode = "posexplode(regions) AS (pos, r)" if salted else "explode(regions) AS r"
    regions = raw.filter(SCALAR_FILTER_SQL).selectExpr("doc_id", explode).filter("r.care = 1")

    html = table_html_udf()(
        F.expr("CASE WHEN r.mode = 'table' THEN r.cell_bboxes END"),
        F.expr("CASE WHEN r.mode = 'table' THEN r.cell_texts END"),
    )
    text = F.when(F.expr("r.mode = 'table'"), html).otherwise(
        decode_sql.text_decode_col("r.mode", "r.pred_ids")
    )
    keys = ["doc_id", f"CAST(pmod(pos, {salt_buckets}) AS INT) AS salt"] if salted else ["doc_id"]
    keyed = regions.select("*", text.alias("text")).selectExpr(
        *keys, f"{SPAN_STRUCT_SQL} AS span_k"
    )

    if salted:
        # two-phase: partial per (doc_id, salt), then merge (see module
        # docstring for when this pays off)
        partial = keyed.groupBy("doc_id", "salt").agg(F.expr("collect_list(span_k) AS part"))
        merged = partial.groupBy("doc_id").agg(
            F.expr("flatten(collect_list(part)) AS spans_unsorted")
        )
    else:
        merged = keyed.groupBy("doc_id").agg(F.expr("collect_list(span_k) AS spans_unsorted"))

    # xy-cut reading order: array_sort over struct(y0, x0, ...) sorts
    # lexicographically by field order; offsets attached positionally
    return merged.select("doc_id", sort_spans_expr("spans_unsorted").alias("spans"))
