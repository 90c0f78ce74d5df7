"""Oracles the benchmark checks every job against.

- Resume: the expected documents come from
  ``corpus.gen_doc``, the pure-Python span oracle, generated on the
  Spark workers. Output and oracle are compared by an order-insensitive
  digest (row count and the sum of per-row ``xxhash64`` of every
  column), read from the committed batches after the timed phase.
- Analytics: each query's collected result is compared with DuckDB
  running the query's ``oracle_sql()`` (row count, columns and the
  value hash of ``tools/selfcheck.py``). A float cell may differ by one
  unit in its last rounded decimal: ``round(sum(x), 2)`` over exact
  2-decimal money lands on a half-cent tie for about 1% of groups, and
  the two engines' float summation orders then round it apart.
"""

from __future__ import annotations

import functools
import os
import sys
from decimal import Decimal

import pandas as pd
import pyspark.sql.functions as F

_P = 2147483647  # keeps the per-row hash sum inside a long


def digest_aggs(*cols: str) -> list:
    """Aggregates ``n`` (row count) and ``h`` (sum of per-row hashes):
    equal for equal multisets of rows, whatever their order."""
    h = F.xxhash64(*[F.col(f"`{c}`") for c in cols])
    return [F.count(F.lit(1)).alias("n"), F.sum(F.pmod(h, F.lit(_P))).alias("h")]


def empty_spans(spans_col: str):
    """Spans with neither text nor a media reference, per document."""
    return F.size(F.filter(
        F.col(spans_col),
        lambda s: (F.coalesce(s["text"], F.lit("")) == "")
        & (F.coalesce(s["media_ref"], F.lit("")) == ""),
    ))


def _expected_batches(batches, seed, giant_every, giant_size):
    from davar_lab_ocr_spark.corpus import gen_doc

    for pdf in batches:
        rows = [gen_doc(int(d), seed, giant_every, giant_size)[1] for d in pdf["id"]]
        yield pd.DataFrame(rows, columns=["doc_id", "spans"])


def expected_docs(spark, n_docs: int, seed: int, giant_every: int, giant_size: int):
    """The oracle's ``documents`` rows for the corpus
    ``corpus.distributed_raw_df`` generates with the same arguments.
    Documents without a cared region have no spans; the corpus filter
    drops them, so they are not expected."""
    from davar_lab_ocr_spark.schemas import DOCUMENTS

    gen = functools.partial(
        _expected_batches, seed=seed, giant_every=giant_every, giant_size=giant_size
    )
    parts = 4 * spark.sparkContext.defaultParallelism
    docs = spark.range(0, n_docs, 1, parts).mapInPandas(gen, schema=DOCUMENTS)
    return docs.filter(F.size("spans") > 0)


def _decimals(x: float) -> int:
    return max(0, -Decimal(repr(float(x))).as_tuple().exponent)


def rounding_ties(got: pd.DataFrame, want: pd.DataFrame) -> list[str] | None:
    """The cells where ``got`` and ``want`` differ, if every one is a
    float that differs by exactly one unit in the last decimal place of
    both values (a rounded tie decided apart); otherwise None."""
    cols = sorted(got.columns)
    if len(got) != len(want) or cols != sorted(want.columns):
        return None
    floats = [c for c in cols if "f" in (got[c].dtype.kind, want[c].dtype.kind)]
    keys = [c for c in cols if c not in floats]
    a = got[cols].sort_values(keys + floats, kind="mergesort").reset_index(drop=True)
    b = want[cols].sort_values(keys + floats, kind="mergesort").reset_index(drop=True)
    if not a[keys].astype(str).equals(b[keys].astype(str)):
        return None
    ties = []
    for c in floats:
        for x, y in zip(a[c], b[c]):
            if x == y or (pd.isna(x) and pd.isna(y)):
                continue
            if pd.isna(x) or pd.isna(y):
                return None
            unit = 10.0 ** -max(_decimals(x), _decimals(y))
            if unit < 1e-6 or abs(abs(x - y) - unit) > unit / 100:
                return None
            ties.append(f"{c} {x!r} vs {y!r}")
    return ties


def duckdb_mismatches(sf_dir: str, table_names, results: dict, oracle_sql: dict) -> dict:
    """{query: problem} for every collected result that DuckDB disagrees with."""
    import duckdb

    from tools.selfcheck import value_hash

    con = duckdb.connect()
    try:
        for t in table_names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        bad = {}
        for q, got in results.items():
            if q not in oracle_sql:
                bad[q] = "no oracle_sql() entry"
                continue
            want = con.execute(oracle_sql[q]).df()
            if len(got) != len(want):
                bad[q] = f"{len(got)} rows vs {len(want)} from DuckDB"
            elif sorted(got.columns) != sorted(want.columns):
                bad[q] = f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
            elif value_hash(got) != value_hash(want):
                ties = rounding_ties(got, want)
                if ties is None:
                    bad[q] = "value hash differs from DuckDB"
                else:
                    print(f"perfbench note {q}: rounded ties decided apart from DuckDB: {ties}",
                          file=sys.stderr)
        return bad
    finally:
        con.close()
