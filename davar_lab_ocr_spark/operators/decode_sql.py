"""JVM-side CTC / attention / ACE / RFL decode, written as SQL text.

The reference decodes with per-batch python/C kernels
(ctc_converter.py:166-179, att_head.py:238-258); on Spark the same
semantics are higher-order array functions (zip_with / filter /
transform / array_join) over the id array, so text decode needs no
python worker and no Arrow round-trip. On Spark 4.1.2 a projection
that holds a lambda higher-order function runs OUTSIDE whole-stage
codegen (the executed plan shows a bare ``Project``, not
``*(n) Project``); the functions are interpreted per row.

Each decoder is one SQL text over column names (``*_sql``), parsed once
by ``F.expr`` (``*_col``; RFL has only the latter). Building the same
expression node by node with ``pyspark.sql.functions`` costs one py4j
round trip per node (tens per decoder); a ``*_sql`` text can also be
nested inside a caller's own SQL lambda (plans/full_chain.py).
Arguments are column names or any SQL expression text; a Column is
accepted too and rendered to its SQL.

Charset conventions match functions/text.py:
- CTC: blank id 0, chars '0'-'9''a'-'z' at ids 1..36, ids > 36 clamp to
  'z'; keep step i iff id > 0 and (i == 0 or raw id[i] != raw id[i-1]).
  PAD_ID (-1) steps are never kept but still act as the predecessor of
  the next step: this is ``ctc_decode_batch``'s semantics. It equals
  ``ctc_decode_py`` (which stops at the first PAD) only when padding is
  at the tail, as in every ragged [B, T] matrix.
- Attention: 0='[GO]', 1='[s]' (EOS), chars at 2..37; drop PAD_ID,
  map every step, truncate at the first '[s]'. (When no EOS is present
  we keep the whole string; the reference's find()==-1 would drop the
  last char — documented deviation, our generator always emits EOS.)
  Equals ``attn_decode_py`` for tail padding.
- Null or empty ids decode to ''.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..functions.text import CHARS36
from . import sql_ref


def _char_sql(v: str) -> str:
    """charset char for id (1..36) -> substr(CHARS36, id, 1), clamped
    high like the python oracle's min(id, max_index) (-> 'z')."""
    return f"substr('{CHARS36}', least(CAST({v} AS INT), {len(CHARS36)}), 1)"


def ctc_decode_sql(ids) -> str:
    """Greedy CTC decode of array<int> -> string.

    zip_with(ids, predecessor ids): the predecessor array
    [-1, ids[0], ..., ids[n-2]] is built once per row (concat + slice
    are buffer copies), each step compares two lambda variables, and
    array_join's null-skipping drops the suppressed steps. -1 never
    equals a kept (positive) id, so step 0 is kept when id > 0."""
    ids = sql_ref(ids)
    n = f"size({ids})"
    prev = (
        f"CASE WHEN {n} > 1 THEN concat(array(-1), slice({ids}, 1, {n} - 1)) "
        f"ELSE transform({ids}, c_id -> -1) END"
    )
    chars = (
        f"zip_with({ids}, {prev}, (c_id, c_prev) -> "
        f"CASE WHEN c_id > 0 AND c_id != c_prev THEN {_char_sql('c_id')} END)"
    )
    return f"CASE WHEN {n} > 0 THEN array_join({chars}, '') ELSE '' END"


def attn_decode_sql(ids) -> str:
    """Attention decode of array<int> -> string: drop PAD_ID, map,
    truncate at the first '[s]'."""
    ids = sql_ref(ids)
    mapped = (
        f"transform(filter({ids}, a_id -> a_id >= 0), a_id -> "
        f"CASE WHEN a_id = 0 THEN '[GO]' WHEN a_id = 1 THEN '[s]' "
        f"ELSE {_char_sql('a_id - 1')} END)"
    )
    return f"coalesce(substring_index(array_join({mapped}, ''), '[s]', 1), '')"


def ace_decode_sql(ids) -> str:
    """ACE decode: drop non-positive ids (blank 0 and ragged-matrix
    PAD_ID -1), map the rest to chars (ace_converter.py:107-124 —
    chars at ids 1..36 like CTC). Null/empty input -> ''."""
    ids = sql_ref(ids)
    chars = f"transform(filter({ids}, e_id -> e_id > 0), e_id -> {_char_sql('e_id')})"
    return f"coalesce(array_join({chars}, ''), '')"


def text_decode_sql(mode, ids) -> str:
    """Dispatch on mode: ctc | attn | ace | anything else -> ''."""
    mode = sql_ref(mode)
    return (
        f"CASE WHEN {mode} = 'ctc' THEN {ctc_decode_sql(ids)} "
        f"WHEN {mode} = 'attn' THEN {attn_decode_sql(ids)} "
        f"WHEN {mode} = 'ace' THEN {ace_decode_sql(ids)} ELSE '' END"
    )


def ctc_decode_col(ids) -> F.Column:
    return F.expr(ctc_decode_sql(ids))


def attn_decode_col(ids) -> F.Column:
    return F.expr(attn_decode_sql(ids))


def ace_decode_col(ids) -> F.Column:
    return F.expr(ace_decode_sql(ids))


def text_decode_col(mode, ids) -> F.Column:
    return F.expr(text_decode_sql(mode, ids))


def rfl_length_col(counts) -> F.Column:
    """RFL decode: predicted text length = round(sum(per-class counts))
    (rfl_converter.py:117-133). Python round() is HALF_EVEN, so use
    bround, not Spark's HALF_UP round. Null input -> 0."""
    total = f"aggregate({sql_ref(counts)}, 0D, (acc, r_v) -> acc + CAST(r_v AS DOUBLE))"
    return F.expr(f"coalesce(CAST(bround({total}) AS INT), 0)")
