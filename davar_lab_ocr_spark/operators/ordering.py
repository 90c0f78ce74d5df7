"""Reading-order serialization operators.

- xycut_order: deterministic (y, x) lexsort -> dense 0-based offset,
  as a window over exploded region rows (the post_lgpma.py:394 lexsort
  / DI reading-order analog). Array-side variant ``sort_spans_expr``
  avoids the window shuffle when spans are already collected.
- pointer_order_stage: the GCN-PN pointer-decode shape
  (pointer_head.py:76-125): an inherently sequential per-doc greedy
  argmax over "attention" scores. We model the learned scorer with a
  deterministic proximity score (next box = nearest unvisited by
  (dy, dx) cost from the current box) inside applyInPandas — same
  operator shape, pluggable scorer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from . import sql_ref


def xycut_order(df: DataFrame, doc_col: str = "doc_id", y_col: str = "y0", x_col: str = "x0") -> DataFrame:
    """Window row_number per doc ordered by (y, x) -> 0-based offset."""
    w = Window.partitionBy(doc_col).orderBy(F.col(y_col).asc(), F.col(x_col).asc())
    return df.withColumn("offset", F.row_number().over(w) - 1)


def sort_spans_expr(spans_unsorted) -> F.Column:
    """array<struct(y0,x0,...)> -> ordered spans with dense offsets,
    one SQL text (used by plans.extract)."""
    return F.expr(
        f"transform(array_sort({sql_ref(spans_unsorted)}), (s, i) -> named_struct("
        "'kind', s.kind, 'text', s.text, 'media_ref', s.media_ref, 'offset', CAST(i AS INT)))"
    )


_ORDER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("region_id", T.IntegerType()),
        T.StructField("order_pred", T.IntegerType()),
    ]
)


def pointer_order_py(boxes: np.ndarray) -> list[int]:
    """Greedy pointer decode: start at the (y, x)-min box; repeatedly
    pick the unvisited box with minimal (dy*2 + |dx|) cost — a
    deterministic stand-in for the learned attention argmax, same
    sequential structure."""
    n = len(boxes)
    if n == 0:
        return []
    ys, xs = boxes[:, 1], boxes[:, 0]
    visited = np.zeros(n, dtype=bool)
    order = np.zeros(n, dtype=np.int64)
    cur = int(np.lexsort((xs, ys))[0])
    for step in range(n):
        order[cur] = step
        visited[cur] = True
        if step == n - 1:
            break
        dy = ys - ys[cur]
        dx = xs - xs[cur]
        # boxes above the scan point keep a large-but-finite penalty so
        # the walk can resume there; visited boxes must be strictly
        # worse (inf), otherwise an all-above step ties with the
        # current box itself and argmin revisits it
        cost = np.where(dy >= 0, dy * 2 + np.abs(dx), 1e18)
        cost[visited] = np.inf
        cur = int(np.argmin(cost))
    return order.tolist()


def pointer_order_stage(df: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """groupBy(doc).applyInPandas pointer decode. Input rows:
    (doc_id, region_id, x0, y0); output adds order_pred."""

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        boxes = pdf[["x0", "y0"]].to_numpy(dtype=np.float64)
        order = pointer_order_py(boxes)
        return pd.DataFrame(
            {
                "doc_id": pdf[doc_col],
                "region_id": pdf["region_id"].astype("int32"),
                "order_pred": np.asarray(order, dtype="int32"),
            }
        )

    return df.groupBy(doc_col).applyInPandas(decode, schema=_ORDER_SCHEMA)


# ---------------------------------------------------------------------------
# learned pointer decode (GCN-PN forward pass, injectable weights)
# ---------------------------------------------------------------------------
def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def _lstm_cell(x, h, c, w):
    """Standard LSTMCell equations, PyTorch gate order (i, f, g, o)."""
    z = w["w_ih"] @ x + w["b_ih"] + w["w_hh"] @ h + w["b_hh"]
    i, f, g, o = np.split(z, 4)
    c2 = _sigmoid(f) * c + _sigmoid(i) * np.tanh(g)
    h2 = _sigmoid(o) * np.tanh(c2)
    return h2, c2


def pointer_order_nn(node_emb: np.ndarray, weights: dict) -> list[int]:
    """The reference's pointer decode (pointer_head.py:76-125) as a
    pure-numpy forward pass with INJECTABLE weights — the sandbox has
    no torch and no trained checkpoint, so the learned parameters are
    an input, not a stub: load them from any exported state dict and
    the decode is the reference's.

    weights: w_ih [4H,I], w_hh [4H,H], b_ih, b_hh (LSTMCell, torch
    gate order), w_key [H,M], b_key, w_query [H,H], b_query,
    decoder_init [I] (the constant step input, as in the reference),
    hidden_init [H]. The cell state starts from the global feature
    z_g = mean(node_emb) (the GCN's pooled vector in the reference).

    Per step: (h, c) <- LSTMCell(decoder_init, (h, c)); query = W_q h;
    scores = query . key_j; visited j masked to -1e9; argmax appends.
    Returns order_pred per region (position of each region in the
    predicted sequence)."""
    n = len(node_emb)
    if n == 0:
        return []
    emb = np.asarray(node_emb, dtype=np.float64)
    key = emb @ weights["w_key"].T + weights["b_key"]
    h = np.asarray(weights["hidden_init"], dtype=np.float64)
    z_g = emb.mean(axis=0)
    if "w_zg" in weights:  # optional projection when emb dim != hidden dim
        c = weights["w_zg"] @ z_g
    elif emb.shape[1] == len(h):
        c = z_g
    else:
        raise ValueError("emb dim != hidden dim: provide weights['w_zg']")
    x = np.asarray(weights["decoder_init"], dtype=np.float64)
    visited = np.zeros(n, dtype=bool)
    order = np.zeros(n, dtype=np.int64)
    for step in range(n):
        h, c = _lstm_cell(x, h, c, weights)
        query = weights["w_query"] @ h + weights["b_query"]
        scores = key @ query
        scores[visited] = -1e9
        cur = int(np.argmax(scores))
        order[cur] = step
        visited[cur] = True
    return order.tolist()


def pointer_order_nn_stage(
    df: DataFrame, weights: dict, emb_cols: list[str], doc_col: str = "doc_id"
) -> DataFrame:
    """groupBy(doc).applyInPandas learned pointer decode: rows carry a
    per-region feature vector in ``emb_cols``; weights ride to the
    executors in the task closure (at scale: a broadcast variable)."""

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("region_id")
        emb = pdf[emb_cols].to_numpy(dtype=np.float64)
        order = pointer_order_nn(emb, weights)
        return pd.DataFrame(
            {
                "doc_id": pdf[doc_col],
                "region_id": pdf["region_id"].astype("int32"),
                "order_pred": np.asarray(order, dtype="int32"),
            }
        )

    return df.groupBy(doc_col).applyInPandas(decode, schema=_ORDER_SCHEMA)
