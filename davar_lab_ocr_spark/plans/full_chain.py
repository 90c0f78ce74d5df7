"""Full sensor-to-spans chain: raw EAST maps -> detect -> recognize ->
reading order -> spans.

The flagship plan (plans/extract.py) consumes pre-detected regions;
this plan starts one stage earlier, from the raw score/geo maps the
reference's detector head emits (SURVEY.md §3.3 stage D): EAST decode
inside an Arrow batch produces the text-line quads, which are then
reading-ordered and zipped with the recognizer's per-line id sequences
— the bbox2roi fan-out + re-assembly (two_stage_e2e.py:339-430)
without ever leaving the doc's row for the join (zip_with, no
shuffle).

Input rows (one per doc):
  doc_id, score_map, geo_map, h, w, mode, scale_factor,
  line_payloads array<struct<pred_ids:array<int>, rcg_mode:string>>
    -- recognizer outputs for each text line, ordered by the line's
       reading order (y, x) — the contract a paired recognizer stage
       produces.
Output: documents (doc_id, spans).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators.decode_sql import text_decode_sql
from ..operators.detection import east_decode_stage


def extract_from_maps(det: DataFrame, thres_text: float = 0.8, nms_thres: float = 0.2) -> DataFrame:
    """maps + line payloads -> ordered text spans per doc."""
    quads = east_decode_stage(
        det.select("doc_id", "score_map", "geo_map", "h", "w", "mode", "scale_factor"),
        thres_text=thres_text,
        nms_thres=nms_thres,
    )
    payloads = det.select("doc_id", "line_payloads")
    joined = quads.join(payloads, "doc_id")
    # positional zip requires detector and recognizer to agree on the
    # line count — fail loudly instead of silently mispairing texts
    joined = joined.withColumn(
        "_count_ok",
        F.assert_true(
            F.size("quads") == F.size("line_payloads"),
            F.concat(
                F.lit("detector/recognizer line-count mismatch for doc "),
                F.col("doc_id"),
            ),
        ),
    )

    # reading order: sort quads by (y0, x0) of their first corner band,
    # then a positional zip with the (reading-ordered) recognizer
    # payloads — a per-doc JVM op, the detect->recognize join never
    # shuffles — and dense offsets. One SQL text: the decoder nests
    # inside the zip lambda as text too.
    sorted_quads = (
        "array_sort(transform(quads, q -> named_struct("
        "'y0', array_min(filter(q.points, (v, i) -> i % 2 = 1)), "
        "'x0', array_min(filter(q.points, (v, i) -> i % 2 = 0)), "
        "'points', q.points, 'conf', q.conf)))"
    )
    spans = (
        f"zip_with({sorted_quads}, line_payloads, (q, p) -> named_struct("
        "'y0', q.y0, 'x0', q.x0, 'kind', 'text', "
        f"'text', {text_decode_sql('p.rcg_mode', 'p.pred_ids')}, "
        "'points', q.points, 'conf', q.conf))"
    )
    out = F.expr(
        f"transform({spans}, (s, i) -> named_struct("
        "'kind', s.kind, 'text', s.text, 'media_ref', '', 'offset', CAST(i AS INT), "
        "'points', s.points, 'conf', round(s.conf, 6)))"
    )
    return joined.select("doc_id", out.alias("spans"), "_count_ok").drop("_count_ok")


def make_fullchain_fixture(n_docs: int, seed: int = 83):
    """Deterministic corpus of raw EAST maps + per-line recognizer ids,
    with the expected span output computed independently."""
    import numpy as np

    from ..functions import text as TXT
    from ..operators.detection import make_east_fixture

    rows, expected = [], []
    for d in range(n_docs):
        rng = np.random.default_rng(seed * 524287 + d)
        det_row, golden = make_east_fixture(d, seed=seed, mode="RBOX" if d % 2 else "QUAD")
        det_row["doc_id"] = f"fc-{seed}-{d:05d}"
        # golden boxes in reading order (y0, x0 of the planted rect)
        ordered = sorted(golden, key=lambda g: (g[0][1], g[0][0]))
        payloads, spans = [], []
        for off, (quad, n_pix) in enumerate(ordered):
            word = "".join(TXT.CHARS36[i] for i in rng.integers(0, 36, size=rng.integers(1, 10)))
            if rng.random() < 0.5:
                payloads.append(
                    {"pred_ids": [int(x) for x in TXT.ctc_encode_with_noise(word, rng)], "rcg_mode": "ctc"}
                )
            else:
                payloads.append(
                    {"pred_ids": [int(x) for x in TXT.attn_encode(word, rng)], "rcg_mode": "attn"}
                )
            spans.append(
                {"kind": "text", "text": word, "media_ref": "", "offset": off}
            )
        det_row["line_payloads"] = payloads
        rows.append(det_row)
        expected.append({"doc_id": det_row["doc_id"], "spans": spans})
    return rows, expected


FULLCHAIN_SCHEMA = (
    "doc_id string, score_map array<double>, geo_map array<double>, h int, w int, "
    "mode string, scale_factor double, "
    "line_payloads array<struct<pred_ids:array<int>, rcg_mode:string>>"
)
