"""Registry population — the engine's pluggable pipeline surface.

Mirrors the reference's mmcv registries (PREPROCESS / POSTPROCESS /
CONVERTERS / PIPELINES, davar_common/core/builder.py:13-15): every
stage is a ``DataFrame -> DataFrame`` callable registered by name;
config lists (like mmcv pipeline configs) compile to a chain via
``registry.compose``.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from .registry import register_stage


@register_stage("FilterDocs")
def _filter_docs(df, min_size: int = 32):
    from .filters import filter_docs

    return filter_docs(df, min_size)


@register_stage("CareSplit")
def _care_split(df):
    from .filters import care_split

    return care_split(df)


@register_stage("FilterTexts")
def _filter_texts(df, **kw):
    from .filters import filter_texts

    return filter_texts(df, **kw)


@register_stage("ExplodeRegions")
def _explode_regions(df):
    return df.select("doc_id", F.posexplode("regions").alias("pos", "r")).select(
        "doc_id", "pos", "r.*"
    )


@register_stage("ClassifyKind")
def _classify_kind(df, scores_col: str = "kind_scores"):
    from ..plans.extract import classify_kind

    return df.withColumn("kind", classify_kind(scores_col))


@register_stage("TextDecode")
def _text_decode(df, mode_col: str = "mode", ids_col: str = "pred_ids"):
    from .decode_sql import text_decode_col

    return df.withColumn("text", text_decode_col(mode_col, ids_col))


@register_stage("LGPMA")
def _lgpma(df, **kw):
    from .table import lgpma_stage

    return lgpma_stage(df, **kw)


@register_stage("EASTDecode")
def _east(df, **kw):
    from .detection import east_decode_stage

    return east_decode_stage(df, **kw)


@register_stage("SegGroup")
def _seg_group(df, **kw):
    from .spotting import seg_group_stage

    return seg_group_stage(df, **kw)


@register_stage("MangoVote")
def _mango_vote(df):
    from .spotting import mango_vote_stage

    return mango_vote_stage(df)


@register_stage("XYCutOrder")
def _xycut(df, **kw):
    from .ordering import xycut_order

    return xycut_order(df, **kw)


@register_stage("PointerOrder")
def _pointer(df, **kw):
    from .ordering import pointer_order_stage

    return pointer_order_stage(df, **kw)


@register_stage("NERDecode")
def _ner(df, **kw):
    from .ner import ner_decode_stage

    return ner_decode_stage(df, **kw)


@register_stage("TrackMerge")
def _track_merge(df, **kw):
    from .video import track_merge_stage

    return track_merge_stage(df, **kw)


@register_stage("FetchMedia")
def _fetch_media(df, **kw):
    from .multimodal import fetch_media_stage

    return fetch_media_stage(df, **kw)


@register_stage("DecodeMedia")
def _decode_media(df, **kw):
    from .multimodal import decode_media_stage

    return decode_media_stage(df, **kw)
