"""Snapshot commit / resume / lineage tests (north-rule ops story)."""

import json
import os

import pyspark.sql.functions as F

from davar_lab_ocr_spark.corpus import expected_df, make_raw_corpus, raw_df
from davar_lab_ocr_spark.plans.resume import SnapshotSink, run_resumable_extract


def _spans_map(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in df.collect()
    }


def test_resume_after_partial_commit(spark, tmp_path):
    out = str(tmp_path / "sink")
    raw_rows, expected_rows = make_raw_corpus(60, seed=21, giant_every=0)
    full = raw_df(spark, raw_rows)

    # batch 1: first 25 docs committed
    first = full.filter(F.col("doc_id") < "doc-21-0000025")
    m1 = run_resumable_extract(spark, first, out, batch_id="b1")
    assert m1["n_docs"] > 0

    # simulate a CRASHED batch: data dir written, NO manifest
    crashed_dir = os.path.join(out, "batch=crashed")
    first.limit(3).write.mode("overwrite").parquet(crashed_dir)

    # batch 2 over the FULL input: must process only the remainder
    m2 = run_resumable_extract(spark, full, out, batch_id="b2")
    assert m1["n_docs"] + m2["n_docs"] == 60

    sink = SnapshotSink(out)
    got = _spans_map(sink.read(spark))
    want = _spans_map(expected_df(spark, expected_rows))
    assert got == want  # crashed partial output invisible, no dups, no gaps


def test_rerun_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "sink2")
    raw_rows, _ = make_raw_corpus(20, seed=22, giant_every=0)
    full = raw_df(spark, raw_rows)
    run_resumable_extract(spark, full, out, batch_id="a")
    m = run_resumable_extract(spark, full, out, batch_id="b")
    assert m["n_docs"] == 0  # nothing left to do
    sink = SnapshotSink(out)
    assert sink.read(spark).count() == 20


def test_lineage_counters(spark, tmp_path):
    out = str(tmp_path / "sink3")
    raw_rows, expected_rows = make_raw_corpus(30, seed=23, giant_every=0)
    run_resumable_extract(spark, raw_df(spark, raw_rows), out, batch_id="x")
    sink = SnapshotSink(out)
    manifest = sink.committed_batches()[0]
    lineage = spark.read.parquet(manifest["lineage_path"])
    rows = lineage.collect()
    assert sum(r["n_docs"] for r in rows) == manifest["n_docs"]
    assert sum(r["n_spans"] for r in rows) == manifest["n_spans"]
    total_spans = sum(len(e["spans"]) for e in expected_rows)
    assert manifest["n_spans"] == total_spans
    # manifest is valid json on disk
    with open(os.path.join(out, "_manifests", "x.json")) as fh:
        assert json.load(fh)["batch_id"] == "x"


def test_time_travel_read(spark, tmp_path):
    import pytest

    out = str(tmp_path / "tt")
    raw_rows, _ = make_raw_corpus(30, seed=71, giant_every=0)
    full = raw_df(spark, raw_rows)
    half = full.filter(F.col("doc_id") < "doc-71-0000015")
    run_resumable_extract(spark, half, out, batch_id="b1")
    run_resumable_extract(spark, full, out, batch_id="b2")

    sink = SnapshotSink(out)
    hist = sink.history()
    assert [m["batch_id"] for m in hist] == ["b1", "b2"]
    n_b1 = sink.read(spark, as_of="b1").count()
    n_all = sink.read(spark).count()
    assert 0 < n_b1 < n_all
    # as_of the latest batch == current state
    assert sink.read(spark, as_of="b2").count() == n_all
    with pytest.raises(KeyError):
        sink.read(spark, as_of="nope")


def test_snapshot_read_merges_evolved_schema(spark, tmp_path):
    """A later batch may add columns (Iceberg schema-evolution analog):
    the unioned read surfaces the new column, nulls for old batches,
    and the resume anti-join keeps working."""
    import pyspark.sql.functions as F

    from davar_lab_ocr_spark.plans.resume import SnapshotSink

    sink = SnapshotSink(str(tmp_path / "evo"))
    spans = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    d1 = spark.createDataFrame(
        [("a", [("text", "x", "", 0)])], f"doc_id string, spans {spans}"
    )
    sink.write_batch(d1, batch_id="b1")
    d2 = spark.createDataFrame(
        [("b", [("text", "y", "", 0)], "en")],
        f"doc_id string, spans {spans}, lang string",
    )
    sink.write_batch(d2, batch_id="b2")

    got = sink.read(spark)
    assert "lang" in got.columns
    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows["a"]["lang"] is None and rows["b"]["lang"] == "en"
    # time travel to b1 shows the pre-evolution schema
    old = sink.read(spark, as_of="b1")
    assert "lang" not in old.columns
    assert sink.processed_doc_ids(spark).count() == 2


def test_empty_span_lineage_counter(spark, tmp_path):
    # content-free spans (no text, no media ref) are counted into
    # lineage + manifest — the SCALE.md short-payload silent-empty case
    out = str(tmp_path / "sink4")
    rows = [
        ("d1", [("text", "hello", "", 0), ("figure", "", "media://x.png", 1), ("text", "", "", 2)]),
        ("d2", [("text", "", "", 0)]),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    m = SnapshotSink(out).write_batch(df, batch_id="e")
    assert m["n_empty_spans"] == 2
    lineage = spark.read.parquet(m["lineage_path"])
    assert sum(r["n_empty_spans"] for r in lineage.collect()) == 2


def _recount(spark, paths):
    """(n_docs, n_spans, n_empty_spans) of parquet paths, from the rows."""
    from davar_lab_ocr_spark.plans.resume import EMPTY_SPANS_SQL

    r = spark.read.parquet(*paths).selectExpr(
        "count(1) AS n", "sum(size(spans)) AS s", f"sum({EMPTY_SPANS_SQL}) AS e"
    ).collect()[0]
    return (r["n"], r["s"] or 0, r["e"] or 0)


def test_manifest_totals_equal_recount_of_committed_files(spark, tmp_path):
    raw_rows, _ = make_raw_corpus(40, seed=31, giant_every=13, giant_size=80)
    m = run_resumable_extract(spark, raw_df(spark, raw_rows), str(tmp_path / "s"), batch_id="t")
    got = (m["n_docs"], m["n_spans"], m["n_empty_spans"])
    assert got == _recount(spark, [m["data_path"]])
    assert m["n_docs"] > 0


def test_each_lineage_row_equals_recount_of_its_part_file(spark, tmp_path):
    from davar_lab_ocr_spark.plans.extract import extract

    raw_rows, _ = make_raw_corpus(40, seed=32, giant_every=0)
    docs = extract(raw_df(spark, raw_rows)).repartition(3)
    m = SnapshotSink(str(tmp_path / "s")).write_batch(docs, batch_id="p")
    rows = spark.read.parquet(m["lineage_path"]).collect()
    files = sorted(f for f in os.listdir(m["data_path"]) if f.endswith(".parquet"))
    assert sorted(r["file"] for r in rows) == files and len(files) == 3
    for r in rows:
        path = os.path.join(m["data_path"], r["file"])
        assert (r["n_docs"], r["n_spans"], r["n_empty_spans"]) == _recount(spark, [path])
        ids = [x["doc_id"] for x in spark.read.parquet(path).select("doc_id").collect()]
        assert (r["min_doc_id"], r["max_doc_id"]) == (min(ids), max(ids))
        assert r["_part"] == int(r["file"].split("-")[1])


def test_zero_doc_commit_has_zero_totals_and_no_lineage_rows(spark, tmp_path):
    out = str(tmp_path / "s")
    raw_rows, _ = make_raw_corpus(10, seed=33, giant_every=0)
    full = raw_df(spark, raw_rows)
    run_resumable_extract(spark, full, out, batch_id="a")
    m = run_resumable_extract(spark, full, out, batch_id="b")
    assert (m["n_docs"], m["n_spans"], m["n_empty_spans"]) == (0, 0, 0)
    assert spark.read.parquet(m["lineage_path"]).count() == 0
    assert [b["batch_id"] for b in SnapshotSink(out).history()] == ["a", "b"]


def test_commit_caches_nothing_and_runs_at_most_six_jobs(spark, tmp_path):
    out = str(tmp_path / "s")
    raw_rows, _ = make_raw_corpus(10, seed=9, giant_every=0)
    full = raw_df(spark, raw_rows)
    run_resumable_extract(spark, full.filter(F.col("doc_id") < "doc-9-0000005"), out, batch_id="a")
    sc = spark.sparkContext
    sc.setJobGroup("resume-commit-jobs", "one resumable commit")
    try:
        m = run_resumable_extract(spark, full, out, batch_id="b")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m["n_docs"] > 0
    assert sc._jsc.getPersistentRDDs().isEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("resume-commit-jobs")) <= 6


def test_lineage_mismatch_raises_and_commits_nothing(spark, tmp_path, monkeypatch):
    import pytest

    from davar_lab_ocr_spark.plans import resume

    off_by_one = ["sum(n_docs) + 1 AS n_docs", "sum(n_spans) AS n_spans",
                  "sum(n_empty_spans) AS n_empty_spans"]
    monkeypatch.setattr(resume, "_LINEAGE_SUMS", off_by_one)
    raw_rows, _ = make_raw_corpus(10, seed=34, giant_every=0)
    out = str(tmp_path / "s")
    with pytest.raises(RuntimeError, match="not committed"):
        run_resumable_extract(spark, raw_df(spark, raw_rows), out, batch_id="m")
    sink = SnapshotSink(out)
    assert sink.committed_batches() == [] and sink.read(spark) is None


def test_reused_batch_id_raises_and_keeps_the_committed_batch(spark, tmp_path):
    import pytest

    out = str(tmp_path / "s")
    raw_rows, _ = make_raw_corpus(20, seed=35, giant_every=0)
    full = raw_df(spark, raw_rows)
    first = run_resumable_extract(spark, full.filter(F.col("doc_id") < "doc-35-0000010"), out,
                                  batch_id="a")
    sink = SnapshotSink(out)
    before = _spans_map(sink.read(spark))
    files = sorted(os.listdir(first["data_path"]))
    with pytest.raises(FileExistsError, match="already committed"):
        run_resumable_extract(spark, full, out, batch_id="a")
    assert sink.history() == [first]
    assert sorted(os.listdir(first["data_path"])) == files
    assert _spans_map(sink.read(spark)) == before and len(before) == first["n_docs"] == 10
