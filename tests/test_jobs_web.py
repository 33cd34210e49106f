"""The extraction job (jobs/run_extraction.py) over raw-HTML input:
end-to-end main() over a markup pages table, snapshot-manifest resume
with the to_spans transform, lineage operation label, F9 path guard, and
the refusal of input that is neither span docs nor markup pages."""

from __future__ import annotations

import json

import pytest

from rca_pdf_extraction_pipeline_spark.jobs import run_extraction
from rca_pdf_extraction_pipeline_spark.operators import htmlparse as HP
from rca_pdf_extraction_pipeline_spark.plans import checkpoint


def _pages(spark, n=24):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(8 + (i * 5) % 40)))
         for i in range(n)], "doc_id long, text string")
    return HP.synth_html(docs)


def _spans_by_doc(rows):
    return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in r["spans"]]
            for r in rows}


def test_run_web_extract_end_to_end(spark, tmp_path):
    pages = _pages(spark)
    in_dir, out_dir = str(tmp_path / "pages"), str(tmp_path / "table")
    pages.write.parquet(in_dir)

    rc = run_extraction.main([
        "--input", in_dir, "--output", out_dir,
        "--n-buckets", "8", "--waves", "2",
    ])
    assert rc == 0

    got = _spans_by_doc(checkpoint.read_extracted(spark, out_dir).collect())
    want = _spans_by_doc(
        HP.to_spans(pages, content_only=True).collect())
    assert got == want and len(got) == 24

    # lineage records the web operation, not extract_documents
    manifest = json.loads((tmp_path / "table" / "_snapshots.json")
                          .read_text())["snapshots"]
    ops = {s["lineage"]["operation"] for s in manifest}
    assert ops == {"htmlparse.to_spans(content_only=True)"}
    # per-wave metrics observed (docs/spans/bytes all non-zero)
    m = manifest[0]["metrics"]
    assert m["docs"] > 0 and m["output_spans"] > 0 and m["logical_bytes"] > 0


def test_web_extract_resume_with_transform(spark, tmp_path):
    pages = _pages(spark)
    out_dir = str(tmp_path / "table")

    def tf(df, _cfg):
        return HP.to_spans(df, content_only=True)

    r1 = checkpoint.extract_with_checkpoint(
        pages, out_dir, n_buckets=8, waves=4, max_waves=2, transform=tf,
        operation="htmlparse.to_spans(content_only=True)")
    assert r1["buckets_remaining"] > 0  # simulated mid-run failure
    partial = checkpoint.read_extracted(spark, out_dir).count()

    r2 = checkpoint.extract_with_checkpoint(
        pages, out_dir, n_buckets=8, waves=4, transform=tf,
        operation="htmlparse.to_spans(content_only=True)")
    assert r2["resumed_from"] == r1["buckets_completed_now"] > 0
    assert r2["buckets_remaining"] == 0

    got = _spans_by_doc(checkpoint.read_extracted(spark, out_dir).collect())
    want = _spans_by_doc(HP.to_spans(pages, content_only=True).collect())
    assert got == want and len(got) > 0 and partial < len(got)


def test_web_extract_all_blocks_flag(spark, tmp_path):
    pages = _pages(spark, n=6)
    in_dir, out_dir = str(tmp_path / "pages"), str(tmp_path / "table")
    pages.write.parquet(in_dir)
    rc = run_extraction.main([
        "--input", in_dir, "--output", out_dir, "--all-blocks",
        "--n-buckets", "4", "--waves", "1",
    ])
    assert rc == 0
    got = _spans_by_doc(checkpoint.read_extracted(spark, out_dir).collect())
    want = _spans_by_doc(HP.to_spans(pages, content_only=False).collect())
    assert got == want
    # boilerplate (nav/footer) present in the all-blocks output
    assert any("copyright" in (t or "")
               for seq in got.values() for _, t, _, _ in seq)


def test_web_extract_output_path_guard(tmp_path):
    with pytest.raises(ValueError, match="outside allowed"):
        run_extraction.main([
            "--input", str(tmp_path / "in"),
            "--output", "/etc/forbidden",
            "--allowed-roots", str(tmp_path),
        ])


def test_extraction_job_refuses_unknown_input(spark, tmp_path):
    """Input with neither a 'spans' nor an 'html' column is refused by
    name before any extraction runs — no output table is created."""
    in_dir, out_dir = str(tmp_path / "rows"), tmp_path / "table"
    spark.createDataFrame([(1, "x")], "doc_id long, body string") \
        .write.parquet(in_dir)
    with pytest.raises(ValueError, match=r"columns \['doc_id', 'body'\]"):
        run_extraction.main(["--input", in_dir, "--output", str(out_dir),
                             "--allowed-roots", str(tmp_path)])
    assert not out_dir.exists()
