"""spark-submit entry point for the extraction pipeline.

CLI mirror of the reference deliverable
(``python -m src.core_analysis <db> --output <dir> --original-headers``,
reference src/core_analysis.py:1001-1061), cluster-shaped:

    spark-submit --py-files rca_pkg.zip \\
        rca_pdf_extraction_pipeline_spark/jobs/run_extraction.py \\
        --input  <parquet dir> --output <table dir> \\
        [--all-blocks] [--n-buckets 64] [--waves 8]

The input's columns pick the transform:

  * ``(doc_id, spans)`` — PDF-span documents -> ``extract_documents``;
  * ``(doc_id, html, ...)`` — raw markup pages (the crawl shape) ->
    ``htmlparse.to_spans``, main content only unless ``--all-blocks``
    (sentinel-split DOM parse + in-array Boilerpipe scoring, one
    shuffle-free map).

Either way the output is the interleaved table ``(doc_id, spans)``,
written through the snapshot-manifest checkpoint machinery: bucket waves
over ``xxhash64(doc_id)``, per-wave observed metrics, file-level commits.
Running again continues from the manifest without reprocessing completed
buckets.  Build the zip with
``python -m rca_pdf_extraction_pipeline_spark.jobs.package``.  Driving
in-process needs no zip: ``session.get_spark`` hands local workers the
package directory, and ships the zip to any other session.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

#: F9 output-path allowlist (reference core_analysis.py:44-51) — the
#: Spark deployment's analogue of the reference's project/temp roots;
#: override per-run with --allowed-roots.
DEFAULT_ALLOWED_OUTPUT_ROOTS = [
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "/tmp/",
]


def validate_output_path(output_path: str,
                         allowed_roots: list[str] | None = None) -> bool:
    """F9 (reference core_analysis.py:751-768): ensure the output path is
    within allowed directories.  Same contract as the reference —
    returns True if valid, raises ValueError otherwise, with its message
    text.  Paths are compared by whole components (``/tmpevil`` is not
    inside ``/tmp``)."""
    roots = allowed_roots if allowed_roots is not None \
        else DEFAULT_ALLOWED_OUTPUT_ROOTS
    abs_path = os.path.abspath(output_path)
    for allowed_root in roots:
        allowed_abs = os.path.abspath(allowed_root)
        if os.path.commonpath([abs_path, allowed_abs]) == allowed_abs:
            return True
    raise ValueError(
        f"Output path '{output_path}' outside allowed directories")


def main(argv: list[str] | None = None) -> int:
    # import inside main so --py-files shipping is resolved by the time
    # executors deserialize tasks
    from rca_pdf_extraction_pipeline_spark.config import DEFAULT_CONFIG
    from rca_pdf_extraction_pipeline_spark.operators import htmlparse
    from rca_pdf_extraction_pipeline_spark.plans import checkpoint
    from rca_pdf_extraction_pipeline_spark.session import get_spark

    ap = argparse.ArgumentParser(description="RCA extraction pipeline (Spark)")
    ap.add_argument("--input", required=True,
                    help="parquet path of docs(doc_id, spans) or of raw "
                         "markup pages(doc_id, html)")
    ap.add_argument("--output", required=True, help="output table dir")
    ap.add_argument("--all-blocks", action="store_true",
                    help="html input: keep boilerplate blocks too "
                         "(default: main content only)")
    ap.add_argument("--n-buckets", type=int, default=checkpoint.N_BUCKETS,
                    help="bucket count; an input with a _bucket column "
                         "must have been written with the same count")
    ap.add_argument("--waves", type=int, default=8)
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument("--allowed-roots", nargs="*", default=None,
                    help="output-path allowlist roots (F9 guard; default: "
                         "repo root + /tmp/)")
    args = ap.parse_args(argv)
    validate_output_path(args.output, args.allowed_roots)

    cfg = DEFAULT_CONFIG
    if args.num_partitions:
        from dataclasses import replace
        cfg = replace(cfg, num_partitions=args.num_partitions)

    spark = get_spark("rca-extraction-job")
    docs = spark.read.parquet(args.input)
    if "html" in docs.columns:
        content_only = not args.all_blocks
        kw = {"transform": lambda df, _cfg: htmlparse.to_spans(
                  df, content_only=content_only),
              "operation": f"htmlparse.to_spans(content_only={content_only})"}
    elif "spans" in docs.columns:
        kw = {}
    else:
        raise ValueError(
            f"input {args.input} has columns {docs.columns}: expected "
            f"'spans' (PDF-span docs) or 'html' (raw markup pages)")
    report = checkpoint.extract_with_checkpoint(
        docs, args.output, cfg=cfg, n_buckets=args.n_buckets,
        waves=args.waves, input_desc=args.input, **kw,
    )
    print(json.dumps(report))
    # no spark.stop(): spark-submit tears the session down at exit, and
    # in-process callers (tests) keep their shared session alive
    return 0


if __name__ == "__main__":
    sys.exit(main())
