"""spark-submit entry point for the corpus dedup index — the stored
side of incremental deduplication:

    spark-submit --py-files rca_pkg.zip \\
        rca_pdf_extraction_pipeline_spark/jobs/run_dedup_index.py \\
        --input  <parquet dir of documents(doc_id, text, ...)> \\
        --output <index dir>

Artifacts (deterministic — same corpus, same rows):

* ``<out>/band_keys``  — (doc_id, band, band_key): MinHash-LSH band
  keys for the whole corpus (``operators.dedup.minhash_band_keys``),
  repartitioned on band_key at write so each file holds whole buckets —
  the table both the batch (``incremental_candidate_pairs``) and the
  streaming (``streaming.dedup.incremental_pairs_stream``) ingest paths
  join new batches against without ever re-shingling the corpus.  The
  keys use the operator's fixed 8 seeds, 2 bands and 3-token shingles,
  the keys both ingest paths compute for a new batch; the job has no
  flag that could make the two sides disagree.
* ``<out>/stats.json`` — corpus size, key count, bucket-size histogram
  head (the skew card: a hot band_key here predicts a hot join bucket,
  which AQE splits at read).

Steady-state operation: run this once over the landed corpus, point
ingest at ``band_keys``, and re-run periodically (or per partition
increment) to fold newly-accepted documents into the index.

Output path is validated by the same F9 allowlist as the extraction
job."""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Corpus dedup index (Spark)")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--allowed-roots", nargs="*", default=None)
    args = ap.parse_args(argv)

    from .run_extraction import validate_output_path
    validate_output_path(args.output, args.allowed_roots)

    from pyspark.sql import functions as F

    from ..operators import dedup
    from ..session import get_spark

    spark = get_spark("dedup-index-build")
    docs = spark.read.parquet(args.input)
    out = Path(args.output)
    out.mkdir(parents=True, exist_ok=True)

    keys = dedup.minhash_band_keys(docs)
    # co-locate whole LSH buckets per file: the ingest join's shuffle of
    # the stored side is prepaid by the layout (bucketed-table variant:
    # plans/bucketing.py)
    (keys.repartition(F.col("band_key"))
     .write.mode("overwrite").parquet(str(out / "band_keys")))

    stored = spark.read.parquet(str(out / "band_keys"))
    sizes = stored.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("n"))
    top = [(r["band"], r["band_key"], r["n"])
           for r in sizes.orderBy(F.desc("n"), "band", "band_key")
           .limit(5).collect()]
    stats = {
        "n_docs": int(docs.count()),
        "n_keys": int(stored.count()),
        "n_buckets": int(sizes.count()),
        "hottest_buckets": [
            {"band": int(b), "band_key": k, "n_docs": int(n)}
            for b, k, n in top],
        "config": {"n_hashes": dedup.DEFAULT_MINHASH_SEEDS,
                   "bands": dedup.DEFAULT_BANDS, "shingle_size": 3},
    }
    (out / "stats.json").write_text(json.dumps(stats, indent=2) + "\n")
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
