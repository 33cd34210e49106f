"""The four workloads: one pass of each, and the check of its output.

A pass reads the generated table and runs the program's public entry
points on it; the sink is Spark's ``noop`` format except in ``resume_job``,
which writes the checkpointed table.  ``check`` keeps a digest per output
document and compares it with the expected one.
"""

from __future__ import annotations

import json
import shutil
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.config import DEFAULT_CONFIG, ExtractionConfig
from rca_pdf_extraction_pipeline_spark.functions.classify_expr import keyword_cascade
from rca_pdf_extraction_pipeline_spark.operators import extraction, htmlparse, skew
from rca_pdf_extraction_pipeline_spark.plans import checkpoint

import gen

#: resume_job shape: 16 buckets in 4 waves, stopped after 2, then resumed
N_BUCKETS, WAVES, FIRST_LEG_WAVES = 16, 4, 2


@contextmanager
def _no_span(name: str, **attrs):
    yield attrs


def digest_col(spans: Column) -> Column:
    """Spark twin of :func:`gen.digest`."""
    nul = F.lit("\x00")
    parts = F.transform(spans, lambda s: F.concat_ws(
        "\x1f", F.coalesce(s["kind"], nul), F.coalesce(s["text"], nul),
        F.coalesce(s["media_ref"], nul), s["offset"].cast("string")))
    return F.md5(F.coalesce(F.array_join(parts, "\x1e"), F.lit("")))


class Workload:
    """One workload over one cached input directory."""

    def __init__(self, name: str, input_dir: Path, work: Path,
                 cfg: ExtractionConfig = DEFAULT_CONFIG):
        self.name = name
        self.cfg = cfg
        self.input_dir = input_dir
        self.meta = json.loads((input_dir / "meta.json").read_text())
        self.docs = self.meta["docs"]
        self.table_dir = work / "out" / name
        self.reports: list[dict] = []

    # -- passes ------------------------------------------------------------

    def run_pass(self, spark: SparkSession, span=_no_span) -> float:
        """One full pass over the input; returns its wall seconds.  ``span``
        names each leg of the checkpointed job for a trace."""
        path = str(self.input_dir / "docs")
        if self.name != "resume_job":
            t0 = time.perf_counter()
            self._output(spark.read.parquet(path)).write.format("noop") \
                .mode("overwrite").save()
            return time.perf_counter() - t0
        shutil.rmtree(self.table_dir, ignore_errors=True)
        t0 = time.perf_counter()
        docs = spark.read.parquet(path)
        self.reports = []
        for max_waves in (FIRST_LEG_WAVES, None):
            with span("leg", max_waves=max_waves):
                self.reports.append(checkpoint.extract_with_checkpoint(
                    docs, self.table_dir, cfg=self.cfg, n_buckets=N_BUCKETS,
                    waves=WAVES, max_waves=max_waves))
        return time.perf_counter() - t0

    def warmup(self, spark: SparkSession) -> None:
        """The untimed pass of set-up, over the warm-up slice: it loads the
        JVM classes and starts the Python workers the timed passes use."""
        docs = spark.read.parquet(str(self.input_dir / "warmup"))
        if self.name == "resume_job":
            warm_dir = self.table_dir.with_name(self.table_dir.name + "-warmup")
            shutil.rmtree(warm_dir, ignore_errors=True)
            checkpoint.extract_with_checkpoint(docs, warm_dir, cfg=self.cfg,
                                               n_buckets=N_BUCKETS, waves=1)
        else:
            self._output(docs).write.format("noop").mode("overwrite").save()

    def _output(self, docs: DataFrame) -> DataFrame:
        if self.name == "html_main":
            return htmlparse.to_spans(htmlparse.synth_html(docs), content_only=True)
        return extraction.extract_documents(skew.salted_repartition(docs, self.cfg),
                                            self.cfg)

    # -- correctness ---------------------------------------------------------

    def check(self, spark: SparkSession) -> tuple[int, list[str]]:
        """Compare outputs with the expected ones; returns (documents failed,
        problems).  ``resume_job`` checks the table its last timed pass
        committed; the other workloads run their pipeline once more."""
        if self.name == "html_main":
            return self._check_html(spark)
        docs = spark.read.parquet(str(self.input_dir / "docs"))
        problems: list[str] = []
        failed: set[str] = set()
        if self.name == "resume_job":
            out = checkpoint.read_extracted(spark, self.table_dir)
            counts = self.commit_counts()
            redone = [b for b, c in enumerate(counts) if c != 1]
            if redone:
                problems.append(f"bucket commit counts {counts}")
                failed |= {r.doc_id for r in docs.filter(
                    checkpoint._bucket_col(N_BUCKETS).isin(redone)).select("doc_id").collect()}
        else:
            out = self._output(docs)
        got: dict[str, str] = {}
        for r in out.select("doc_id", digest_col(F.col("spans")).alias("d")).collect():
            if r.doc_id in got:
                failed.add(r.doc_id)     # emitted twice
            got[r.doc_id] = r.d
        want = dict(self._expected(spark, docs).collect())
        differ = sorted(d for d in want.keys() | got.keys() if got.get(d) != want.get(d))
        failed |= set(differ)
        if failed:
            problems.append(f"{len(failed)} docs failed, {len(differ)} of them differ "
                            f"from the expected output (e.g. {differ[:3]})")
        return len(failed), problems

    def _expected(self, spark: SparkSession, docs: DataFrame) -> DataFrame:
        """(doc_id, want): golden-derived digests from the generator; light
        one-span docs get 12 header fields when the JVM keyword cascade
        calls their page ``table`` and no spans otherwise."""
        heavy = spark.read.parquet(str(self.input_dir / "expected")) \
            .withColumnRenamed("digest", "want")
        page_text = F.element_at(F.split(F.col("spans")[0]["text"], r"\|", 2), 2)
        light = (docs.join(heavy.select("doc_id"), "doc_id", "left_anti")
                 .select("doc_id", F.when(
                     keyword_cascade(page_text)["page_type"] == "table",
                     F.lit(gen.header_only_digest()))
                     .otherwise(F.lit(gen.EMPTY_DIGEST)).alias("want")))
        return heavy.unionByName(light)

    def commit_counts(self) -> list[int]:
        """How many snapshots committed each bucket."""
        counts = [0] * N_BUCKETS
        for s in checkpoint.SnapshotManifest(self.table_dir).load():
            for b in s["completed_buckets"]:
                counts[b] += 1
        return counts

    def _check_html(self, spark: SparkSession) -> tuple[int, list[str]]:
        from check_entry import value_hash

        docs = spark.read.parquet(str(self.input_dir / "docs"))
        rows = (self._output(docs).select("doc_id", F.explode_outer("spans").alias("s"))
                .filter(F.col("s").isNotNull())
                .select("doc_id", F.col("s.offset").alias("offset"),
                        F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
                        F.col("s.media_ref").alias("media_ref"))).toArrow().to_pandas()
        h = value_hash(rows)
        if h != self.meta["oracle_hash"] or len(rows) != self.meta["oracle_rows"]:
            return self.docs, [f"value hash {h} ({len(rows)} rows) != oracle "
                               f"{self.meta['oracle_hash']} ({self.meta['oracle_rows']} rows)"]
        return 0, []
