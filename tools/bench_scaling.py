"""N -> 4N scaling evidence for every operator family, one harness.

Runs the SAME query on the SAME generated corpus at each parallelism
level (``local[1]`` vs ``local[4]`` by default, each level in a fresh
JVM), appends one record per (family, level) to the append-only
``BENCH/SCALING.jsonl`` and prints the pooled table: the per-level
minimum over every record with the same family, size and host CPU
count.  Exits non-zero when records of one family and size disagree on
the output digest or row count.  Writes no other file in the
repository.

Usage::

    python tools/bench_scaling.py --family winnow,winnow_pairs \\
        [--size 100000] [--levels 1,4] [--runs 2]

``--size`` is the family's corpus size (documents, replicas, images,
vectors or rows — see ``RECIPES``); omitted, each family runs at its
registry default, the size of its committed records.  Corpora are
built once per (recipe, size) under ``$TMPDIR/scale_bench/`` and
reused while their ``_CORPUS`` marker (written last) exists.

Size a family so COMPUTE dominates, or scaling reads low: fixed
per-job costs (scheduling, AQE stage boundaries, driver round-trips)
do not shrink with cores.  Scaling runs must be the only load on the
box, and one invocation proves nothing on a shared host — pool several.
"""

from __future__ import annotations

import argparse
import functools
import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections.abc import Callable
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path
from typing import NamedTuple

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))
RECORDS = REPO / "BENCH" / "SCALING.jsonl"
CORPORA = Path(tempfile.gettempdir()) / "scale_bench"
#: sf0.1 testdata tables (bench.py's variable; default beside the checkout)
SF01 = Path(os.environ.get("SPARK_GRAFT_SF_DIR")
            or REPO.parent / "testdata" / "sf0.1")
#: warm-up rule for every family: one untimed run of the query over the
#: first WARM_ROWS rows of each table — same plan shapes, so codegen,
#: JIT and the Arrow workers are warm for the timed runs
WARM_ROWS = 4096


# --------------------------------------------------------------------------
# corpus recipes: (spark, size) -> {table name: DataFrame}, pure id
# arithmetic or sf0.1 replication, no RNG — the same size always yields
# the same rows


def _sf01(spark, table: str, *cols: str):
    return spark.read.parquet(str(SF01 / f"{table}.parquet")).select(*cols)


def _union(parts):
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


def _extraction_docs(spark, n_golden: int) -> dict:
    """sf0.1 text docs as one-span documents + ``n_golden`` golden-doc
    replicas + the skew fixture (one 100x oversized document)."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.sources import fixtures

    wrapped = _sf01(spark, "documents", "doc_id", "text").select(
        F.concat(F.lit("corpus-"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.array(F.struct(
            F.lit("text").alias("kind"),
            F.concat(F.lit("1|"), F.col("text")).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"))).alias("spans"))
    golden = fixtures.docs_to_spark(spark, [fixtures.build_golden_doc()]) \
        .select(F.col("spans").alias("g_spans"))
    heavy = (spark.range(n_golden)
             .select(F.format_string("golden-%04d", F.col("id"))
                     .alias("doc_id"))
             .crossJoin(F.broadcast(golden))
             .select("doc_id", F.col("g_spans").alias("spans")))
    skewed = fixtures.docs_to_spark(spark, fixtures.build_skew_docs(
        n_small=40, big_factor=100))
    # 256 small files: fine-grained scan tasks at every level
    return {"docs": _union([wrapped, heavy, skewed]).repartition(256)}


def _near_dup_docs(spark, replicas: int) -> dict:
    """sf0.1 docs x ``replicas``; replica k > 0 appends ' rep<k>', so
    replicas are near- but not exact duplicates."""
    from pyspark.sql import functions as F

    raw = _sf01(spark, "documents", "doc_id", "text")
    return {"docs": _union([raw.select(
        (F.col("doc_id") + k * 1_000_000).alias("doc_id"),
        (F.col("text") if k == 0
         else F.concat(F.col("text"), F.lit(f" rep{k}"))).alias("text"))
        for k in range(replicas)]).repartition(64)}


def _replica_docs(spark, replicas: int) -> dict:
    """sf0.1 docs x ``replicas`` with unchanged text: the corpus grows,
    the vocabulary does not."""
    from pyspark.sql import functions as F

    raw = _sf01(spark, "documents", "doc_id", "source", "text")
    return {"docs": _union([raw.select(
        (F.col("doc_id") + k * 1_000_000).alias("doc_id"), "source", "text")
        for k in range(replicas)]).repartition(64)}


def _replica_vectors(spark, replicas: int) -> dict:
    """sf0.1 embeddings (2000 x 64) x ``replicas``."""
    from pyspark.sql import functions as F

    raw = _sf01(spark, "embeddings", "vec_id", "embedding")
    return {"vectors": _union([raw.select(
        (F.col("vec_id") + k * 1_000_000).alias("vec_id"), "embedding")
        for k in range(replicas)]).repartition(64)}


def _pseudo_web(spark, replicas: int, edges_per_node: int) -> dict:
    """Nodes = sf0.1 doc ids x ``replicas``; each node emits
    ``edges_per_node`` md5-derived out-edges (uniform dst, so a Poisson
    in-degree tail), self-loops dropped."""
    from pyspark.sql import functions as F

    docs = _sf01(spark, "documents", "doc_id")
    nodes = _union([docs.select(
        (F.col("doc_id") + k * 1_000_000).alias("node_id"))
        for k in range(replicas)]).repartition(64)

    def h(j: int, lo: int, mod: int):
        return (F.conv(F.substring(F.md5(F.concat_ws(
            "-", F.col("node_id").cast("string"), F.lit(str(j)))),
            lo, 8), 16, 10).cast("long") % mod)

    edges = (nodes.select(
        F.col("node_id").alias("src"),
        F.posexplode(F.array(*[h(j, 1, replicas) * 1_000_000 + h(j, 9, 5000)
                               for j in range(edges_per_node)]))
        .alias("j", "dst"))
        .select("src", "dst").where(F.col("src") != F.col("dst")))
    return {"nodes": nodes, "edges": edges.repartition(64)}


def _bmp_images(spark, images: int) -> dict:
    """Pre-encoded textured BMPs; grid_mod = images // 2 plants one
    near-pair per grid id, so the pair join has real output."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import multimodal as mm

    ids = spark.range(images).select(F.col("id").alias("doc_id")) \
        .repartition(64)
    return {"media": mm.synth_grid_bmp_media(ids, grid_mod=images // 2)}


def _row_count(spark, rows: int) -> dict:
    """No stored rows: the query generates ``rows`` from a splittable
    ``spark.range``, so the arithmetic is what is measured."""
    return {"range": spark.createDataFrame([(rows,)], "n long")}


def _synth_vectors(spark, n: int) -> dict:
    """``n`` 64-dim vectors from id arithmetic, plus every
    (n // 64)-th vector as a 64-row query batch."""
    from pyspark.sql import functions as F

    vec = F.expr(
        "transform(sequence(0, 63), i -> sin(id * 0.37 + i * 1.13)"
        " + 0.01 * cos(id * 2.71 * (i + 1)))")
    vectors = (spark.range(n).repartition(64)
               .select(F.col("id").alias("vec_id"), vec.alias("embedding")))
    step = max(1, n // 64)
    return {"vectors": vectors,
            "queries": vectors.filter(F.col("vec_id") % step == 0)}


def _paragraph_docs(spark, docs: int) -> dict:
    """Docs of 8 x 25-token paragraphs; 1 paragraph in 5 comes from a
    (docs // 3)-paragraph dup pool, the rest are globally unique.  The
    paragraph's seed leads it as a token, so equal seeds are verbatim
    duplicates.  ``text_nl`` joins paragraphs by newline, ``text_sp`` by
    space."""
    from pyspark.sql import functions as F

    paras, toks, dup_every, pool = 8, 25, 5, docs // 3
    seed = (f"(CASE WHEN (id * 31 + j) % {dup_every} = 0 "
            f"THEN (id * 31 + j) % {pool} "
            f"ELSE {pool} + id * 31 + j END)")
    para = (f"transform(sequence(0, {paras - 1}), j -> "
            f"array_join(concat(array('p' || {seed}), "
            f"transform(sequence(1, {toks - 1}), t -> "
            f"'w' || ({seed} * 101 + t * 17) % 9973)), ' '))")
    return {"docs": spark.range(docs).repartition(64).select(
        F.col("id").alias("doc_id"),
        F.array_join(F.expr(para), "\n").alias("text_nl"),
        F.array_join(F.expr(para), " ").alias("text_sp"))}


def _token_docs(spark, docs: int, mult: int = 1, mod: int = 9973) -> dict:
    """Docs of 40-89 synthetic tokens 'w<(id * 131 + t * 17) * mult %
    mod>'."""
    from pyspark.sql import functions as F

    text = (f"array_join(transform(sequence(0, 39 + (id * 7) % 50), "
            f"t -> 'w' || (((id * 131 + t * 17) * {mult}) % {mod})), ' ')")
    return {"docs": spark.range(docs).repartition(64).select(
        F.col("id").alias("doc_id"), F.expr(text).alias("text"))}


def _overlap_docs(spark, docs: int) -> dict:
    """Parents whose tokens go through a Knuth multiplicative mix (~10^6
    vocabulary, doc-specific 3-grams) + a 40-token snippet of every 5th
    parent (ids offset by 10^9): genuine (parent, snippet) overlap."""
    from pyspark.sql import functions as F

    parents = _token_docs(spark, docs, 2654435761, 999983)["docs"]
    snips = (parents.filter(F.col("doc_id") % 5 == 0)
             .select((F.col("doc_id") + 1_000_000_000).alias("doc_id"),
                     F.array_join(F.slice(F.split("text", " "), 1, 40), " ")
                     .alias("text")))
    return {"docs": parents.unionByName(snips)}


RECIPES: dict[str, Callable] = {
    "extraction_docs": _extraction_docs,
    "near_dup_docs": _near_dup_docs,
    "replica_docs": _replica_docs,
    "replica_vectors": _replica_vectors,
    # 48 out-links: PageRank compute dominates at local[1]; 12 keeps the
    # triangle wedge table (~C(out_degree, 2)) out of the bus-bound zone
    "web48": functools.partial(_pseudo_web, edges_per_node=48),
    "web12": functools.partial(_pseudo_web, edges_per_node=12),
    "bmp_images": _bmp_images,
    "row_count": _row_count,
    "synth_vectors": _synth_vectors,
    "paragraph_docs": _paragraph_docs,
    "token_docs": _token_docs,
    "overlap_docs": _overlap_docs,
}


# --------------------------------------------------------------------------
# family queries: tables -> DataFrame; called once per run, so operators
# that run jobs while building their plan are timed in full


def _extraction(t):
    from rca_pdf_extraction_pipeline_spark.config import ExtractionConfig
    from rca_pdf_extraction_pipeline_spark.operators import skew
    from rca_pdf_extraction_pipeline_spark.operators.extraction import (
        extract_documents)

    # many task waves per core at every level: one doc cannot split, so
    # waves dilute the stragglers that hold the oversized docs
    cfg = ExtractionConfig(num_partitions=256)
    return extract_documents(skew.salted_repartition(t["docs"], cfg))


def _inverted_index(t):
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import search

    return (search.inverted_index(t["docs"], min_df=5, max_postings=8)
            .select("term", "df", "total_tf", "postings_len",
                    F.concat_ws(",", "postings").alias("p")))


def _corpus_drift(t):
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators.profiling import (
        corpus_drift)

    d = t["docs"]
    return corpus_drift(d.where(F.col("source") != "src1"),
                        d.where(F.col("source") == "src1"),
                        n_buckets=512, top_k=30)


def _media_dhash(t):
    from rca_pdf_extraction_pipeline_spark.operators import dedup
    from rca_pdf_extraction_pipeline_spark.operators import multimodal as mm

    sigs = mm.media_dhash(t["media"]).filter("ok")
    return dedup.simhash_pairs_from_signatures(
        sigs.select("media_ref", "sig_hi", "sig_lo"),
        id_col="media_ref", max_hamming=2)


def _zorder(t):
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.plans import layout

    n = t["range"].first()["n"]
    base = t["range"].sparkSession.range(n).select(
        (F.col("id") % 65536).cast("int").alias("x"),
        ((F.col("id") / 7).cast("long") % 65536).cast("int").alias("y"))
    z = layout.zorder_key(["x", "y"], bits=16)
    return (base.withColumn("zb", F.shiftright(z, 26).cast("int"))
            .groupBy("zb")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("x").alias("x_min"), F.max("x").alias("x_max"),
                 F.min("y").alias("y_min"), F.max("y").alias("y_max")))


def _rewrite(op: str, text_col: str):
    """The rewrite family; the rewritten text is timed and digested as
    its md5, so the digest stays one narrow column."""
    def query(t):
        from pyspark.sql import functions as F

        from rca_pdf_extraction_pipeline_spark.operators import (
            dedup, substring_dedup)

        fn = {"para_dedup": dedup.dedup_paragraphs,
              "substr_trim": substring_dedup.trim_duplicated_ranges}[op]
        out = fn(t["docs"].select("doc_id", F.col(text_col).alias("text")))
        return out.select(*[c for c in out.columns if c != "clean_text"],
                          F.md5("clean_text").alias("text_md5"))
    return query


def _span_rows(docs):
    """One row per span of the nested ``spans`` column."""
    from pyspark.sql import functions as F

    return (docs.select("doc_id", F.explode_outer("spans").alias("s"))
            .filter(F.col("s").isNotNull())
            .select("doc_id", "s.offset", "s.kind", "s.text", "s.media_ref"))


def _interleaved(op: str):
    def query(t):
        from rca_pdf_extraction_pipeline_spark.operators import interleaved as I

        inter = I.synth_interleaved(t["docs"])
        if op == "captions":
            return I.caption_pairs(inter)
        if op == "merge":
            return _span_rows(I.merge_adjacent_text(inter))
        if op == "context":
            return I.media_context(inter, k=2)
        if op == "census":
            return I.asset_census(inter, pool=4096)
        return I.pack_interleaved(inter, budget_tokens=64, media_cost=16)
    return query


def _html(op: str):
    def query(t):
        from pyspark.sql import functions as F

        from rca_pdf_extraction_pipeline_spark.operators import htmlparse as HP

        corpus = HP.synth_html(t["docs"])
        if op == "parse":
            return HP.parse_blocks(corpus)
        if op == "main_spans":
            return _span_rows(HP.to_spans(corpus, content_only=True))
        links = HP.extract_links(corpus, base_col="site")
        host = F.regexp_extract("url", "https://([^/]+)", 1)
        return (links.groupBy(host.alias("dst_site"))
                .agg(F.count(F.lit(1)).alias("n_links"),
                     F.countDistinct("doc_id").alias("n_docs")))
    return query


def _op(module: str, name: str, table: str = "docs", *args, **kwargs):
    """A query that is one operator call on one table.  ``query.operator``
    returns the operator, and ``query.args`` / ``query.kwargs`` are the
    arguments after the table (tests bind them to its signature)."""
    def operator():
        import importlib

        mod = importlib.import_module(
            f"rca_pdf_extraction_pipeline_spark.operators.{module}")
        return getattr(mod, name)

    def query(t):
        return operator()(t[table], *args, **kwargs)
    query.operator, query.args, query.kwargs = operator, args, kwargs
    return query


def _dedup_cc(t):
    from rca_pdf_extraction_pipeline_spark.operators import dedup

    return dedup.deduplicate_corpus_cc(t["docs"]).select("doc_id")


def _pagerank(t):
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    return linkgraph.pagerank(t["nodes"], t["edges"], iters=3)


def _knn_join(t):
    from rca_pdf_extraction_pipeline_spark.operators import similarity

    return similarity.knn_join(t["queries"], t["vectors"], k=10,
                               n_centroids=16)


class Family(NamedTuple):
    recipe: str
    query: Callable
    size: int  # default: the size of the family's committed records


REGISTRY: dict[str, Family] = {
    "extraction": Family("extraction_docs", _extraction, 16384),
    "dedup_corpus_cc": Family("near_dup_docs", _dedup_cc, 3),
    "substr_dup_ranges": Family(
        "near_dup_docs", _op("substring_dedup", "duplicated_ranges"), 3),
    "inverted_index": Family("near_dup_docs", _inverted_index, 3),
    "ann_pq_codes": Family(
        "replica_vectors", _op("similarity", "pq_codes", "vectors"), 64),
    "link_pagerank": Family("web48", _pagerank, 64),
    "link_triangles": Family(
        "web12", _op("linkgraph", "triangle_counts", "edges"), 64),
    "link_cocitation": Family(
        "web12", _op("linkgraph", "cocitation_pairs", "edges"), 64),
    "corpus_drift": Family("replica_docs", _corpus_drift, 64),
    "bpe_train": Family("replica_docs", _op("bpe", "bpe_train", "docs", 4),
                        64),
    "media_dhash": Family("bmp_images", _media_dhash, 32768),
    "zorder": Family("row_count", _zorder, 100_000_000),
    "knn_join": Family("synth_vectors", _knn_join, 100_000),
    "sq8": Family("synth_vectors", _op("similarity", "sq8_topk", "vectors",
                                       query_id=0, k=100), 1_000_000),
    "para_dedup": Family("paragraph_docs", _rewrite("para_dedup", "text_nl"),
                         300_000),
    "substr_trim": Family("paragraph_docs",
                          _rewrite("substr_trim", "text_sp"), 30_000),
    **{op: Family("token_docs", _interleaved(op), 500_000)
       for op in ("captions", "pack", "merge", "context", "census")},
    "parse": Family("token_docs", _html("parse"), 500_000),
    "main_spans": Family("token_docs", _html("main_spans"), 500_000),
    "link_census": Family("token_docs", _html("link_census"), 2_000_000),
    "winnow": Family("overlap_docs",
                     _op("textanalysis", "winnow_fingerprints"), 100_000),
    "winnow_pairs": Family("overlap_docs",
                           _op("dedup", "winnow_overlap_pairs"), 100_000),
}


# --------------------------------------------------------------------------
# child processes: one fresh interpreter + JVM per corpus build and per
# (family, level)


def _spark(name: str, cpus: int):
    from rca_pdf_extraction_pipeline_spark.session import get_spark

    # shuffle partitions scale with the level (4x cores, the cluster
    # practice get_spark's docstring prescribes); a fixed 32 gave
    # local[16] a two-wave resonance on the CC label loop (60 s vs 14 s)
    return get_spark(name, master=f"local[{cpus}]",
                     shuffle_partitions=max(16, 4 * cpus))


def _build(recipe: str, size: int, path: str) -> None:
    spark = _spark(f"scale-corpus-{recipe}", host_cpus())
    for name, df in RECIPES[recipe](spark, size).items():
        df.write.mode("overwrite").parquet(f"{path}/{name}")
    spark.stop()


def _digest(df) -> tuple[str, int]:
    """Order-independent (sum of per-row md5 prefixes, row count),
    computed in the JVM — nothing but two numbers reaches the driver."""
    from pyspark.sql import functions as F

    row_md5 = F.md5(F.concat_ws(
        "\u001f", *[F.col(c).cast("string") for c in df.columns]))
    row = df.select(
        F.coalesce(F.sum(F.conv(F.substring(row_md5, 1, 14), 16, 10)
                         .cast("decimal(38,0)")), F.lit(0))
        .cast("string").alias("s"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    return row["s"], row["n"]


def _measure(family: str, path: str, level: int, runs: int) -> dict:
    spark = _spark(f"scale-{family}", level)
    tables = {p.name: spark.read.parquet(str(p))
              for p in sorted(Path(path).iterdir()) if p.is_dir()}
    query = REGISTRY[family].query

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    mat(query({n: t.limit(WARM_ROWS) for n, t in tables.items()}))
    times = []
    for _ in range(runs):
        # operators persist shared layers per call: clear them so every
        # run pays (and measures) the full derivation
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        mat(query(tables))
        times.append(round(time.perf_counter() - t0, 3))
    spark.catalog.clearCache()
    digest, rows = _digest(query(tables))
    spark.stop()
    return {"times": times, "best_s": min(times), "rows": rows,
            "digest": digest}


def _in_child(fn: Callable, *args):
    # a fresh interpreter, hence a fresh JVM: the CC label loop pins
    # localCheckpoint blocks for the session's lifetime, which starved
    # the next family's broadcast when families shared one JVM
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as ex:
        return ex.submit(fn, *args).result()


def corpus(recipe: str, size: int) -> Path:
    """The cached corpus directory, built first when its marker is
    missing (a half-written corpus is deleted and rebuilt)."""
    path = CORPORA / f"{recipe}-{size}"
    if not (path / "_CORPUS").exists():
        shutil.rmtree(path, ignore_errors=True)
        path.mkdir(parents=True)
        _in_child(_build, recipe, size, str(path))
        (path / "_CORPUS").write_text(f"{recipe} {size}\n")
    return path


# --------------------------------------------------------------------------
# records, pooling, report — pure Python


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def git_rev() -> str | None:
    out = subprocess.run(["git", "describe", "--always", "--dirty"],
                         cwd=REPO, capture_output=True, text=True)
    return out.stdout.strip() or None


def load(path: Path = RECORDS) -> list[dict]:
    if not path.exists():
        return []
    return [json.loads(ln) for ln in path.read_text().splitlines() if ln]


def efficiency(t_lo: float, t_hi: float, lo: int, hi: int) -> float:
    """Speedup over ideal speedup: 1.0 = perfect scaling."""
    return (t_lo / t_hi) / (hi / lo)


def pool(records: list[dict]) -> dict[tuple, dict[int, float]]:
    """(family, size, host_cpus) -> {level: min best_s}."""
    pooled: dict[tuple, dict[int, float]] = {}
    for r in records:
        levels = pooled.setdefault(
            (r["family"], r["size"], r["host_cpus"]), {})
        levels[r["level"]] = min(levels.get(r["level"], r["best_s"]),
                                 r["best_s"])
    return pooled


def disagreements(records: list[dict]) -> list[str]:
    """Families and sizes whose records disagree on digest or rows;
    records without a digest or row count (imported) are not compared."""
    seen: dict[tuple, dict[str, set]] = {}
    for r in records:
        group = seen.setdefault((r["family"], r["size"]),
                                {"digest": set(), "rows": set()})
        for field in group:
            if r.get(field) is not None:
                group[field].add(r[field])
    return [f"{fam} size {size}: {field} {sorted(map(str, vals))}"
            for (fam, size), g in sorted(seen.items())
            for field, vals in g.items() if len(vals) > 1]


def report(records: list[dict], families: list[str]) -> int:
    """Print the pooled table for ``families``; 1 if their records
    disagree on an output."""
    mine = [r for r in records if r["family"] in families]
    print("| family | size | host_cpus | best wall per level (s) "
          "| N -> 4N efficiency |")
    print("| --- | --- | --- | --- | --- |")
    for (fam, size, cpus), levels in sorted(pool(mine).items()):
        walls = ", ".join(f"local[{lv}] {t:.3f}"
                          for lv, t in sorted(levels.items()))
        effs = ", ".join(
            f"{lo}->{4 * lo} {efficiency(levels[lo], levels[4 * lo], lo, 4 * lo):.3f}"
            for lo in sorted(levels) if 4 * lo in levels)
        print(f"| {fam} | {size} | {cpus} | {walls} | {effs or '-'} |")
    bad = disagreements(mine)
    for line in bad:
        print(f"OUTPUT MISMATCH {line}", file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--family", required=True,
                    help=f"comma list of: {', '.join(REGISTRY)}")
    ap.add_argument("--size", type=int,
                    help="corpus size (default: each family's own)")
    ap.add_argument("--levels", default="1,4")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    families = args.family.split(",")
    unknown = [f for f in families if f not in REGISTRY]
    if unknown:
        ap.error(f"unknown family {unknown}; known: {', '.join(REGISTRY)}")
    levels = [int(x) for x in args.levels.split(",")]

    rev = git_rev()
    for fam in families:
        size = args.size or REGISTRY[fam].size
        path = corpus(REGISTRY[fam].recipe, size)
        for level in levels:
            rec = {"family": fam, "size": size, "level": level,
                   "host_cpus": host_cpus(), "git_rev": rev,
                   **_in_child(_measure, fam, str(path), level, args.runs)}
            with RECORDS.open("a") as f:
                f.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)
    return report(load(), families)


if __name__ == "__main__":
    sys.exit(main())
