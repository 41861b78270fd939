"""Structural invariants of the composed corpus-curation pipeline
(pipelines/llm_corpus.py) — the end-to-end value equality is covered by
the llm_corpus_pipeline oracle query; these assert the properties the
oracle's hash can't articulate."""

from __future__ import annotations

from pyspark.sql import functions as F

from projectdatalake_spark.pipelines import llm_corpus
from projectdatalake_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def _curated(spark):
    return llm_corpus.curate(load_table(spark, SF_SMOKE, "documents")).cache()


def test_docs_unique_and_holdout_excluded(spark):
    out = _curated(spark)
    n = out.count()
    assert n > 0
    assert out.select("doc_id").distinct().count() == n
    # held-out buckets never leak into the corpus
    leaked = out.withColumn(
        "bucket", llm_corpus._bucket(F.col("doc_id"))
    ).filter(F.col("bucket") >= llm_corpus.HOLDOUT_LO)
    assert leaked.count() == 0


def test_quality_gate_applied(spark):
    out = _curated(spark)
    assert out.filter(F.col("n_tokens") < 10).count() == 0


def test_split_fractions_roughly_80_10_10(spark):
    out = _curated(spark)
    frac = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(frac.values())
    assert 0.6 < frac.get("train", 0) / total < 0.95
    assert frac.get("val", 0) > 0 and frac.get("test", 0) > 0


def test_pack_ids_contiguous_from_zero(spark):
    out = _curated(spark)
    # per (split, lang): pack ids start at 0 and are monotone in doc order
    stats = (
        out.groupBy("split", "lang")
        .agg(F.min("pack_id").alias("lo"), F.max("pack_id").alias("hi"),
             F.sum("n_tokens").alias("toks"))
        .collect()
    )
    for r in stats:
        assert r["lo"] == 0
        # offset-quantized packing: max pack id ≤ total tokens / budget
        assert r["hi"] <= r["toks"] // 512


def test_exact_dupes_removed(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = _curated(spark)
    norm = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    joined = (
        docs.select("doc_id", norm.alias("h"))
        .join(out.select("doc_id"), "doc_id", "left_semi")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert joined.filter(F.col("n") > 1).count() == 0


def test_partitioning_invariance(spark):
    """The pipeline's core claim: identical output for ANY physical
    layout of the input — content-stable hashes and explicit orderings
    everywhere, no sample()/monotonic-id/partition-dependent ops."""
    docs = load_table(spark, SF_SMOKE, "documents")
    base = llm_corpus.curate(docs)
    shuffled = llm_corpus.curate(docs.repartition(7, "lang"))
    assert base.exceptAll(shuffled).count() == 0
    assert shuffled.exceptAll(base).count() == 0


def test_release_cache_drops_frames_of_a_stopped_context(spark):
    """After a session restart in the same process the cached prefix
    belongs to a stopped SparkContext, whose unpersist raises; it is
    dropped instead. A live frame is still unpersisted. (The stopped
    context is a stand-in: the shared session stays up.)"""

    class _StoppedFrame:
        class sparkSession:
            class sparkContext:
                _jsc = None  # what SparkContext.stop() leaves behind

        def unpersist(self):
            raise AssertionError("unpersist on a stopped SparkContext")

    live = spark.range(3).persist()
    live.count()
    llm_corpus._live_cache.extend([live, _StoppedFrame()])
    llm_corpus.release_cache()
    assert llm_corpus._live_cache == []
    assert not live.is_cached
