"""Checkpoint/resume + skew partitioning (north-rule pipeline props):
kill a run between partitions, resume, assert identical output to a
clean run and that done partitions are skipped."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from uie_pytorch_spark.engine import UIEConfig, UIEEngine
from uie_pytorch_spark.kg.lineage import CheckpointedRun, salted_partition_key
from uie_pytorch_spark.sources.web_pages import fixture_web_pages


def _extract_fn(spark):
    def fn(pages):
        docs = pages.select(F.xxhash64("url").alias("doc_id"), "text")
        eng = UIEEngine(spark, {"竞赛名称": ["主办方"]}, UIEConfig())
        spans = eng.extract(docs)
        return UIEEngine.triples(spans)

    return fn


def _triples_set(df):
    return {
        (r["doc_id"], r["subj_text"], r["subj_start"], r["subj_end"],
         r["pred"], r["obj_text"], r["obj_start"], r["obj_end"])
        for r in df.collect()
    }


def test_salted_partition_key_spreads_hot_domain(spark):
    pages = fixture_web_pages(spark, n_docs=200, seed=42)
    keyed = pages.withColumn("pk", salted_partition_key(F.col("url"), 8))
    hot = keyed.filter(F.col("url").contains("hot.example.com"))
    n_buckets = hot.select("pk").distinct().count()
    assert n_buckets >= 3, "hot domain must spread over several buckets"
    # and every bucket is bounded (no straggler holds >60% of rows)
    total = keyed.count()
    mx = keyed.groupBy("pk").count().agg(F.max("count")).collect()[0][0]
    assert mx < 0.6 * total


def test_resume_produces_identical_output(spark, tmp_path):
    pages = fixture_web_pages(spark, n_docs=24, seed=9).cache()
    fn = _extract_fn(spark)

    clean = CheckpointedRun(spark, str(tmp_path / "clean"), run_id="r1", buckets=4)
    clean_triples = _triples_set(clean.run(pages, fn))

    resumed = CheckpointedRun(spark, str(tmp_path / "res"), run_id="r1", buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        resumed.run(pages, fn, fail_after_partitions=2)
    done_before = resumed.completed_partitions()
    assert len(done_before) == 2

    out = resumed.run(pages, fn)  # resume: only remaining partitions
    assert _triples_set(out) == clean_triples

    # lineage recorded exactly one 'done' row per partition
    lin = spark.read.parquet(resumed.lineage_path)
    per_part = (
        lin.filter(F.col("status") == "done")
        .groupBy("part_key")
        .count()
        .collect()
    )
    assert sorted(r["part_key"] for r in per_part) == [0, 1, 2, 3]
    assert all(r["count"] == 1 for r in per_part)


def test_corrupt_lineage_raises_instead_of_restarting(spark, tmp_path):
    """Only a missing lineage table means "no progress": one that exists
    but cannot be read must fail the run, not silently reprocess every
    partition."""
    run = CheckpointedRun(spark, str(tmp_path / "out"), run_id="r1", buckets=2)
    os.makedirs(run.lineage_path)
    with open(os.path.join(run.lineage_path, "part-00000.parquet"), "w") as f:
        f.write("not a parquet file")
    extracted = []
    pages = fixture_web_pages(spark, n_docs=4, seed=9)
    with pytest.raises(Exception, match="is not a Parquet file"):
        run.run(pages, extracted.append)
    assert extracted == []
    assert not os.path.exists(run.triples_path)
