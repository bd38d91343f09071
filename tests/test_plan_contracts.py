"""Physical-plan contracts: the at-scale claims the engine documents are
asserted against ``executedPlan`` so a refactor cannot silently lose
them (broadcast stays broadcast, scans stay pruned, aggregates stay
partial, LSH joins stay equi-keyed).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from umi_dedup_spark import DedupConfig

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_decontaminate_broadcasts_benchmark_grams(spark, docs):
    # the corpus side must never shuffle on the gram key: the (small)
    # benchmark gram set travels to the corpus as a broadcast
    from umi_dedup_spark.operators.decontaminate import ngram_contamination

    bench = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    plan = _plan(ngram_contamination(corpus, bench, k=8))
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_prepare_docs_scan_prunes_unused_columns(spark, docs, tmp_path):
    # a narrow projection must reach the parquet scan: a pages table
    # carries html/lang/url, but a consumer of (doc_key, norm_hash,
    # quality) reads only what those derive from
    from umi_dedup_spark.operators.exact import prepare_docs
    from umi_dedup_spark.synth import documents_to_pages

    pages_dir = str(tmp_path / "pages")
    documents_to_pages(docs).write.mode("overwrite").parquet(pages_dir)
    pq = spark.read.parquet(pages_dir)
    out = prepare_docs(pq, DedupConfig()).select("doc_key", "norm_hash", "quality")
    m = re.search(r"ReadSchema: (\S+)", _plan(out))
    assert m, "no ReadSchema in plan"
    read = m.group(1)
    assert "html" not in read and "lang" not in read, read


def test_semdedup_no_quadratic_join(spark):
    # cell id is the only exchange key; the within-cell pass must be an
    # equi-join on the cell, never a nested-loop over all vectors
    from umi_dedup_spark.operators.similarity import semdedup_mark

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(semdedup_mark(emb, n_cells=8, threshold=0.35,
                               centroid_ids=list(range(8))))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert plan.count("Exchange") <= 4, plan


def test_exact_families_aggregates_partially(spark, docs):
    # the families groupBy must have a map-side partial phase: the
    # exchange carries one candidate per family per map partition
    from umi_dedup_spark.operators.exact import exact_families, prepare_docs

    from umi_dedup_spark.synth import documents_to_pages

    plan = _plan(exact_families(prepare_docs(documents_to_pages(docs),
                                             DedupConfig())))
    assert "partial_count" in plan or "partial_first" in plan, plan


def test_lsh_sql_mirror_is_equi_joined(spark):
    # the 4-band candidate join must stay a union of per-band EQUI-joins;
    # an OR-of-bands predicate would degrade to a nested-loop O(n^2)
    for t in entry_mod.TABLES:
        try:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").createOrReplaceTempView(t)
        except Exception:
            pass
    plan = _plan(spark.sql(entry_mod.SQL_QUERIES["minhash_lsh_pairs"]("s")))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_nation_revenue_broadcasts_dims_and_prunes_scan(spark):
    # dims (nation, region) must be broadcast, facts exchange on join
    # keys, no nested loop; the lineitem scan must prune to the 3
    # consumed columns
    df = entry_mod.OPERATOR_QUERIES["nation_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    scans = re.findall(r"ReadSchema: (\S+)", plan)
    li = [s for s in scans if "l_extendedprice" in s]
    assert li and all(
        "l_quantity" not in s and "l_tax" not in s and "l_returnflag" not in s
        for s in li
    ), scans


def test_order_priority_counts_semi_join_shape(spark):
    # existence check stays a semi join keyed on l_orderkey with the
    # date conjunct as a join condition — never a full join + distinct,
    # never a nested loop
    df = entry_mod.OPERATOR_QUERIES["order_priority_counts"](spark, SF_DIR)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_plan_leaf_truncates_lineage(spark):
    # a persisted stage is handed on as a LogicalRDD leaf over its
    # executed RDD: the consumer's logical plan carries no upstream
    # lineage, and the rows are the input's
    from umi_dedup_spark.plans.pipeline import _plan_leaf

    src = spark.range(0, 50).withColumn("sq", F.col("id") * F.col("id")).filter("id % 3 = 0")
    src = src.persist()
    try:
        out = _plan_leaf(src)
        logical = out._jdf.queryExecution().logical()
        assert logical.nodeName() == "LogicalRDD", logical.toString()
        assert logical.children().isEmpty(), logical.toString()
        assert sorted(out.collect()) == sorted(src.collect())
        assert out.schema == src.schema
    finally:
        src.unpersist()
