"""Scale-path behaviors: LSH-blocked linking e2e, salted-join cardinality,
physical plan shape, rows-only driver queries."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from predicate_finder_spark.config import PipelineConfig
from predicate_finder_spark.operators.evaluate import precision_recall
from predicate_finder_spark.operators.joins import salted_join
from predicate_finder_spark.plans.pipeline import extract_triples
from predicate_finder_spark.synth import synth_corpus


@pytest.fixture(scope="module")
def small(spark):
    t = synth_corpus(spark, 80)
    t["pages"] = t["pages"].cache()
    return t


def test_lsh_blocked_pipeline_end_to_end(spark, small):
    """The MinHash-LSH candidate-generation path through the whole pipeline
    (exact surfaces still link via JW=1.0, so P/R stays high)."""
    cfg = PipelineConfig(use_lsh_blocking=True)
    tri = extract_triples(
        spark, small["pages"], small["aliases"], small["kg_triples"],
        small["ontology"], small["embeddings"], cfg,
    )
    pr = precision_recall(tri, small["gold_triples"])
    assert pr["precision"] >= 0.9 and pr["recall"] >= 0.9, pr


def test_salted_join_preserves_cardinality(spark, small):
    """SURVEY §5.2(5): salting must not change join semantics — same row
    multiset as the plain join, on the Zipf-skewed corpus."""
    gold = small["gold_triples"]
    kg = small["kg_triples"]
    probe = gold.select(F.col("subj").alias("s"), F.col("obj").alias("o"), "url")
    plain = probe.join(kg, ["s", "o"]).groupBy().count().first()[0]
    salted = salted_join(probe, kg, ["s", "o"], buckets=8, salt_source="url").groupBy().count().first()[0]
    assert plain == salted > 0


def test_salted_join_fallback_salt_is_stable(spark, small):
    """Without salt_source the salt derives from row content (not
    monotonically_increasing_id), so retries/replans can't reshuffle rows:
    same cardinality as the plain join, and the salt actually spreads."""
    gold = small["gold_triples"]
    kg = small["kg_triples"]
    probe = gold.select(F.col("subj").alias("s"), F.col("obj").alias("o"), "url")
    plain = probe.join(kg, ["s", "o"]).count()
    fb = salted_join(probe, kg, ["s", "o"], buckets=8)
    assert fb.count() == plain > 0
    # determinism: two independent evaluations agree row-for-row
    assert fb.exceptAll(salted_join(probe, kg, ["s", "o"], buckets=8)).count() == 0
    # the fallback salt must spread rows across buckets, not collapse to one
    from predicate_finder_spark.functions.hashing import md5_bucket
    row_repr = F.concat_ws("\x01", *[F.col(c).cast("string") for c in probe.columns])
    n_salts = probe.select(md5_bucket(row_repr, 8).alias("s")).distinct().count()
    assert n_salts >= 4


def test_salted_kg_join_through_pipeline(spark, small):
    """PipelineConfig(salt_buckets=8) reaches the salted KG candidate join
    (a shuffled join keyed on __salt, the KG side not broadcast) and yields
    the same triples as the default size-chosen broadcast join."""

    def run(cfg):
        return extract_triples(
            spark, small["pages"], small["aliases"], small["kg_triples"],
            small["ontology"], small["embeddings"], cfg,
        )

    def kg_joins(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return re.findall(r"(\w+Join) \[([^\]]*__sid[^\]]*)\]", plan)

    salted, plain = run(PipelineConfig(salt_buckets=8)), run(PipelineConfig())
    s_joins, p_joins = kg_joins(salted), kg_joins(plain)
    assert s_joins and all(
        j != "BroadcastHashJoin" and "__salt" in keys for j, keys in s_joins
    ), s_joins
    assert [j for j, _ in p_joins] == ["BroadcastHashJoin"], p_joins
    assert salted.count() > 0
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_flagship_plan_shape(spark, small):
    """Plan regression guard: the flagship plan must keep dictionary joins
    broadcast and stay within the audited exchange budget (8 as of round 1;
    a regression to per-branch duplication doubled it)."""
    tri = extract_triples(
        spark, small["pages"], small["aliases"], small["kg_triples"],
        small["ontology"], small["embeddings"],
    )
    plan = tri._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    n_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchange <= 10, f"exchange budget blown: {n_exchange}"
    assert "BroadcastHashJoin" in plan
    # the scorer runs exactly once (Arrow-batched), not per branch
    assert len(re.findall(r"score_udf", plan)) <= 2


def test_minhash_banding_no_signature_reevaluation(spark, small):
    """Plan regression guard for the signature path (codegen shape): the
    16 seed hashes must be computed as partial aggregates over the exploded
    shingle stream — ``min(md5(...))`` appears once per hash per self-join
    side (16 or 32 in the optimized plan, since the optimizer duplicates
    the keyed subtree across the two sides).  Two regressions it catches:
    per-band inlining of the signature (multiplies the count by the band
    count — the round-2 4-8x slowdown), and a silent fallback to the
    interpreted transform/array_min higher-order column (array_min
    reappears; measured ~2.3x slower at 20k pages)."""
    from predicate_finder_spark.operators.dedup import minhash_lsh_pairs

    docs = small["pages"].select(F.col("url"), F.col("text"))
    pairs = minhash_lsh_pairs(docs, id_col="url", verify_threshold=None)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    n_sig = len(re.findall(r"min\(md5\(", plan))
    assert 16 <= n_sig <= 32, f"signature hash evaluated {n_sig} times in plan"
    assert "array_min" not in plan, "interpreted HOF signature path reappeared"


def test_rows_only_queries_run(spark):
    """q40/q43/q44 have no SQL oracle — smoke them (schema + rows)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    q = em.queries()
    assert q["q43_simhash"](spark, sf).count() > 0
    p = q["q44_syntax_path"](spark, sf)
    assert p.count() > 0 and set(p.columns) == {"doc_id", "path"}


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    # two tables bucketed on the join key with equal bucket counts join via
    # SortMergeJoin over co-located buckets: NO Exchange on either side
    from predicate_finder_spark.sources.tables import write_bucketed_table

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fact = spark.range(10_000).select(
            (F.col("id") % 500).alias("k"), F.col("id").alias("v")
        )
        dim = spark.range(500).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
        )
        write_bucketed_table(fact, "bt_fact", ["k"], n_buckets=8, sort_cols=["k"])
        write_bucketed_table(dim, "bt_dim", ["k"], n_buckets=8, sort_cols=["k"])
        joined = spark.table("bt_fact").join(spark.table("bt_dim"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bt_fact")
        spark.sql("DROP TABLE IF EXISTS bt_dim")


def test_web_channel_plan_shapes(spark, small):
    """The html-mining operators (weblinks, structured) must stay fully
    JVM-side: zero Python evaluation nodes, broadcast dictionary joins,
    and exactly the audited exchanges (1 for the edge distinct, 1 more for
    the host rollup; the fused structured channel keeps the one url-keyed
    join as its only non-broadcast exchange pair)."""
    from predicate_finder_spark.operators.structured import structured_triples
    from predicate_finder_spark.operators.weblinks import host_graph, outlink_edges

    def plan_of(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )

    edges = outlink_edges(small["pages"])
    p_edges = plan_of(edges)
    assert "BatchEvalPython" not in p_edges and "ArrowEvalPython" not in p_edges
    assert len(re.findall(r"Exchange hashpartitioning", p_edges)) <= 1  # the distinct

    p_hosts = plan_of(host_graph(edges))
    assert "BatchEvalPython" not in p_hosts and "ArrowEvalPython" not in p_hosts
    assert len(re.findall(r"Exchange hashpartitioning", p_hosts)) <= 2

    st = structured_triples(small["pages"], small["aliases"], small["ontology"])
    p_st = plan_of(st)
    assert "BatchEvalPython" not in p_st and "ArrowEvalPython" not in p_st
    assert "BroadcastHashJoin" in p_st  # ontology keys + alias dictionary
    # every hash exchange must be dictionary-prep (ontology key / alias
    # aggregations — dim-sized); the page-sized frames reach their joins
    # broadcast or url-co-keyed, never via an extra shuffle
    for ex in re.findall(r"Exchange hashpartitioning\(([a-z_]+)#", p_st):
        assert ex in ("key", "predicate", "alias"), (ex, p_st)
