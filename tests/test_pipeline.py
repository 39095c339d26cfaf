"""Golden end-to-end: P/R >= 0.95, resume idempotency, graph materialize,
the bin/run_pipeline.py CLI."""

from __future__ import annotations

import os

from predicate_finder_spark.config import PipelineConfig
from predicate_finder_spark.operators.evaluate import per_predicate_accuracy, precision_recall
from predicate_finder_spark.plans.pipeline import extract_triples, materialize_graph


def _run(spark, corpus, cfg=None):
    return extract_triples(
        spark, corpus["pages"], corpus["aliases"], corpus["kg_triples"],
        corpus["ontology"], corpus["embeddings"], cfg,
    )


def test_end_to_end_precision_recall(spark, corpus):
    triples = _run(spark, corpus).cache()
    pr = precision_recall(triples, corpus["gold_triples"])
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_prebuilt_scorer_dicts_identical(spark, corpus):
    """The production reuse seam: extract_triples with precomputed
    (idf_dict, emb_dict) from build_scorer_dicts must produce byte-identical
    triples to the self-building default — bench.py and incremental runs
    rely on this equivalence."""
    from predicate_finder_spark.operators.extract import extract_pages
    from predicate_finder_spark.operators.mentions import explode_sentences
    from predicate_finder_spark.operators.scoring import build_idf
    from predicate_finder_spark.plans.pipeline import build_scorer_dicts

    idf_df = build_idf(explode_sentences(extract_pages(corpus["pages"])))
    dicts = build_scorer_dicts(
        idf_df, corpus["kg_triples"], corpus["ontology"], corpus["embeddings"]
    )
    tri_pre = extract_triples(
        spark, corpus["pages"], corpus["aliases"], corpus["kg_triples"],
        corpus["ontology"], corpus["embeddings"], idf=idf_df, scorer_dicts=dicts,
    )
    tri_default = _run(spark, corpus)
    a = sorted(map(tuple, tri_pre.collect()))
    b = sorted(map(tuple, tri_default.collect()))
    assert a == b


def test_per_predicate_recall(spark, corpus):
    triples = _run(spark, corpus)
    rows = per_predicate_accuracy(triples, corpus["gold_triples"]).collect()
    assert len(rows) >= 5
    assert all(r["recall"] >= 0.8 for r in rows), rows


def test_graph_materialize(spark, corpus):
    triples = _run(spark, corpus)
    v, e = materialize_graph(triples)
    assert v.count() > 0 and e.count() > 0
    assert set(v.columns) == {"id", "label", "type"}
    assert set(e.columns) == {"src", "dst", "pred", "weight"}


def test_graph_materialize_with_salience(spark, corpus):
    triples = _run(spark, corpus)
    v_plain, _ = materialize_graph(triples)
    v, _ = materialize_graph(triples, with_salience=True)
    assert set(v.columns) == {"id", "label", "type", "salience", "salience_units"}
    rows = v.collect()
    assert len(rows) == v_plain.count()  # every vertex annotated, none lost
    total = sum(r["salience"] for r in rows)
    assert 0.5 < total <= 1.001, total  # unit mass up to documented floors
    assert all(r["salience_units"] > 0 for r in rows)


def test_checkpoint_resume_idempotent(spark, corpus, tmp_path):
    cp = str(tmp_path / "cp")
    cfg = PipelineConfig(checkpoint_dir=cp)
    t1 = sorted(map(tuple, _run(spark, corpus, cfg).select("url", "subj", "pred", "obj").collect()))
    assert os.path.exists(os.path.join(cp, "triples", "_manifest.json"))
    # rerun resumes from completed stages and yields the identical table
    t2 = sorted(map(tuple, _run(spark, corpus, cfg).select("url", "subj", "pred", "obj").collect()))
    assert t1 == t2


def test_checkpoint_invalidates_on_input_change(spark, tmp_path):
    # same stage name + config hash, DIFFERENT input data -> recompute
    # (manifests record an input fingerprint: upstream manifest stats for
    # named stages, source-file listing for raw frames)
    from predicate_finder_spark.sources.tables import checkpoint_stage

    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    calls = []

    def fn():
        calls.append(1)
        return spark.read.parquet(src)

    p = str(tmp_path / "ckpt" / "stage1")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    for _ in range(2):
        out = checkpoint_stage(
            spark, fn, p, "stage1", "cfg",
            input_dfs=[spark.read.parquet(src)],
        )
    assert len(calls) == 1 and out.count() == 5  # second run resumed

    spark.range(9).write.mode("overwrite").parquet(src)  # new snapshot, same path
    out = checkpoint_stage(
        spark, fn, p, "stage1", "cfg", input_dfs=[spark.read.parquet(src)]
    )
    assert len(calls) == 2 and out.count() == 9  # stale table NOT reused


def test_cli_salt_buckets(spark, tmp_path):
    """bin/run_pipeline.py --salt-buckets N salts the KG join without
    changing the committed triples, and both runs keep P/R >= 0.95."""
    import importlib.util
    import json

    path = os.path.join(os.path.dirname(__file__), os.pardir, "bin", "run_pipeline.py")
    spec = importlib.util.spec_from_file_location("run_pipeline", path)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    salted, plain = str(tmp_path / "salted"), str(tmp_path / "plain")
    # main() re-applies get_spark's SQL confs to this shared session
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert cli.main(["--synthetic", "120", "--out", salted, "--salt-buckets", "8"]) == 0
        assert cli.main(["--synthetic", "120", "--out", plain]) == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    a = spark.read.parquet(os.path.join(salted, "triples"))
    b = spark.read.parquet(os.path.join(plain, "triples"))
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    metrics = []
    for out in (salted, plain):
        with open(os.path.join(out, "metrics.json")) as f:
            metrics.append(json.load(f))
    for m in metrics:
        assert m["pr"]["precision"] >= 0.95 and m["pr"]["recall"] >= 0.95, m
    # the flag reached the config (salt_buckets is part of its hash)
    assert metrics[0]["config_hash"] != metrics[1]["config_hash"]
