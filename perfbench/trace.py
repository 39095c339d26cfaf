"""The traced run: spans around calls into each module's public functions.

Spans live in memory as (name, start, end, parent, run id) and are written
out once at the end.  Each span forces its output to parquet, so the next
span reads materialized input and its duration is its own work.  Counts are
taken after a span closes, from the materialized tables, so counting never
lands inside a span.  The package itself is not instrumented.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import time

from pyspark.sql import DataFrame, SparkSession

from predicate_finder_spark.operators.extract import extract_pages
from predicate_finder_spark.operators.linking import link_mentions, resolve_mentions
from predicate_finder_spark.operators.mentions import explode_sentences, generate_mentions
from predicate_finder_spark.operators.predicates import (
    candidate_predicates,
    enrich_ontology,
    pair_mentions,
    predicate_words,
)
from predicate_finder_spark.operators.scoring import (
    build_idf,
    make_scorer_udf,
    score_candidates,
    to_triples,
    top1_per_pair,
)
from predicate_finder_spark.plans.incremental import incremental_state
from predicate_finder_spark.plans.pipeline import build_scorer_dicts, materialize_graph
from predicate_finder_spark.sources.tables import write_stage

from perfbench import passes
from perfbench.passes import CFG

# the int-keyed KG join of candidate_predicates, broadcast side
_KG_BROADCAST = re.compile(r"BroadcastHashJoin \[__sid")


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def busy(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def top_level(self) -> float:
        """Total duration of the spans without a parent."""
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)


def _force(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def traced_pass(spark: SparkSession, tr: Tracer, dicts, pages: DataFrame, out: str) -> dict:
    """The flagship pass, one layer per span, mirroring ``extract_triples``
    under the default config.  Returns the per-layer counts, and under
    ``_dicts`` the scorer dictionaries it built."""
    aliases, kg = dicts["aliases"], dicts["kg_triples"]
    onto, emb = dicts["ontology"], dicts["embeddings"]
    p = lambda name: os.path.join(out, name)  # noqa: E731
    c: dict[str, float] = {}

    with tr.span("extract"):
        extracted = _force(spark, extract_pages(pages), p("extracted"))
    c["extract.pages_out"] = extracted.count()

    with tr.span("mentions"):
        sent = _force(spark, explode_sentences(extracted, CFG.languages), p("sentences"))
        grams = _force(spark, generate_mentions(sent, CFG.max_mention_ngram), p("grams"))
    c["mentions.sentences"] = sent.count()
    c["mentions.grams"] = grams.count()

    with tr.span("linking"):
        linked = _force(spark, link_mentions(
            grams, aliases, min_prior=CFG.min_link_prior,
            broadcast_dict=True, top1_per_surface=True,
        ), p("linked"))
        resolved = _force(spark, resolve_mentions(linked), p("resolved"))
    c["linking.linked"] = linked.count()
    c["linking.hit_ratio"] = c["linking.linked"] / max(c["mentions.grams"], 1)

    with tr.span("predicates"):
        pairs = _force(spark, pair_mentions(resolved, sent), p("pairs"))
        cand = candidate_predicates(
            pairs, kg, blacklist=CFG.predicate_blacklist,
            kg_prededuped=CFG.kg_prededuped,
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        cands = _force(spark, predicate_words(enrich_ontology(cand, onto)), p("candidates"))
    c["predicates.pairs"] = pairs.count()
    c["predicates.candidates"] = cands.count()
    c["predicates.fanout"] = c["predicates.candidates"] / max(c["predicates.pairs"], 1)
    c["predicates.kg_broadcast"] = 1 if _KG_BROADCAST.search(plan) else 0

    with tr.span("scoring.dicts"):
        idf_df = _force(spark, build_idf(sent), p("idf"))
        idf_dict, emb_dict = build_scorer_dicts(idf_df, kg, onto, emb, CFG)
    c["scoring.dicts.idf_entries"] = len(idf_dict)
    c["scoring.dicts.emb_entries"] = len(emb_dict)
    c["_dicts"] = (idf_dict, emb_dict)

    with tr.span("scoring.score"):
        scorer = make_scorer_udf(
            spark, emb_dict, idf_dict, max_ngram=CFG.max_ngram, default_idf=CFG.default_idf
        )
        scored = _force(spark, score_candidates(cands, scorer), p("scored"))
    c["scoring.score.rows"] = scored.count()
    c["scoring.score.distinct_keys"] = (
        cands.select("rel_tokens", "pred_tokens").distinct().count()
    )
    c["scoring.score.dedup_ratio"] = (
        c["scoring.score.distinct_keys"] / max(c["scoring.score.rows"], 1)
    )

    with tr.span("scoring.top1"):
        slim = scored.select("url", "sent_id", "subj", "obj", "pred", "score", "rule")
        triples = _force(spark, to_triples(top1_per_pair(slim)), p("top1"))
    c["scoring.top1.rows_in"] = c["scoring.score.rows"]
    c["scoring.top1.rows_out"] = triples.count()

    with tr.span("tables"):
        m = write_stage(triples, p("triples"), "triples_out", CFG.config_hash())
    c["tables.rows"] = m["rows"]
    c["tables.files"] = m["n_files"]
    c["tables.bytes"] = _dir_bytes(p("triples"))

    with tr.span("graph"):
        vertices, edges = materialize_graph(spark.read.parquet(p("triples")))
        vertices = _force(spark, vertices, p("vertices"))
        edges = _force(spark, edges, p("edges"))
    c["graph.vertices"] = vertices.count()
    c["graph.edges"] = edges.count()
    return c


def _slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against their index."""
    n = len(ys)
    mx = (n - 1) / 2
    my = sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den if den else 0.0


def traced_ingest(
    spark: SparkSession, tr: Tracer, dicts, scorer_dicts, pages: DataFrame,
    n_batches: int, state: str,
) -> dict:
    """An incremental crawl, one span per batch and per state read."""
    lat, delta, snap_rows = [], 0, 0
    passes.reset_dir(state)
    for b in range(n_batches):
        snap = passes.snapshot(pages, b)
        with tr.span("incremental.batch") as s:
            passes.ingest_batch(spark, dicts, scorer_dicts, snap, state, b)
        lat.append(s["end"] - s["start"])
        delta += passes.batch_rows(state, b, "urls")
        snap_rows += snap.count()
    with tr.span("incremental.state_read") as s:
        triples, urls = incremental_state(spark, state)
        triples.count()
        urls.count()
    return {
        "incremental.batch_s": statistics.median(lat),
        "incremental.state_read_s": s["end"] - s["start"],
        "incremental.delta_ratio": delta / max(snap_rows, 1),
        "incremental.batch_growth_ms": 1000.0 * _slope(lat),
        "incremental.batches": n_batches,
        "_triples": triples,
    }
