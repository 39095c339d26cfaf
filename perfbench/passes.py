"""The building blocks of a run: session set-up, one flagship pass, one
incremental batch, and the checks.

Every call goes through the package's public entry points the way
``bin/run_pipeline.py`` and an incremental crawl loop would call them; the
benchmark adds no code path of its own to the program.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from predicate_finder_spark.config import PipelineConfig
from predicate_finder_spark.operators.evaluate import precision_recall
from predicate_finder_spark.operators.predicates import verify_entity_hash_injective
from predicate_finder_spark.plans.incremental import extract_triples_incremental
from predicate_finder_spark.plans.pipeline import extract_triples, materialize_graph
from predicate_finder_spark.session import get_spark
from predicate_finder_spark.sources.tables import read_manifest, write_stage

from perfbench.inputs import DICTIONARIES

CFG = PipelineConfig()


def start_session(work: str, master: str = "local[4]") -> SparkSession:
    return get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # JVM launch options; ignored once the gateway JVM is up
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


class Dicts:
    """The dictionary tables, cached in memory.  ``pin`` (re)caches them
    after a cache clear, so a pass never sees any other cached plan."""

    def __init__(self, spark: SparkSession, inputs: str):
        self.spark = spark
        self.inputs = inputs
        self.frames: dict[str, DataFrame] = {}

    def pin(self) -> None:
        for name in DICTIONARIES:
            df = self.spark.read.parquet(os.path.join(self.inputs, name)).cache()
            df.count()
            self.frames[name] = df

    def __getitem__(self, name: str) -> DataFrame:
        return self.frames[name]


def clear_cache(spark: SparkSession) -> None:
    spark.catalog.clearCache()
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise RuntimeError("cache manager still holds plans after clearCache()")


def setup(work: str, inputs: str) -> dict:
    """One set-up, timed: session start, warm-up query, dictionary caching
    and the entity-hash precondition check.  The previous session, if any,
    is stopped untimed."""
    stop_session()
    t0 = time.perf_counter()
    spark = start_session(work)
    t_session = time.perf_counter() - t0
    spark.range(200_000).selectExpr("sum(id)", "count(distinct id % 97)").collect()
    dicts = Dicts(spark, inputs)
    dicts.pin()
    verify_entity_hash_injective(dicts["aliases"], dicts["kg_triples"])
    return {
        "spark": spark, "dicts": dicts,
        "setup_s": time.perf_counter() - t0, "session_s": t_session,
    }


def flagship_pass(spark: SparkSession, dicts: Dicts, pages: DataFrame, out: str) -> dict:
    """What ``bin/run_pipeline.py`` does: extract, commit the triples, build
    and commit the graph.  Returns timings and committed row counts."""
    t0 = time.perf_counter()
    triples = extract_triples(
        spark, pages, dicts["aliases"], dicts["kg_triples"], dicts["ontology"],
        dicts["embeddings"], CFG,
    )
    ch = CFG.config_hash()
    m_t = write_stage(triples, os.path.join(out, "triples"), "triples_out", ch)
    vertices, edges = materialize_graph(spark.read.parquet(os.path.join(out, "triples")))
    m_v = write_stage(vertices, os.path.join(out, "vertices"), "vertices", ch)
    m_e = write_stage(edges, os.path.join(out, "edges"), "edges", ch)
    return {
        "wall_s": time.perf_counter() - t0,
        "triples": m_t["rows"], "vertices": m_v["rows"], "edges": m_e["rows"],
    }


# the crawl splits the pages into 1/CRAWL_SHARE batches by url hash
CRAWL_SHARE = 24


def crawl_batch(k: int = CRAWL_SHARE):
    """Crawl batch of a page: its url hash modulo ``k``."""
    return F.pmod(F.xxhash64("url"), F.lit(k))


def snapshot(pages: DataFrame, b: int) -> DataFrame:
    """Crawl snapshot ``b``: the pages new in batch ``b`` plus a re-crawl of
    batch ``b - 1``, which the incremental anti-join must drop."""
    return pages.filter(crawl_batch().isin(b - 1, b))


def ingest_batch(spark, dicts: Dicts, scorer_dicts, snap: DataFrame, state: str, b: int) -> None:
    extract_triples_incremental(
        spark, snap, dicts["aliases"], dicts["kg_triples"], dicts["ontology"],
        dicts["embeddings"], state, f"b{b:04d}", cfg=CFG, scorer_dicts=scorer_dicts,
    )


def batch_rows(state: str, b: int, table: str) -> int:
    """Committed rows of one table of incremental batch ``b``."""
    return read_manifest(os.path.join(state, "batches", f"b{b:04d}", table))["rows"]


def pr_exact(triples: DataFrame, gold: DataFrame) -> dict:
    pr = precision_recall(triples, gold)
    pr["ok"] = pr["precision"] == 1.0 and pr["recall"] == 1.0
    return pr


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
