"""Seeded input generator for the benchmark workloads.

Everything the program reads is written here as parquet, before any timed
window opens.  The seed only moves the page-id range handed to
``synth.sentence_rows(ids=...)``; every page, sentence, entity and predicate
choice is then an md5 function of the page id, so one seed always yields the
same bytes and two seeds yield different corpora.

Layout under ``<root>``:

    pages/        pages(url, warc_ts, html, text, lang)
    gold/         gold_triples(url, subj, pred, obj)
    aliases/ kg_triples/ ontology/ embeddings/    the dictionaries
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from predicate_finder_spark import synth

DICTIONARIES = ("aliases", "kg_triples", "ontology", "embeddings")

# page ids of seed s start at s * ID_STRIDE, so seeds never share a page
ID_STRIDE = 10_000_000


def _page_ids(spark: SparkSession, seed: int, n_pages: int):
    return spark.range(n_pages).select(
        (F.col("id") + F.lit(seed * ID_STRIDE)).alias("page_id"))


def _longtail(rows):
    """Insert one per-sentence token (``ref`` + 6 hex digits of
    md5(page_id|sent_idx)) right after the relation verb of every English
    sentence.  The token is out of the embedding vocabulary, so scores and
    gold are unchanged, but each relation span becomes nearly unique: the
    scorer sees distinct keys and the IDF dictionary grows with the corpus."""
    tok = F.concat(
        F.lit("ref"),
        F.substring(
            F.md5(F.concat_ws("|", F.col("page_id").cast("string"),
                              F.col("sent_idx").cast("string"))), 1, 6),
    )
    # synth's English templates are "<S> has <words> <O>." and
    # "<O> is <words> of <S>." with two-word entity surfaces
    marked = F.regexp_replace(
        F.col("sentence"), r"^(\S+ \S+ (?:has|is)) ", F.concat(F.lit("$1 "), tok, F.lit(" "))
    )
    return rows.withColumn(
        "sentence", F.when(F.col("lang") == "en", marked).otherwise(F.col("sentence"))
    )


def generate(
    spark: SparkSession, root: str, seed: int, n_pages: int, n_entities: int,
    longtail: bool = False,
) -> None:
    """Write one workload's inputs under ``root``."""
    ids = _page_ids(spark, seed, n_pages)
    rows = synth.sentence_rows(spark, n_pages, n_entities=n_entities, ids=ids)
    if longtail:
        rows = _longtail(rows)
    tables = {
        "pages": synth.build_pages(rows).repartition(8, "url"),
        "gold": synth.build_gold(rows).coalesce(1),
        "kg_triples": synth.build_kg(rows).coalesce(1),
        "aliases": synth.build_aliases(spark, n_entities).coalesce(1),
        "ontology": synth.build_ontology(spark).coalesce(1),
        "embeddings": synth.build_embeddings(spark).coalesce(1),
    }
    for name, df in tables.items():
        # fixed partitioning, each partition fully sorted: byte-identical
        # files for one seed
        keys = [c for c, t in df.dtypes if t in ("string", "double", "bigint", "int")]
        df.sortWithinPartitions(*keys).write.mode("overwrite").parquet(os.path.join(root, name))


_PART_UUID = re.compile(r"^(part-\d+)-[0-9a-f-]+")


def digest(root: str) -> str:
    """md5 over every parquet file under ``root``: its relative path, with
    the per-write uuid Spark puts in part-file names removed, and its bytes."""
    h = hashlib.md5()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.join(os.path.relpath(dirpath, root), _PART_UUID.sub(r"\1", name))
            h.update(rel.encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
