"""The engine's settings surface, pinned: adding an environment knob or a
PipelineConfig field means editing this file on purpose."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

from predicate_finder_spark.config import PipelineConfig

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "predicate_finder_spark"


def _is_environ(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _env_keys(tree: ast.AST) -> set[str]:
    """Keys read through os.environ.get / os.environ[...] / os.getenv;
    a non-literal key is recorded as '<dynamic>'."""
    keys = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and (
            (node.func.attr == "get" and _is_environ(node.func.value))
            or node.func.attr == "getenv"
        ):
            key = node.args[0] if node.args else None
        else:
            continue
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            keys.add(key.value)
        else:
            keys.add("<dynamic>")
    return keys


def test_env_keys_read_by_package():
    keys = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        keys |= _env_keys(ast.parse(path.read_text(), filename=str(path)))
    assert keys == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        "SPARK_GRAFT_COALESCE",
        "SPARK_DRIVER_MEM",
    }


def test_pipeline_config_fields():
    assert [f.name for f in dataclasses.fields(PipelineConfig)] == [
        "min_link_prior",
        "max_mention_ngram",
        "use_lsh_blocking",
        "predicate_blacklist",
        "kg_prededuped",
        "scorer",
        "max_ngram",
        "default_idf",
        "idf_min_df",
        "max_vocab",
        "salt_buckets",
        "languages",
        "dedup_snapshots",
        "checkpoint_dir",
        "resume",
    ]


def test_env_key_scan_sees_every_read_form():
    src = (
        "import os\n"
        "os.environ.get('A')\n"
        "os.environ['B']\n"
        "os.getenv('C', '1')\n"
        "os.environ.get(name)\n"
    )
    assert _env_keys(ast.parse(src)) == {"A", "B", "C", "<dynamic>"}
