"""The measured work of one run: the passes, or the traced layers."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import traceback

from perfbench import inputs, passes, trace

WORKLOADS = {
    "flagship": {"longtail": False},
    "longtail": {"longtail": True},
}
PAGES = 12_000
ENTITIES = 45        # few entities: ~15 KG candidates per entity pair, as at 200k pages
MASTER = "local[4]"
SETUP_REPS = 3       # setup_s is the median of this many set-ups
MIN_WARM = 3         # timed passes after the cold and the warm-up pass, at least
CRAWL_BATCHES = 8    # the traced crawl commits this many 1/24 batches, one by one
REF_SHARE = 4        # the local[1] process warms up on 1/REF_SHARE of the pages

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "triples_per_s": "1/s", "peak_rss_mb": "MB"}


class Ops:
    """Failure accounting: every pass, batch and check is one op."""

    def __init__(self):
        self.total = 0
        self.failed = 0

    def run(self, fn, *args):
        self.total += 1
        try:
            return fn(*args)
        except Exception:  # one failed op must not end the run
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None

    def check(self, ok: bool, what: str) -> None:
        self.total += 1
        if not ok:
            print(f"perfbench: check failed: {what}", file=sys.stderr)
            self.failed += 1


def generate_inputs(spark, root: str, seed: int, spec: dict) -> None:
    inputs.generate(spark, root, seed, PAGES, ENTITIES, longtail=spec["longtail"])


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else None


class Run:
    """One measured run: the set-up session plus the inputs it reads."""

    def __init__(self, setups: list[dict], inputs: str, work: str, ops: Ops):
        self.setups = setups
        self.spark = setups[-1]["spark"]
        self.dicts = setups[-1]["dicts"]
        self.inputs = inputs
        self.work = work
        self.ops = ops
        self.pages = self.spark.read.parquet(os.path.join(inputs, "pages"))
        self.gold = self.spark.read.parquet(os.path.join(inputs, "gold"))
        self.prs: list[dict] = []

    def fresh(self) -> None:
        """Run isolation before a pass: nothing cached but the dictionaries."""
        passes.clear_cache(self.spark)
        self.dicts.pin()

    def check_pr(self, triples, gold) -> None:
        pr = passes.pr_exact(triples, gold)
        self.prs.append(pr)
        self.ops.check(pr["ok"], f"P/R {pr['precision']}/{pr['recall']} != 1.0")

    def crawled_gold(self, n_batches: int):
        urls = self.pages.filter(passes.crawl_batch() < n_batches)
        return self.gold.join(urls.select("url"), "url", "left_semi")


def measure(run: Run, seconds: float) -> tuple[dict, dict]:
    """A cold pass, an untimed warm-up pass, then warm passes until
    ``seconds`` have passed since the cold pass began, at least MIN_WARM."""
    ops = run.ops
    out = os.path.join(run.work, "out")
    deadline = time.perf_counter() + seconds
    results: list[dict] = []

    def one() -> dict:
        run.fresh()
        r = passes.flagship_pass(run.spark, run.dicts, run.pages, out)
        if results:
            ops.check(
                (r["triples"], r["vertices"], r["edges"])
                == (results[0]["triples"], results[0]["vertices"], results[0]["edges"]),
                "committed row counts differ between passes",
            )
        results.append(r)
        return r

    # committed row counts on every pass, P/R on the last one
    cold = ops.run(one)
    ops.run(one)                                   # untimed warm-up pass
    warm = []
    while len(warm) < MIN_WARM or time.perf_counter() < deadline:
        r = ops.run(one)
        if r is None:
            break
        warm.append(r)
    ops.run(lambda: run.check_pr(
        run.spark.read.parquet(os.path.join(out, "triples")), run.gold))
    metrics = {
        "setup_s": _median(x["setup_s"] for x in run.setups),
        "cold_pass_s": cold["wall_s"] if cold else None,
        "triples_per_s": _median(r["triples"] / r["wall_s"] for r in warm),
    }
    info = {
        "setup_s": [x["setup_s"] for x in run.setups],
        "warm_pass_s": [r["wall_s"] for r in warm],
        "triples": results[0]["triples"] if results else None,
    }
    return metrics, info


def traced(run: Run, run_id: str) -> tuple[dict, list]:
    """The per-layer run: an untraced warm pass as the base, the same pass
    traced layer by layer, a traced crawl, and the 1 -> 4 core reference."""
    ops = run.ops
    tr = trace.Tracer(run_id)
    out = os.path.join(run.work, "out")

    run.fresh()
    ops.run(passes.flagship_pass, run.spark, run.dicts, run.pages, out)      # warm-up
    run.fresh()
    base = ops.run(passes.flagship_pass, run.spark, run.dicts, run.pages, out)

    run.fresh()
    traced_out = os.path.join(run.work, "traced")
    counts = ops.run(trace.traced_pass, run.spark, tr, run.dicts, run.pages, traced_out)
    traced_s = tr.top_level()
    ops.run(lambda: run.check_pr(
        run.spark.read.parquet(os.path.join(traced_out, "triples")), run.gold))

    # an incremental crawl holding the traced pass's corpus dictionaries fixed
    run.fresh()
    scorer_dicts = (counts or {}).pop("_dicts", None)
    inc = ops.run(trace.traced_ingest, run.spark, tr, run.dicts, scorer_dicts,
                  run.pages, CRAWL_BATCHES, os.path.join(run.work, "state"))
    if inc is not None:
        ops.run(lambda: run.check_pr(inc.pop("_triples"), run.crawled_gold(CRAWL_BATCHES)))

    metrics = {"session.start_s": _median(x["session_s"] for x in run.setups)}
    for layer in ("extract", "mentions", "linking", "predicates", "scoring.dicts",
                  "scoring.score", "scoring.top1", "tables", "graph"):
        metrics[f"{layer}.busy_s"] = tr.busy(layer)
    metrics.update(counts or {})
    metrics.update(inc or {})
    metrics["trace.overhead_ratio"] = traced_s / base["wall_s"] if base else None

    # 1 -> 4 cores: the base pass against the same pass on local[1]
    one = ops.run(_local1_pass, run)
    if base and one:
        ops.check(one["triples"] == base["triples"], "local[1] and local[4] triples differ")
        metrics["scaling.local4_pass_s"] = base["wall_s"]
        metrics["scaling.local1_pass_s"] = one["wall_s"]
        metrics["scaling.speedup_1to4"] = one["wall_s"] / base["wall_s"]
    return metrics, tr.spans


def _local1_pass(run: Run) -> dict:
    work = os.path.dirname(run.work)
    proc = subprocess.run(
        [sys.executable, "-m", "perfbench.scaling", work, run.inputs,
         os.path.join(run.work, "local1")],
        cwd=os.path.dirname(work), capture_output=True, text=True, timeout=150,
    )
    sys.stderr.write(proc.stderr)
    proc.check_returncode()
    return json.loads(proc.stdout.strip().splitlines()[-1])


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "extract.busy_s": "s", "extract.pages_out": "count",
    "mentions.busy_s": "s", "mentions.sentences": "count", "mentions.grams": "count",
    "linking.busy_s": "s", "linking.linked": "count", "linking.hit_ratio": "ratio",
    "predicates.busy_s": "s", "predicates.pairs": "count",
    "predicates.candidates": "count", "predicates.fanout": "ratio",
    "predicates.kg_broadcast": "flag",
    "scoring.dicts.busy_s": "s", "scoring.dicts.idf_entries": "count",
    "scoring.dicts.emb_entries": "count",
    "scoring.score.busy_s": "s", "scoring.score.rows": "count",
    "scoring.score.distinct_keys": "count", "scoring.score.dedup_ratio": "ratio",
    "scoring.top1.busy_s": "s", "scoring.top1.rows_in": "count",
    "scoring.top1.rows_out": "count",
    "tables.busy_s": "s", "tables.rows": "count", "tables.files": "count",
    "tables.bytes": "bytes",
    "graph.busy_s": "s", "graph.vertices": "count", "graph.edges": "count",
    "incremental.batch_s": "s", "incremental.state_read_s": "s",
    "incremental.delta_ratio": "ratio", "incremental.batch_growth_ms": "ms/batch",
    "incremental.batches": "count",
    "trace.overhead_ratio": "ratio",
    "scaling.local4_pass_s": "s", "scaling.local1_pass_s": "s",
    "scaling.speedup_1to4": "ratio",
}


