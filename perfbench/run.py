"""Benchmark of the pages -> DBpedia-canonical triples engine on local[4].

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 25 --trace 0

Run from the root of a checkout; everything it writes goes under
perfbench/_work/.  Workloads (why each exists: README.md):

    flagship   templated pages: extract_triples + graph per pass
    longtail   the same pages with a near-unique token in every relation
               span, so scorer keys and the IDF vocabulary stop repeating

``--trace 0`` prints the end-to-end metrics, measured untraced.
``--trace 1`` runs the same workload with a span around each layer and
prints the per-layer metrics instead.  The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

DRIVER_HEAP = "3g"   # pinned: get_spark defaults to a 64g heap, past most hosts' memory


def setup_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    called after the previous run's JVM is gone, so its leftovers go."""
    for d in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, help="flagship or longtail")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    if not os.path.isfile(os.path.join(ROOT, "predicate_finder_spark", "__init__.py")):
        print(f"perfbench: no predicate_finder_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import box, passes, workload as wl

    if args.workload not in wl.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(wl.WORKLOADS)}")
    os.makedirs(WORK, exist_ok=True)
    pid_file = os.path.join(WORK, "jvm.pid")
    waited = box.wait_previous_jvm(pid_file)
    setup_env(WORK)

    work = passes.reset_dir(os.path.join(WORK, args.workload))
    in_dir = os.path.join(work, "inputs")
    rec = box.run_record(
        ROOT, workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, master=wl.MASTER, pages=wl.PAGES, entities=wl.ENTITIES,
        prev_jvm_wait_s=waited,
    )
    ops = wl.Ops()
    phase = {}
    try:
        t0 = time.perf_counter()
        spark = passes.start_session(WORK)
        box.record_jvm(pid_file)
        wl.generate_inputs(spark, in_dir, args.seed, wl.WORKLOADS[args.workload])
        phase["generate"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with box.PeakRss() as rss:
            setups = [passes.setup(WORK, in_dir) for _ in range(wl.SETUP_REPS)]
            run = wl.Run(setups, in_dir, work, ops)
            if args.trace:
                metrics, spans = wl.traced(run, run_id=f"{args.workload}-{args.seed}")
                box.dump(os.path.join(WORK, "trace.json"), spans)
                units = wl.PER_LAYER_UNITS
            else:
                metrics, rec["measured"] = wl.measure(run, args.seconds)
                units = wl.E2E_UNITS
        metrics["peak_rss_mb"] = rss.peak_mb
        rec["peak_rss_by_process_mb"] = rss.breakdown_mb
        phase["measure"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        box.shutdown_jvm()
        phase["shutdown"] = time.perf_counter() - t0
        rec["phase_s"] = phase
    box.close_record(rec)
    box.dump(os.path.join(WORK, "run_record.json"), rec)

    missing = [k for k in units if metrics.get(k) is None]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print("run_record " + json.dumps(rec, sort_keys=True, default=str))
    for pr in run.prs:
        print(f"precision={pr['precision']} recall={pr['recall']} triples={int(pr['n_pred'])}")
    print(f"ops_failed={ops.failed} ops_total={ops.total}")
    for k, unit in units.items():
        print(f"{k} {metrics[k]} {unit}")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.total,
        "failed": ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
