"""Self-check of the seeded input generator.

    python3 perfbench/check_inputs.py [--seed 1]

For every workload it writes the inputs of ``seed`` twice and of
``seed + 1`` once, and requires the two writes of one seed to be
byte-identical and the two seeds to differ.  Exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import box, inputs, passes, run, workload

    work = os.path.join(run.WORK, "check_inputs")
    os.makedirs(run.WORK, exist_ok=True)
    box.wait_previous_jvm(os.path.join(run.WORK, "jvm.pid"))
    run.setup_env(run.WORK)

    ok = True
    try:
        spark = passes.start_session(run.WORK)
        box.record_jvm(os.path.join(run.WORK, "jvm.pid"))
        for name, spec in workload.WORKLOADS.items():
            digests = []
            for i, seed in enumerate((args.seed, args.seed, args.seed + 1)):
                root = os.path.join(work, f"{name}-{i}")
                shutil.rmtree(root, ignore_errors=True)
                workload.generate_inputs(spark, root, seed, spec)
                digests.append(inputs.digest(root))
            same, differ = digests[0] == digests[1], digests[0] != digests[2]
            ok &= same and differ
            print(f"{name}: seed {args.seed} twice identical={same} "
                  f"seed {args.seed + 1} differs={differ} ({digests[0]})")
    finally:
        box.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
