"""Record the pinned output checks of ``crawl_rounds`` for some seeds.

    python3 perfbench/pin.py 0-40

Runs the uninterrupted reference crawl of each seed in one Spark
session and writes its outputs (page and URL counts, rounds, seen-set
and text checksums) into ``expected.json``, which the benchmark checks
every run of those seeds against. Run it from a checkout root, after a
change that is meant to alter what the crawl fetches.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    seeds = parse_seeds(sys.argv[1])
    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    rundir = tempfile.mkdtemp(prefix="pin-", dir=os.path.join(ROOT, ".perfbench_run"))
    os.environ["PYTHONPATH"] = ROOT
    sys.path[:0] = [HERE, ROOT]
    import worker

    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    wl = worker.WORKLOADS["crawl_rounds"]
    spark = worker.make_session(rundir, False)
    try:
        for seed in seeds:
            inp = wl.prepare(spark, os.path.join(rundir, f"in{seed}"), seed)
            out = wl.outputs(spark, wl.warmup(spark, inp))
            expected.setdefault(wl.name, {})[str(seed)] = out
            print(seed, out, file=sys.stderr)
    finally:
        spark.stop()
        shutil.rmtree(rundir, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
