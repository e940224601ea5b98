"""Benchmark entry point.

    python3 perfbench/run.py --workload medallion_live --seed 1 --seconds 8 --trace 0

Runs one workload against the package in the checkout that holds this
directory, checks its outputs, and prints one JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). A ``DETAIL`` line before it carries sample counts, the
gates and, for traced runs, the span file. Spark runs as
``local[nproc]``; all load comes from this one process and the live
generator it starts.

Workloads:
  medallion_live   open-loop file landing into the continuous pipeline
  corpus_curation  batch near-duplicate curation of a generated corpus
  analytics_mix    closed-loop query mix from ``__spark_entry__.queries()``

Exits non-zero, printing no result, when the checkout does not hold the
package.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common as C  # noqa: E402

WORKLOADS = ("medallion_live", "corpus_curation", "analytics_mix")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    wd = C.Workdir(args.workload)
    try:
        C.import_package()
        tracer = C.Tracer(bool(args.trace), f"{args.workload}-seed{args.seed}-{os.getpid()}")
        if args.workload == "medallion_live":
            from perfbench import medallion as mod
        elif args.workload == "corpus_curation":
            from perfbench import curation as mod
        else:
            from perfbench import analytics as mod
        mod.run(args, tracer, wd)
    finally:
        wd.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
