"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload rest_topk --seed 1 --seconds 30 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones).
The line before it carries host-noise evidence (``bench.ambient_sample``,
load-generator lateness). Spans and per-request rows of a traced run
are written to ``.perfbench/runs/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("rest_topk", "ingest_mixed")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "quickwit_spark", "__init__.py")):
        print(f"perfbench: no quickwit_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    import harness

    harness.prepare_env()
    from workloads import WORKLOADS

    cpu0 = harness.cpu_times()
    result = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace))
    evidence = result.pop("evidence")
    evidence["steal_pct_run"] = harness.steal_pct(cpu0, harness.cpu_times())
    print(json.dumps({"evidence": evidence}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
