"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload caption_pipeline --seed 1 --seconds 5 --trace 0

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. The line before it records the run's
provenance (host, versions, input digest, raw samples). Everything the run
writes stays under .perfbench_work/ in the checkout. Exits non-zero,
printing no result, when the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import sys

import harness


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=["caption_pipeline", "composition_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not harness.program_present():
        harness.log(f"the program (ccnet_spark_spark/, __spark_entry__.py) is missing under {harness.ROOT}")
        return 2
    harness.configure_env()
    import workloads

    result, prov = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"provenance": prov}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
