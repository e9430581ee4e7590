"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Prints one context line (box load,
steal, workload, seed) and then, as the last line of stdout, the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics (see perfbench/README.md). Exits non-zero, printing no
result, when the program is missing or any step fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "cpu_s": "s",
    "rss_mb": "MB",
    "out_mb": "MB",
    "ok_frac": "fraction",
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["extract_job", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import common  # standard library only: safe before the env is set

    # every file this run writes, Spark's and every JVM's included, stays
    # under the work directory; set before tempfile or pyspark is first used
    shutil.rmtree(common.TMP, ignore_errors=True)
    os.makedirs(common.TMP)
    os.environ.update(
        TMPDIR=common.TMP,
        SPARK_LOCAL_DIRS=common.TMP,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={common.TMP} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    sys.dont_write_bytecode = True
    # a terminated run still stops the JVM and the servers it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import bench  # noqa: F401  (its status-store and /proc readers are reused)
        import deepseek_ocr_api_rs_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import extract_job, ledger, serve

    box = common.BoxContext()
    workload = {"extract_job": extract_job, "serve": serve}[args.workload]
    metrics, attempted, failed = workload.run(args.seed, args.seconds, bool(args.trace))
    units = ledger.LAYER_UNITS if args.trace else E2E_UNITS
    if set(metrics) != set(units):
        raise KeyError(f"metrics differ from the declared set: {sorted(set(metrics) ^ set(units))}")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace, "box": box.finish()}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
