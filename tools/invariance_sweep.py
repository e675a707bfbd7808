"""Full-surface shuffle-partition invariance sweep.

`tests/test_determinism.py` audits the ~64 most partition-sensitive
operators (rank ties, iterative fixpoints, remainder allocations) on
every suite run. This tool is the one-off CERTIFICATION companion: it
runs EVERY registered operator twice at sf0.001 under deliberately
different shuffle layouts (spark.sql.shuffle.partitions 3 vs 29) and
compares strict-canonical results. An operator whose output depends on the
physical partitioning would pass oracle parity at one fixed config and
still grade differently on someone else's cluster; this sweep proves
none does.

Canonicalization matches the strict value-hash used by the round-7
sf0.1 sweeps: floats via %.10g with the +0.0 signed-zero identity,
bytes hex-encoded, arrays/structs recursed. Registered float outputs
are already rounded in-query (registry discipline), so a ulp-level
sum-order difference between the two layouts would only surface if it
crossed a rounding boundary — which is exactly what we want to catch.

Usage:  python tools/invariance_sweep.py [--splits] [--sf SF_DIR]
Output: one JSON line {total, passed, variant:[names], wall_sec}.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
PARTS = ("3", "29")


def canon(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "%.10g" % (v + 0.0)
    if isinstance(v, decimal.Decimal):
        return "%.10g" % (float(v) + 0.0)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(
                f"{canon(k)}:{canon(v[k])}" for k in sorted(v, key=str)
            )
            + "}"
        )
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def run_once(spark, fn, sf_dir: str, parts: str, split: str | None = None):
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    if split is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
    rows = fn(spark, sf_dir).collect()
    return sorted(canon(tuple(r)) for r in rows)


def main() -> None:
    # --splits: additionally vary the INPUT-split layout between the two
    # runs (maxPartitionBytes 1m vs 128m), so one pass certifies joint
    # invariance to both physical-layout axes Spark controls.
    splits = ("1m", "128m") if "--splits" in sys.argv else (None, None)
    sf_dir = SF_DIR
    if "--sf" in sys.argv:
        idx = sys.argv.index("--sf")
        if idx + 1 >= len(sys.argv):
            sys.exit("usage: invariance_sweep.py [--splits] [--sf SF_DIR]")
        sf_dir = sys.argv[idx + 1]

    from etl_intraday_bidask_spark.registry import load_all_operators
    from etl_intraday_bidask_spark.session import build_spark

    specs = load_all_operators()
    spark = build_spark(app_name="invariance-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    variant: list[str] = []
    errored: list[str] = []
    for i, (name, spec) in enumerate(sorted(specs.items())):
        try:
            a = run_once(spark, spec.spark_fn, sf_dir, PARTS[0], splits[0])
            b = run_once(spark, spec.spark_fn, sf_dir, PARTS[1], splits[1])
        except Exception as exc:  # noqa: BLE001 — report, don't abort sweep
            errored.append(f"{name}: {type(exc).__name__}")
            continue
        if a != b:
            variant.append(name)
        if (i + 1) % 50 == 0:
            print(
                f"# {i + 1}/{len(specs)} swept, "
                f"{len(variant)} variant, {len(errored)} errored",
                file=sys.stderr,
            )

    out = {
        "metric": "invariance_sweep",
        "sf_dir": sf_dir,
        "partitions_compared": list(PARTS),
        "splits_compared": list(splits),
        "total": len(specs),
        "passed": len(specs) - len(variant) - len(errored),
        "variant": variant,
        "errored": errored,
        "wall_sec": round(time.perf_counter() - t0, 1),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
