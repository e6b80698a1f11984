"""Generic interleaved same-session A/B over module-level flags.

Load bursts on a shared machine make sequential comparisons
untrustworthy, so this alternates ON (shipping defaults) / OFF (flags
forced to the given values) executions of each query in one session
and compares medians — window drift hits both arms equally.

    PYTHONPATH=/root/repo python tools/ab_flags.py QUERY [QUERY...]
        --flag module.attr=VALUE [--flag ...] [--reps N] [--sf DIR]

VALUE is parsed with ast.literal_eval (so 1, True, "x" all work).
The OFF arm sets each flag to VALUE; the ON arm restores the
module's shipping value. Prepared plans are cleared between runs so
both arms rebuild their plans.
"""

from __future__ import annotations

import argparse
import ast
import importlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--flag", action="append", required=True,
                    help="module.attr=VALUE for the OFF arm")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument(
        "--keep-prepared",
        action="store_true",
        help="do NOT clear the prepared-plan cache between runs (both"
        " arms then time the cache-hit steady state; a flag read only"
        " at plan construction has no effect)",
    )
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from kcbdml9_big_data_processing_spark.queries import QUERIES, registry
    from kcbdml9_big_data_processing_spark.session import get_spark

    flags = []  # (module, attr, shipping_value, off_value)
    for spec in args.flag:
        target, _, raw = spec.partition("=")
        modname, _, attr = target.rpartition(".")
        mod = importlib.import_module(modname)
        flags.append((mod, attr, getattr(mod, attr), ast.literal_eval(raw)))

    spark = get_spark(app_name="ab_flags")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def one(name: str, off: bool) -> float:
        for mod, attr, ship, offv in flags:
            setattr(mod, attr, offv if off else ship)
        if not args.keep_prepared:
            registry._PREPARED_PLANS.clear()
        t0 = time.time()
        QUERIES[name].fn(spark, args.sf).write.mode("overwrite").format(
            "noop"
        ).save()
        dt = round(time.time() - t0, 3)
        spark.catalog.clearCache()
        return dt

    for name in args.queries:
        one(name, False)  # warm-up (codegen + file index + stores)
        ons, offs = [], []
        for i in range(args.reps):
            offs.append(one(name, True))
            ons.append(one(name, False))
        med = lambda xs: sorted(xs)[len(xs) // 2]
        print(
            f"{name}: ON(median)={med(ons)} OFF(median)={med(offs)}"
            f"  on={ons} off={offs}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
