"""Dump .explain("formatted") for driver queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plans.py <out_dir> <suffix> <query> [query ...]
       python tools/dump_plans.py <out_dir> <suffix> --all-headline

Builds each query's DataFrame and dumps its plan without collecting the
result. Building is not free of execution: every ``materialize()`` pin and
every driver-side collect the query takes while it is built (trained
centroids, codebooks, collected query rows) runs first, so a dumped plan
starts at the pinned checkpoint scans and does not show the stages
before them. Used to record before/after physical plans; suffix is
"before" or "after".
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    if names == ["--all-headline"]:
        import bench

        names = (
            bench.HEADLINE + bench.HEADLINE2 + bench.HEADLINE3
            + bench.HEADLINE4 + bench.HEADLINE5
        )
    import __spark_entry__ as entrymod

    from nekton_spark.session import get_spark

    spark = get_spark("nekton-dump-plans")
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # plan-time failure must not kill the sweep
            plan = f"PLAN ERROR: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
