"""Dump the plans of registry queries into a directory, for review or diff.

Usage: python tools/dump_plans.py <out_dir> <sf_dir> [all | query ...]

Queries default to the bench HEADLINE set; ``all`` means every registry
query.  For each query two files are written into <out_dir>:

- ``<query>.txt``: the raw ``explain("formatted")``, unedited, for reading
  plan claims (Exchange counts, join strategies, PushedFilters);
- ``<query>.optimized.txt``: the optimized logical plan with the ``#123``
  expression ids and ``plan_id=123`` ids stripped (both count up per
  session), so that the plans of two trees compare with
  ``diff -r before/ after/``.

A query that fails to build writes its error into both files.  Run it from
the root of the tree whose plans you want: it imports ``polars_spark`` from
the current directory.
"""

from __future__ import annotations

import os
import re
import sys

_IDS = re.compile(r"#\d+L?|(?<=plan_id=)\d+")


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    out_dir, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sys.path.insert(0, os.getcwd())
    from polars_spark.queries import QUERIES
    from polars_spark.session import get_spark

    if names == ["all"]:
        names = sorted(QUERIES)
    elif not names:
        from bench import HEADLINE

        names = [n for n in HEADLINE if n in QUERIES]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        try:
            qe = QUERIES[name](spark, sf_dir)._jdf.queryExecution()
            text = qe.explainString(mode)
            optimized = _IDS.sub("", qe.optimizedPlan().toString())
        except Exception as exc:  # noqa: BLE001
            text = optimized = f"ERROR {type(exc).__name__}: {exc}"
        for suffix, body in ((".txt", text), (".optimized.txt", optimized)):
            with open(os.path.join(out_dir, name + suffix), "w") as fh:
                fh.write(body)
        print(f"{name}: {len(text.splitlines())} lines")
    return 0


if __name__ == "__main__":
    sys.exit(main())
