"""Invariance sweep: run every registry query twice and hash-compare the
(column-sorted, row-sorted) results.

  python tools/invariance.py [--conf KEY=A,B] [sf_dir] [names...]

- No ``--conf``: both runs on one session (determinism).  A mismatch means
  the driver's correctness rerun could flake (any_value / unordered first
  / rand leaks).
- ``--conf spark.sql.shuffle.partitions=32,7`` (partition invariance) or
  ``--conf spark.sql.adaptive.enabled=true,false`` (AQE invariance): the
  first run with A, the second with B, A restored after each query.  A
  mismatch means a value depends on how the shuffle is partitioned or on
  the physical plan, and WILL change on a real cluster.
"""
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd


def result_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    s = pdf.round(9).astype(str)
    rows = sorted("\x1f".join(r) for r in s.itertuples(index=False, name=None))
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main(argv: list[str]) -> int:
    conf = None
    if argv[:1] == ["--conf"]:
        key, _, values = argv[1].partition("=")
        conf = (key, *values.split(","))
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    names = argv[1:]
    import __spark_entry__ as e
    from polars_spark.session import get_spark

    spark = get_spark()
    bad = 0
    for name, fn in e.queries().items():
        if names and name not in names:
            continue
        try:
            if conf:
                spark.conf.set(conf[0], conf[1])
            h1 = result_hash(fn(spark, sf_dir).toPandas())
            if conf:
                spark.conf.set(conf[0], conf[2])
            h2 = result_hash(fn(spark, sf_dir).toPandas())
        except Exception as exc:
            print(f"ERR   {name}: {str(exc)[:200]}")
            bad += 1
            continue
        finally:
            if conf:
                spark.conf.set(conf[0], conf[1])
        if h1 != h2:
            print(f"VARIES {name}: {h1} != {h2}")
            bad += 1
        else:
            print(f"ok    {name}")
    varied = f"{conf[0]}-dependent" if conf else "nondeterministic"
    print(f"\n{'FAIL' if bad else 'OK'}: {bad} {varied}/erroring")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
