"""Simulate the driver: the ``entry()`` smoke, then the ``sparkotel.parity``
compare of each named registry query at sf0.01.  Usage:
``python tools/verify_subset.py q1 q2 ...`` (no args = the first 50 of
``queries()``, the driver's window; tests/test_oracle_parity.py checks
all of them); exits 1 on a mismatch or an empty ``entry()``."""
import os
import sys

SF = "/root/testdata/sf0.01"

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as mod  # noqa: E402

from sparkotel import parity  # noqa: E402
from sparkotel.session import get_spark  # noqa: E402


def main() -> int:
    qs, osql = mod.queries(), mod.oracle_sql()
    names = sys.argv[1:] or list(qs)[:50]
    unknown = [n for n in names if n not in qs]
    if unknown:
        print("unknown queries:", unknown)
        return 2
    spark = get_spark(app="verify-subset", shuffle_partitions=8)
    n_entry = mod.entry(spark).count()
    print("entry rows:", n_entry)
    bad = n_entry == 0
    con = parity.duck_con(SF)
    for name in names:
        if name not in osql:
            print(f"{name:35s} rows-only: {qs[name](spark, SF).count()}")
            continue
        srows = parity.spark_rows(qs[name](spark, SF))
        drows = parity.duck_rows(con, osql[name])
        ok = srows == drows
        bad += not ok
        print(f"{name:35s} equal: {ok}  rows {len(srows)}/{len(drows)}")
        for a, b in [(a, b) for a, b in zip(srows, drows) if a != b][:3]:
            print(f"  spark : {a}\n  duckdb: {b}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
