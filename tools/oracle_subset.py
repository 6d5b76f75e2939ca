"""Driver simulation: queries vs their DuckDB oracle at sf0.01 (or the
SF dir in SPARK_GRAFT_ORACLE_SF).

Usage:
    python tools/oracle_subset.py                  # the 50 queries() entries
    python tools/oracle_subset.py <query> [...]    # named all_queries() entries

With no arguments this is what the driver's correctness pass does: it
runs entry() and every queries() entry (~20 min at sf0.01). Named
queries may be any registered name, in or out of the window. Prints
MATCH/MISMATCH per query (rows-only for a query with no oracle twin)
and a SUMMARY line; exits 1 on any mismatch, error or unknown name.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

    import __spark_entry__ as E
    from drugbankner_spark.session import get_spark
    from tests.oracle_utils import duck_con, normalize

    spark = get_spark(app_name="oracle-subset")
    if not names:
        print("entry:", len(E.entry(spark).collect()), "rows", flush=True)
        names = sorted(E.queries())
    con = duck_con(sf)
    qs, osql = E.all_queries(), E.oracle_sql()
    bad = []
    for name in names:
        if name not in qs:
            print(f"{name}: NOT REGISTERED", flush=True)
            bad.append(name)
            continue
        try:
            sdf = normalize(qs[name](spark, sf).toPandas())
            if name not in osql:
                print(name, "rows-only:", len(sdf), flush=True)
                continue
            odf = normalize(con.execute(osql[name]).df())
            same = (
                sdf.astype(str).equals(odf.astype(str))
                and list(sdf.columns) == list(odf.columns)
            )
            print(name, "MATCH" if same else "MISMATCH", len(sdf), flush=True)
            if not same:
                bad.append(name)
        except Exception as exc:
            print(name, "ERROR", f"{type(exc).__name__}: {exc}", flush=True)
            bad.append(name)
    print("SUMMARY:", len(names), "entries,", len(bad), "bad:", bad,
          flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
