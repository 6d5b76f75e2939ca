"""Capture .explain("formatted") for named queries into plans/<tag>/.

Usage:
    python tools/capture_plans.py <suffix> <outdir> <query> [<query> ...]

Writes <outdir>/<query>_<suffix>.txt for each query. Run from a checkout
whose __spark_entry__ defines the query (e.g. a pinned worktree for the
"before" side). SPARK_GRAFT_SF_DIR picks the data dir (default sf0.1).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.getcwd())


def main() -> None:
    suffix, outdir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as em
    from bench import ALIAS
    from drugbankner_spark.session import get_spark

    spark = get_spark(app_name="capture-plans")
    qs = em.all_queries()
    os.makedirs(outdir, exist_ok=True)
    # bench.ALIAS: the benched form of a few names differs from the
    # registry row of the same name, so plans match what the bench times
    for name in names:
        fn = qs.get(ALIAS.get(name, name))
        if fn is None:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as fd:
                fd.write(buf.getvalue())
            print(f"wrote {path}", file=sys.stderr)
        except Exception as exc:
            print(f"FAIL {name}: {type(exc).__name__}: {exc}",
                  file=sys.stderr)


if __name__ == "__main__":
    main()
