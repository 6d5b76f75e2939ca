"""No partitioned writer outside the index store (no Spark needed).

Every serving index and state store is written through
``operators/scale.py`` (``write_partitioned``), which owns the
partition layout, the empty-input fallback and the invalidation of the
memoized read. This guard parses the package and the entry module and
fails when a ``.partitionBy(`` call whose receiver chain contains
``.write`` appears anywhere else; a window spec's
``Window.partitionBy`` is not a writer and passes."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
STORE = "drugbankner_spark/operators/scale.py"


def _receiver_attrs(call: ast.Call):
    """Attribute names on the receiver side of ``call``'s method chain
    (arguments stay out)."""
    cur = call.func.value
    while True:
        if isinstance(cur, ast.Call):
            cur = cur.func
        elif isinstance(cur, ast.Attribute):
            yield cur.attr
            cur = cur.value
        else:
            return


def _violations(source: str, rel: str) -> list[str]:
    return [
        f"{rel}:{node.lineno}" for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "partitionBy"
        and "write" in _receiver_attrs(node)
    ]


def test_no_partitioned_writer_outside_the_index_store():
    sources = [*sorted((ROOT / "drugbankner_spark").rglob("*.py")),
               ROOT / "__spark_entry__.py"]
    found = [
        v for p in sources
        if p.relative_to(ROOT).as_posix() != STORE
        for v in _violations(p.read_text(encoding="utf-8"),
                             p.relative_to(ROOT).as_posix())
    ]
    assert not found, (
        "partitioned writes outside scale.write_partitioned:\n"
        + "\n".join(found)
    )


def test_guard_catches_a_planted_writer():
    planted = (
        "def f(df):\n"
        "    df.repartition('b').write.mode('append')"
        ".partitionBy('b').parquet('x')\n"
        "    w = Window.partitionBy('b').orderBy('c')\n"
        "    return df.select(F.row_number().over(w))\n"
    )
    assert _violations(planted, "probe.py") == ["probe.py:2"]
