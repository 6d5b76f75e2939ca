"""No new process-global driver state (no Spark needed).

Driver-side memos and registries belong to the Spark object they
describe (``drugbankner_spark.caching``). This guard parses the package
and fails when a function mutates a module-level dict, list or set, by
subscript assignment or through a mutating method call."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "drugbankner_spark"

#: The process globals that stay: ner's executor-side model handles, and
#: linker's pin-decision record, which ROADMAP item 2 turns into
#: structured events.
ALLOWED = {("operators/ner.py", "_MODEL_CACHE"),
           ("operators/linker.py", "LAST_PIN_DECISION")}
MUTATORS = {"append", "add", "pop", "clear", "update", "setdefault",
            "extend", "insert", "remove", "discard", "popitem"}


def _is_container(v) -> bool:
    return isinstance(v, (ast.Dict, ast.List, ast.Set)) or (
        isinstance(v, ast.Call)
        and getattr(v.func, "id", None) in {"dict", "list", "set"})


def _violations(source: str, rel: str) -> list[str]:
    tree = ast.parse(source)
    containers = {
        t.id for node in tree.body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        and _is_container(node.value)
        for t in getattr(node, "targets", [getattr(node, "target", None)])
        if isinstance(t, ast.Name)
    }
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        local = {a.arg for a in ast.walk(fn.args) if isinstance(a, ast.arg)}
        local |= {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)
                  and isinstance(n.ctx, ast.Store)}
        for node in ast.walk(fn):
            if isinstance(node, (ast.Assign, ast.AugAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                hit = [t.value for t in targets
                       if isinstance(t, ast.Subscript)]
            elif (isinstance(node, ast.Call)
                  and isinstance(node.func, ast.Attribute)
                  and node.func.attr in MUTATORS):
                hit = [node.func.value]
            else:
                continue
            for h in hit:
                if (isinstance(h, ast.Name) and h.id in containers
                        and h.id not in local and (rel, h.id) not in ALLOWED):
                    found.append(f"{rel}:{node.lineno} mutates {h.id}")
    return found


def test_no_function_mutates_a_module_level_container():
    found = [v for p in sorted(PKG.rglob("*.py")) for v in _violations(
        p.read_text(encoding="utf-8"), p.relative_to(PKG).as_posix())]
    assert not found, "process-global driver state:\n" + "\n".join(found)


def test_guard_catches_a_planted_global():
    planted = ("_MEMO = {}\n_SEEN: set = set()\n\n\ndef f(k):\n"
               "    _MEMO[k] = 1\n    _SEEN.add(k)\n\n\n"
               "def g(_MEMO):\n    _MEMO[0] = 1\n")
    assert _violations(planted, "probe.py") == [
        "probe.py:6 mutates _MEMO", "probe.py:7 mutates _SEEN"]
    # an allowlisted name passes in its own module only
    allowed = ("LAST_PIN_DECISION = {}\n\n\ndef f():\n"
               "    LAST_PIN_DECISION[1] = 2\n")
    assert _violations(allowed, "operators/linker.py") == []
    assert _violations(allowed, "operators/other.py") != []
