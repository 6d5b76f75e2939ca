"""Benchmark self-tests, no Spark needed: the generators are
deterministic per seed, and every output check rejects a corrupted
output. Run with ``python -m pytest perfbench -q``."""

from __future__ import annotations

import filecmp
import json
import os

import pytest

import checks
import gen

WRITERS = {
    "ep_drugbank": lambda seed, d: gen.write_ep_inputs(seed, d, 12, 90)[0],
    "kg2_link_serve": lambda seed, d: gen.write_link_inputs(seed, d, 90, 3, 20)[0],
    "corpus_clean": lambda seed, d: gen.write_corpus_inputs(seed, d, 150)[0],
}


@pytest.mark.parametrize("workload", sorted(WRITERS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    write = WRITERS[workload]
    for d in "abc":
        os.makedirs(tmp_path / d)
    a = write(7, str(tmp_path / "a"))
    b = write(7, str(tmp_path / "b"))
    c = write(8, str(tmp_path / "c"))
    assert sorted(a) == sorted(b)
    for key in a:
        assert filecmp.cmp(a[key], b[key], shallow=False), key
    assert any(not filecmp.cmp(a[k], c[k], shallow=False) for k in a)


def _ep(tmp_path):
    _, doc, kg2 = gen.write_ep_inputs(3, str(tmp_path), 12, 90)
    by_drug: dict[str, dict] = {}
    for drug, curie in doc.planted:
        by_drug.setdefault(drug, {})[curie] = {"name": "x", "category": "y"}
    lines = [json.dumps({"kg2_id": d, "mechanistic_intermediate_nodes": m})
             for d, m in sorted(by_drug.items())]
    return doc, lines


def test_ep_check_rejects_a_missing_planted_pair(tmp_path):
    doc, lines = _ep(tmp_path)
    assert doc.planted and checks.check_ep_planted(lines, doc.planted) == []
    rec = json.loads(lines[0])
    rec["mechanistic_intermediate_nodes"].popitem()
    assert checks.check_ep_planted([json.dumps(rec), *lines[1:]], doc.planted)


def test_ep_check_rejects_a_changed_digest(tmp_path):
    _, lines = _ep(tmp_path)
    first = checks.digest(lines)
    assert checks.check_same_digest(first, checks.digest(list(reversed(lines)))) == []
    assert checks.check_same_digest(first, checks.digest(lines[1:]))


def _link(tmp_path):
    _, kg2, batches = gen.write_link_inputs(3, str(tmp_path), 90, 2, 20)
    nodes, _, _ = kg2.rows()
    of_node = {r["id"]: r["cluster_id"] for r in nodes}
    of_name = {r["name"]: r["cluster_id"] for r in nodes}
    node_of_name = {r["name"]: r["id"] for r in nodes}
    exact = [m for m, is_exact in batches[0] if is_exact]
    rows = [(m, node_of_name[m]) for m in exact]
    return exact, rows, of_node, of_name


def test_link_check_rejects_a_wrong_concept(tmp_path):
    exact, rows, of_node, of_name = _link(tmp_path)
    assert exact and checks.check_link_exact(rows, exact, of_node, of_name) == []
    other = next(n for n, c in of_node.items() if c != of_name[exact[0]])
    bad = [(exact[0], other), *rows[1:]]
    assert checks.check_link_exact(bad, exact, of_node, of_name)
    assert checks.check_link_exact(rows[1:], exact, of_node, of_name)


def test_link_parity_check_rejects_a_changed_row():
    probe = [("ab", "X:1", 1.0, 1), ("cd", "X:2", 0.8, 1)]
    assert checks.check_link_parity(probe, list(reversed(probe))) == []
    assert checks.check_link_parity(probe, [probe[0], ("cd", "X:3", 0.8, 1)])
    assert checks.check_link_parity(probe, probe[:1])


def test_corpus_check_rejects_zero_or_two_survivors(tmp_path):
    _, corpus = gen.write_corpus_inputs(3, str(tmp_path), 150)
    groups = corpus.exact_groups
    assert groups
    grouped = {d for g in groups for d in g}
    ok = [g[0] for g in groups] + [i for i, _ in corpus.docs if i not in grouped]
    assert checks.check_corpus(ok, groups) == []
    assert checks.check_corpus(ok + [groups[0][1]], groups)
    assert checks.check_corpus([d for d in ok if d != groups[0][0]], groups)


def test_unrelated_documents_share_no_shingle():
    """Only documents of one planted group or chain share a shingle or a
    shingle hash, so no MinHash candidate pair can merge two groups (on
    seed 13 two exact-duplicate groups once shared "in fostutri to")."""
    corpus = gen.make_corpus(gen.rng(13, "corpus_clean", "docs"), 3000)
    group = {d: g[0] for g in corpus.exact_groups for d in g}
    for a, b in corpus.near_pairs:  # chains, each in order
        group[b] = group.setdefault(a, a)
    owner: dict[int, int] = {}
    for doc_id, text in corpus.docs:
        key = group.get(doc_id, doc_id)
        for s in gen.shingles(text.split(" ")):
            assert owner.setdefault(gen.shingle_hash32(s), key) == key, s


def test_planted_names_are_unambiguous_to_the_linker():
    """No two clusters share a name whose char_wb gram vector is the
    same up to scale (the linker would tie them at cosine 1)."""
    kg2 = gen.make_kg2(gen.rng(5, "ep_drugbank", "kg2"), 600, 40)
    seen: dict[tuple, str] = {}
    for c in [*kg2.concepts, *kg2.drug_concepts]:
        for name in set(n.lower() for n in c.member_names):
            grams = gen.char_wb_grams(name)
            key = tuple(sorted({g: grams.count(g) / len(grams) for g in grams}.items()))
            assert seen.setdefault(key, c.cluster_id) == c.cluster_id, name


def test_traced_metrics_match_the_manifest():
    """The traced run reports every per-layer metric of BENCHMARK.json,
    each in the manifest's unit, and the manifest names no other."""
    workloads = pytest.importorskip("workloads")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        manifest = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    names = workloads.per_layer_names()
    assert {n: workloads.unit_of(n) for n in names} == manifest
