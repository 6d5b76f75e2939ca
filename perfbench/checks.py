"""Output checks. Each takes plain Python data collected from the
program's outputs and returns a list of failure messages (empty when
the output is correct), so a test can hand it a corrupted output and
see it rejected without starting Spark."""

from __future__ import annotations

import hashlib
import json


def digest(lines: list[str]) -> str:
    """Order-free digest of a sink's JSON lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def mechanistic_pairs(reference_lines: list[str]) -> set[tuple[str, str]]:
    """(drug kg2_id, curie) pairs of the reference JSON's
    ``mechanistic_intermediate_nodes`` maps."""
    out = set()
    for line in reference_lines:
        rec = json.loads(line)
        for curie in rec.get("mechanistic_intermediate_nodes") or {}:
            out.add((rec["kg2_id"], curie))
    return out


def check_ep_planted(
    reference_lines: list[str], planted: list[tuple[str, str]]
) -> list[str]:
    """Every planted mechanistic-category mention of an anchored drug
    appears as (drug kg2_id, concept cluster curie)."""
    got = mechanistic_pairs(reference_lines)
    missing = [p for p in planted if tuple(p) not in got]
    if not missing:
        return []
    return [f"ep: {len(missing)}/{len(planted)} planted mechanistic pairs "
            f"missing, e.g. {missing[:3]}"]


def check_same_digest(first: str, now: str) -> list[str]:
    if first == now:
        return []
    return [f"ep: output digest {now[:12]} differs from first {first[:12]}"]


def check_link_exact(
    rows: list[tuple[str, str]],
    exact_mentions: list[str],
    cluster_of_node: dict[str, str],
    cluster_of_name: dict[str, str],
) -> list[str]:
    """Every exact-surface mention's rank-1 link (``rows`` holds
    (mention, alias_id) at rank 1) is a node of the mention's own
    cluster."""
    top = dict(rows)
    bad = [
        m for m in exact_mentions
        if cluster_of_node.get(top.get(m, "")) != cluster_of_name[m]
    ]
    if not bad:
        return []
    return [f"link: {len(bad)}/{len(exact_mentions)} exact mentions not "
            f"linked to their own concept, e.g. {bad[:3]}"]


def check_link_parity(probe_rows: list[tuple], inline_rows: list[tuple]) -> list[str]:
    """The index probe matches the inline linker row for row."""
    a, b = sorted(probe_rows), sorted(inline_rows)
    if a == b:
        return []
    diff = sorted(set(a) ^ set(b))
    return [f"link: probe and inline linker differ ({len(a)} vs {len(b)} "
            f"rows), e.g. {diff[:3]}"]


def check_corpus(survivors: list[int], exact_groups: list[list[int]]) -> list[str]:
    """Each planted exact-duplicate group leaves exactly one survivor."""
    kept = set(survivors)
    bad = [g for g in exact_groups if sum(d in kept for d in g) != 1]
    if not bad:
        return []
    return [f"corpus: {len(bad)}/{len(exact_groups)} exact-duplicate groups "
            f"do not leave exactly one survivor, e.g. {bad[:3]}"]
