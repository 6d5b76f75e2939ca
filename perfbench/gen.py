"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random`` (seeded from the run's
``--seed``) and returns plain Python data; the ``write_*_inputs``
functions turn it into the files the program reads. The same seed gives byte-identical
files. The program never sees this module's bookkeeping (the planted
mentions and duplicate groups) — only the checks in ``checks.py`` do.

Shapes:

- KG2 synonymizer: concept clusters with 1-4 member nodes whose names
  are case/hyphen variants of the cluster's name, so a name lookup and
  a CURIE lookup reach the same cluster. Names are built from a small
  syllable alphabet; the alphabet sets the char-3-gram document
  frequencies and therefore the linker's posting-join cost, which is
  why :func:`gram_df_stats` is recorded with every run.
- DrugBank XML: the PAPER.md §1.1 shape (one-or-many ``drugbank-id``,
  bioentities with polypeptides, pathways, five free-text fields) with
  concept names planted in the sentences.
- Mention batches: distinct alias strings drawn Zipf-skewed, a share of
  them with one typo.
- Corpus: documents with planted exact-duplicate groups and one-edit
  near-duplicate chains, plus a share of low-quality documents.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import string
from collections import Counter
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

SYLLABLES = (
    "ba", "ce", "di", "fo", "gu", "ka", "le", "mi", "no", "pu", "ra", "se",
    "ti", "vo", "xu", "za", "bro", "cla", "dre", "fli", "gro", "pla", "stu",
    "tri",
)

#: Filler words for sentences. None is a syllable compound, so filler
#: never spells a concept name.
FILLER = (
    "the", "drug", "is", "a", "of", "and", "in", "to", "with", "binds",
    "inhibits", "reduces", "increases", "patients", "activity", "levels",
    "observed", "after", "dose", "studies", "response", "plasma", "shows",
    "mediated", "by", "through", "effect", "modulates", "via", "pathway",
    "signal", "cells", "tissue", "clinical", "acute", "chronic", "therapy",
    "receptor", "expression", "during", "treatment", "while", "its",
)

#: (category, canonical CURIE prefix, member prefixes) — categories
#: without the ``biolink:`` prefix, as the synonymizer stores them.
CATEGORIES = (
    ("Disease", "MONDO", ("umls", "MESH", "DOID")),
    ("PhenotypicFeature", "HP", ("umls", "MESH")),
    ("BiologicalProcess", "GO", ("REACT",)),
    ("Gene", "NCBIGene", ("HGNC", "ENSEMBL")),
    ("Protein", "UniProtKB", ("PR",)),
    ("MolecularActivity", "GO", ("EC",)),
    ("Pathway", "REACT", ("SMPDB",)),
    ("SmallMolecule", "CHEBI", ("PUBCHEM.COMPOUND", "mesh")),
    ("Procedure", "NCIT", ("umls",)),
)

#: Categories the indication branch aligns (ner.DISEASE_CATEGORIES).
INDICATION_CATEGORIES = ("Disease", "PhenotypicFeature")
#: Planted categories that are NOT mechanistic: they must not be checked.
NON_MECHANISTIC = ("Procedure",)

TEXT_FIELDS = (
    "description", "indication", "pharmacodynamics",
    "mechanism-of-action", "metabolism",
)

_SIMPLIFY = str.maketrans("", "", string.punctuation + string.whitespace)


def simplify(name: str) -> str:
    """The synonymizer's ``name_simplified`` key."""
    return name.lower().translate(_SIMPLIFY)


def capitalize_prefix(curie: str) -> str:
    """The synonymizer's ``id_simplified`` key."""
    if ":" not in curie:
        return curie.upper()
    head, rest = curie.split(":", 1)
    return head.upper() + ":" + rest


@dataclass
class Concept:
    cluster_id: str
    category: str
    name: str
    member_ids: list[str]
    member_names: list[str]


@dataclass
class Kg2:
    concepts: list[Concept]
    drug_concepts: list[Concept]
    #: DrugBank id → drug concept, for anchored drugs
    drug_ids: dict[str, Concept] = field(default_factory=dict)

    def rows(self) -> tuple[list[dict], list[dict], list[dict]]:
        """(nodes, clusters, edges) rows in the synonymizer schemas."""
        nodes, clusters, edges = [], [], []
        for c in [*self.concepts, *self.drug_concepts]:
            edge_ids = []
            for nid, nname in zip(c.member_ids, c.member_names):
                nodes.append({
                    "id": nid, "id_simplified": capitalize_prefix(nid),
                    "name": nname, "name_simplified": simplify(nname),
                    "category": c.category, "cluster_id": c.cluster_id,
                    "major_branch": "NamedThing", "name_sri": nname,
                    "category_sri": c.category, "name_kg2pre": None,
                    "category_kg2pre": None,
                })
                if nid != c.cluster_id:
                    eid = f"E:{c.cluster_id}:{nid}"
                    edge_ids.append(eid)
                    edges.append({
                        "id": eid, "subject": c.cluster_id,
                        "predicate": "same_as", "object": nid,
                        "upstream_resource_id": "infores:bench",
                        "primary_knowledge_source": "infores:bench",
                    })
            clusters.append({
                "cluster_id": c.cluster_id, "name": c.name,
                "category": c.category, "member_ids": list(c.member_ids),
                "intra_cluster_edge_ids": edge_ids,
            })
        return nodes, clusters, edges

    def aliases(self) -> list[tuple[str, str]]:
        """(node id, name) — the linker's alias table."""
        return [
            (nid, nname)
            for c in [*self.concepts, *self.drug_concepts]
            for nid, nname in zip(c.member_ids, c.member_names)
        ]


class _Names:
    """Draws syllable-compound names whose simplified form is unique."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.seen: set[str] = set()

    def word(self) -> str:
        n = self.rng.choice((2, 2, 3))
        return "".join(self.rng.choice(SYLLABLES) for _ in range(n))

    def name(self, category: str) -> str:
        """Unique by simplified key and by token set: the linker's
        char_wb vectors ignore token order, so "Ba ce" and "Ce ba" (or
        "Ba ba" and "Ba") would tie at cosine 1."""
        while True:
            if category == "Gene":
                toks = [self.word()[:4].upper() + str(self.rng.randint(1, 9))]
            else:
                toks = [self.word() for _ in range(self.rng.choice((1, 2, 2, 3)))]
                toks[0] = toks[0].capitalize()
            name = " ".join(toks)
            keys = (simplify(name), " ".join(sorted(t.lower() for t in toks)))
            if (len(set(keys[1].split())) == len(toks) and len(keys[0]) >= 4
                    and not self.seen.intersection(keys)):
                self.seen.update(keys)
                return name


def _variants(rng: random.Random, name: str, k: int) -> list[str]:
    """k names that simplify to the same key as ``name``."""
    pool = [name, name.lower(), name.replace(" ", "-", 1), name.upper()]
    out = [name]
    for v in rng.sample(pool[1:], len(pool) - 1):
        if len(out) == k:
            break
        out.append(v)
    while len(out) < k:
        out.append(name)
    return out


def make_kg2(rng: random.Random, n_concepts: int, n_drugs: int) -> Kg2:
    """Synthetic KG2 with ``n_concepts`` non-drug clusters plus one Drug
    cluster per DrugBank id ``DB00001..``; ~8% of drugs get no DRUGBANK
    member, so they stay unanchored."""
    names = _Names(rng)
    concepts = []
    for i in range(n_concepts):
        cat, prefix, member_prefixes = CATEGORIES[i % len(CATEGORIES)]
        cid = f"{prefix}:{100000 + i}"
        name = names.name(cat)
        n_members = rng.choice((1, 1, 2, 2, 3, 4))
        ids = [cid] + [
            f"{rng.choice(member_prefixes)}:{cat[:2].upper()}{i}x{j}"
            for j in range(1, n_members)
        ]
        concepts.append(Concept(cid, cat, name, ids,
                                _variants(rng, name, n_members)))
    drugs = []
    drug_ids = {}
    for i in range(n_drugs):
        dbid = f"DB{i + 1:05d}"
        cid = f"CHEBI:{900000 + i}"
        name = names.name("Drug")
        ids = [cid, f"RXNORM:{700000 + i}"]
        if rng.random() >= 0.08:
            ids.append(f"drugbank:{dbid}")
        c = Concept(cid, "Drug", name, ids, _variants(rng, name, len(ids)))
        drugs.append(c)
        if len(ids) == 3:
            drug_ids[dbid] = c
    return Kg2(concepts, drugs, drug_ids)


def char_wb_grams(text: str, n: int = 3) -> list[str]:
    """sklearn ``char_wb`` grams, as ``linker.char_wb_gram_counts``."""
    out = []
    for t in text.lower().split():
        p = f" {t} "
        out.extend(p[i:i + n] for i in range(max(len(t) + 3 - n, 1)))
    return out


def gram_df_stats(aliases: list[tuple[str, str]]) -> dict:
    """Char-3-gram document frequency over the distinct alias strings."""
    df: Counter = Counter()
    texts = {name for _, name in aliases}
    for t in texts:
        df.update(set(char_wb_grams(t)))
    dfs = sorted(df.values())
    return {
        "aliases": len(texts), "grams": len(dfs),
        "max_df": dfs[-1], "median_df": dfs[len(dfs) // 2],
    }


# -- DrugBank XML ----------------------------------------------------------

@dataclass
class DrugbankDoc:
    xml: str
    #: (drug kg2 cluster id, planted concept cluster id) for every planted
    #: mechanistic-category mention of an anchored drug
    planted: list[tuple[str, str]]
    n_drugs: int
    n_anchored: int


def _sentence(rng: random.Random, mentions: list[Concept]) -> str:
    words = [rng.choice(FILLER) for _ in range(rng.randint(5, 10))]
    for c in mentions:
        words.insert(rng.randint(1, len(words)), c.name)
    s = " ".join(words)
    if rng.random() < 0.15:
        s += f" [ref {rng.randint(1, 99)}]"
    return s[0].upper() + s[1:] + "."


def _bioentities(rng: random.Random, tag: str, n_max: int) -> str:
    n = rng.randint(0, n_max)
    if n == 0:
        return ""
    parts = [f"<{tag}s>"]
    for _ in range(n):
        be = rng.randint(1, 9999)
        parts.append(f"<{tag}><id>BE{be:07d}</id><name>Entity {be}</name>")
        for _ in range(rng.choice((0, 1, 1, 2))):
            up = f"P{rng.randint(10000, 99999)}"
            gene = (
                "" if rng.random() < 0.05
                else f"<gene-name>G{rng.randint(1, 999)}</gene-name>"
            )
            parts.append(
                f'<polypeptide id="{up}" source="Swiss-Prot">'
                f"<name>Protein {up}</name>{gene}</polypeptide>"
            )
        parts.append(f"</{tag}>")
    parts.append(f"</{tag}s>")
    return "".join(parts)


def make_drugbank(rng: random.Random, kg2: Kg2, n_drugs: int) -> DrugbankDoc:
    """One ``<drug>`` per drug concept (in order), plus robustness cases
    at a small rate: ~2% of drugs lose their ``drugbank-id`` element,
    ~3% of text fields are empty, ~5% of polypeptides lose ``gene-name``;
    the unanchored drugs come from :func:`make_kg2`."""
    by_cat: dict[str, list[Concept]] = {}
    for c in kg2.concepts:
        by_cat.setdefault(c.category, []).append(c)
    indication_pool = [c for cat in INDICATION_CATEGORIES for c in by_cat[cat]]
    mech_pool = [*kg2.concepts, *kg2.drug_concepts]
    out = ['<?xml version="1.0" encoding="UTF-8"?>',
           '<drugbank xmlns="http://www.drugbank.ca" version="5.1">']
    planted: list[tuple[str, str]] = []
    n_anchored = 0
    for i in range(n_drugs):
        dbid = f"DB{i + 1:05d}"
        drug = kg2.drug_concepts[i]
        has_id = rng.random() >= 0.02
        anchored = has_id and dbid in kg2.drug_ids
        n_anchored += anchored
        out.append('<drug type="small molecule" created="2005-06-13">')
        if has_id:
            out.append(f'<drugbank-id primary="true">{dbid}</drugbank-id>')
            for extra in range(rng.choice((0, 1, 2))):
                out.append(f"<drugbank-id>BIODB{i + 1:05d}{extra}</drugbank-id>")
        out.append(f"<name>{escape(drug.name)}</name>")
        for fld in TEXT_FIELDS:
            if rng.random() < 0.03:
                out.append(f"<{fld}></{fld}>")
                continue
            pool = indication_pool if fld == "indication" else mech_pool
            sents = []
            for _ in range(rng.randint(1, 3)):
                ms = [rng.choice(pool) for _ in range(rng.choice((0, 1, 1, 2)))]
                sents.append(_sentence(rng, ms))
                if anchored:
                    planted.extend(
                        (drug.cluster_id, c.cluster_id) for c in ms
                        if c.category not in NON_MECHANISTIC
                    )
            out.append(f"<{fld}>{escape(' '.join(sents))}</{fld}>")
        out.append("<protein-binding>High (99%).</protein-binding>")
        out.append(_bioentities(rng, "target", 3))
        out.append(_bioentities(rng, "enzyme", 2))
        out.append(_bioentities(rng, "carrier", 1))
        out.append(_bioentities(rng, "transporter", 1))
        n_pw = rng.choice((0, 1, 1, 2))
        if n_pw:
            out.append("<pathways>")
            for _ in range(n_pw):
                ups = "".join(
                    f"<uniprot-id>P{rng.randint(10000, 99999)}</uniprot-id>"
                    for _ in range(rng.randint(1, 3))
                )
                out.append(
                    f"<pathway><smpdb-id>SMP{rng.randint(1, 99999):05d}"
                    f"</smpdb-id><name>Pathway {i}</name>"
                    f"<enzymes>{ups}</enzymes></pathway>"
                )
            out.append("</pathways>")
        out.append("</drug>")
    out.append("</drugbank>")
    return DrugbankDoc("\n".join(out) + "\n", sorted(set(planted)),
                       n_drugs, n_anchored)


# -- linker probe batches ---------------------------------------------------

def _typo(rng: random.Random, s: str) -> str:
    i = rng.randrange(len(s))
    op = rng.randrange(3)
    if op == 0:
        return s[:i] + rng.choice(string.ascii_lowercase) + s[i + 1:]
    if op == 1 and len(s) > 4:
        return s[:i] + s[i + 1:]
    j = min(i + 1, len(s) - 1)
    return s[:i] + s[j] + s[i] + s[j + 1:] if j > i else s + "a"


def make_mention_batches(
    rng: random.Random, kg2: Kg2, n_batches: int, size: int,
    typo_rate: float = 0.2, zipf_s: float = 1.1,
) -> list[list[tuple[str, bool]]]:
    """``n_batches`` lists of ``size`` distinct (mention, is_exact)
    pairs; exact mentions are alias strings drawn with Zipf(s) weights
    over a seed-shuffled alias order, the rest carry one typo."""
    names = sorted({name for _, name in kg2.aliases()})
    rng.shuffle(names)
    weights = [1.0 / (r + 1) ** zipf_s for r in range(len(names))]
    exact_set = set(names)
    batches = []
    for _ in range(n_batches):
        batch: dict[str, bool] = {}
        while len(batch) < size:
            m = rng.choices(names, weights)[0]
            if rng.random() < typo_rate:
                m = _typo(rng, m)
            batch.setdefault(m, m in exact_set)
        batches.append(sorted(batch.items()))
    return batches


# -- corpus -----------------------------------------------------------------

@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    exact_groups: list[list[int]]
    #: consecutive (id, id) pairs of every near-duplicate chain
    near_pairs: list[tuple[int, int]]


def shingles(toks: list[str]) -> set[str]:
    """The 3-token shingles MinHash hashes, joined as it joins them."""
    return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))}


def shingle_hash32(shingle: str) -> int:
    """The 32-bit md5 prefix, the MinHash's default shingle hash."""
    return int(hashlib.md5(shingle.encode("utf-8")).hexdigest()[:8], 16)


def make_corpus(rng: random.Random, n_docs: int) -> Corpus:
    """~15% of documents sit in exact-duplicate groups of 2-4, ~25% in
    one-edit near-duplicate chains of 3-6 (a chain of length L needs
    L-1 label-propagation rounds), ~5% are low quality (too short or
    digit-heavy) and the rest are unique.

    No two unrelated documents share a shingle or a shingle hash, so
    every MinHash candidate pair joins documents of one planted group
    or chain. Without this, one shared "stopword word stopword" shingle
    could pair two unrelated exact-duplicate groups and merge them into
    one survivor."""
    vocab = sorted({
        "".join(rng.choice(SYLLABLES) for _ in range(rng.choice((2, 3))))
        for _ in range(3000)
    })
    stop = ("the", "a", "and", "of", "to", "in", "is")
    used: set[str] = set()
    used_hashes: set[int] = set()

    def claim(new: set[str]) -> bool:
        """Reserve shingles unless another document holds one of them
        or of their hashes."""
        hashes = {shingle_hash32(s) for s in new}
        if new & used or hashes & used_hashes:
            return False
        used.update(new)
        used_hashes.update(hashes)
        return True

    def fresh(draw) -> list[str]:
        while True:
            toks = draw()
            if claim(shingles(toks)):
                return toks

    def text(n: int) -> list[str]:
        out = []
        while len(out) < n:
            out.append(rng.choice(vocab))
            if rng.random() < 0.3:
                out.append(rng.choice(stop))
        return out

    texts: list[str] = []
    exact_idx: list[list[int]] = []
    chain_idx: list[list[int]] = []
    while len(texts) < n_docs:
        r = rng.random()
        if r < 0.06:
            k = rng.randint(2, 4)
            t = " ".join(fresh(lambda: text(rng.randint(40, 60))))
            exact_idx.append(list(range(len(texts), len(texts) + k)))
            texts.extend([t] * k)
        elif r < 0.12:
            k = rng.randint(3, 6)
            toks = fresh(lambda: text(rng.randint(40, 60)))
            own = shingles(toks)
            idx = []
            for _ in range(k):
                idx.append(len(texts))
                texts.append(" ".join(toks))
                while True:
                    edit = list(toks)
                    edit[rng.randrange(len(edit))] = rng.choice(vocab)
                    if claim(shingles(edit) - own):
                        break
                toks = edit
                own |= shingles(edit)
            chain_idx.append(idx)
        elif r < 0.17:
            if rng.random() < 0.5:
                texts.append(" ".join(fresh(lambda: text(rng.randint(5, 15)))))
            else:
                texts.append(" ".join(fresh(lambda: [
                    str(rng.randint(1000, 99999)) for _ in range(30)] + ["the"])))
        else:
            texts.append(" ".join(fresh(lambda: text(rng.randint(40, 60)))))
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    docs = sorted((ids[i], t) for i, t in enumerate(texts))
    return Corpus(
        docs,
        [sorted(ids[i] for i in g) for g in exact_idx],
        [(ids[a], ids[b]) for g in chain_idx for a, b in zip(g, g[1:])],
    )


# -- files ------------------------------------------------------------------
#
# One writer per workload: the workload loads what it returns, and the
# determinism test compares the bytes of two writes of one seed.

def rng(seed: int, workload: str, part: str) -> random.Random:
    return random.Random(f"{seed}-{workload}-{part}")


def _write_jsonl(path: str, rows: list[dict]) -> str:
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True) + "\n")
    return path


def _write_kg2(kg2: Kg2, out_dir: str) -> dict[str, str]:
    nodes, clusters, edges = kg2.rows()
    return {
        name: _write_jsonl(os.path.join(out_dir, f"kg2_{name}.jsonl"), rows)
        for name, rows in (("nodes", nodes), ("clusters", clusters),
                           ("edges", edges))
    }


def write_ep_inputs(seed: int, out_dir: str, n_drugs: int, n_concepts: int):
    """(paths, DrugbankDoc, Kg2) for ep_drugbank."""
    kg2 = make_kg2(rng(seed, "ep_drugbank", "kg2"), n_concepts, n_drugs)
    doc = make_drugbank(rng(seed, "ep_drugbank", "xml"), kg2, n_drugs)
    paths = _write_kg2(kg2, out_dir)
    paths["xml"] = os.path.join(out_dir, "drugbank.xml")
    with open(paths["xml"], "w", encoding="utf-8") as f:
        f.write(doc.xml)
    return paths, doc, kg2


def write_link_inputs(seed: int, out_dir: str, n_concepts: int,
                      n_batches: int, batch: int):
    """(paths, Kg2, batches) for kg2_link_serve."""
    kg2 = make_kg2(rng(seed, "kg2_link_serve", "kg2"), n_concepts, 0)
    batches = make_mention_batches(
        rng(seed, "kg2_link_serve", "batches"), kg2, n_batches, batch)
    paths = _write_kg2(kg2, out_dir)
    paths["mentions"] = _write_jsonl(
        os.path.join(out_dir, "mention_batches.jsonl"),
        [{"batch": b, "mention": m}
         for b, ms in enumerate(batches) for m, _ in ms])
    return paths, kg2, batches


def write_corpus_inputs(seed: int, out_dir: str, n_docs: int):
    """(paths, Corpus) for corpus_clean."""
    corpus = make_corpus(rng(seed, "corpus_clean", "docs"), n_docs)
    path = _write_jsonl(os.path.join(out_dir, "documents.jsonl"),
                        [{"doc_id": i, "text": t} for i, t in corpus.docs])
    return {"documents": path}, corpus
