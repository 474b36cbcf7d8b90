"""Seeded OBO-style OWL corpus and release generator, with its own answers.

The corpus imitates an OBO Foundry download: one dominant ontology (``cl.owl``)
holding about half the triples, several mid-size ontologies, and ``ro.owl``
naming the relation properties.  Classes carry a label, synonyms, a
definition, cross-references, ``subClassOf`` parents in their own ontology,
and ``owl:Restriction`` blank nodes pointing into other ontologies.  About 3%
of terms are deprecated (``owl:deprecated`` plus an "obsolete" label, as OBO
releases mark them).

Sizes depend only on the scale, never on the seed; the seed picks words,
parents, restriction targets and which terms are deprecated or edited.

Alongside the OWL text the generator keeps its own model of every term, and
from that model derives what the pipeline must produce: the raw triple count,
the vertex, edge and deprecated sets, the refresh's changed documents, and the
answers to lookup queries.  These answers never come from the program under
test.

Run ``python3 perfbench/corpus.py --seed 1 --out DIR`` to write a corpus and
its manifest.
"""

from __future__ import annotations

import argparse
import bisect
import hashlib
import itertools
import json
import os
import random
from dataclasses import dataclass, replace

OBO = "http://purl.obolibrary.org/obo/"

# (file name, collection prefix, share of classes).  cl.owl is the dominant
# file: with its larger restriction count it holds about half the triples.
ONTOLOGIES = [
    ("cl.owl", "CL", 0.44),
    ("go.owl", "GO", 0.16),
    ("uberon-base.owl", "UBERON", 0.14),
    ("hp.owl", "HP", 0.11),
    ("mondo-simple.owl", "MONDO", 0.09),
    ("pato.owl", "PATO", 0.06),
]
# ontology whose new release the refresh downloads
REFRESH_FILE = "go.owl"
OLD_VERSION = "2024-01-15"
NEW_VERSION = "2024-03-15"

# relation properties named by ro.owl: (RO term, label)
RO_PROPERTIES = [
    ("RO_0002202", "develops from"),
    ("RO_0002215", "capable of"),
    ("RO_0002175", "present in taxon"),
    ("RO_0002162", "in taxon"),
    ("RO_0001025", "located in"),
    ("RO_0002131", "overlaps"),
    ("RO_0002200", "has phenotype"),
    ("RO_0000053", "has characteristic"),
]
# restrictions per class (dominant file carries more)
RESTRICTIONS = {"CL": (1, 3)}
DEFAULT_RESTRICTIONS = (0, 2)
DEPRECATED_SHARE = 0.03
# refresh release: shares of the refreshed ontology's terms
EDIT_SHARE = 0.03
ADD_SHARE = 0.015
DEPRECATE_SHARE = 0.01

VOCAB_SIZE = 3000
CONSONANTS = "bcdfghjklmnprstvz"
VOWELS = "aeiou"
# attrs keys the graph build gives each literal predicate
LABEL, SYNONYM, DEFINITION, XREF, ID = (
    "label", "hasExactSynonym", "IAO_0000115", "hasDbXref", "id",
)
TEXT_ATTRS = (LABEL, SYNONYM, DEFINITION)
MAX_POSTINGS = 20


@dataclass(frozen=True)
class Term:
    prefix: str
    number: str
    label: str
    synonyms: tuple[str, ...]
    definition: str
    xrefs: tuple[str, ...]
    parents: tuple[tuple[str, str], ...]  # (prefix, number), same ontology
    restrictions: tuple[tuple[str, tuple[str, str]], ...]  # (RO term, target)
    deprecated: bool = False

    @property
    def key(self) -> tuple[str, str]:
        return (self.prefix, self.number)


@dataclass
class Corpus:
    """Term model of one release: ``files`` maps file name to its terms."""

    files: dict[str, list[Term]]
    versions: dict[str, str]

    def terms(self):
        for terms in self.files.values():
            yield from terms


# ---------------------------------------------------------------------------
# generation
# ---------------------------------------------------------------------------
def _vocabulary(rng: random.Random) -> list[str]:
    """Six-letter consonant-vowel words.  All words have one length, so none
    is a prefix of another and a whole-word query token matches exactly the
    documents that contain that word, under edge n-gram analysis too."""
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choice(CONSONANTS) + rng.choice(VOWELS) for _ in range(3)))
    return sorted(words)


def _words(rng: random.Random, vocab: list[str], lo: int, hi: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


def _new_term(rng, vocab, prefix, number, earlier, targets, deprecated=False) -> Term:
    parents = tuple(sorted(set(rng.sample(earlier, min(len(earlier), rng.randint(1, 2))))))
    lo, hi = RESTRICTIONS.get(prefix, DEFAULT_RESTRICTIONS)
    restrictions = tuple(
        sorted(
            {
                (rng.choice(RO_PROPERTIES)[0], rng.choice(targets))
                for _ in range(rng.randint(lo, hi))
            }
        )
    )
    return Term(
        prefix=prefix,
        number=number,
        label=_words(rng, vocab, 2, 3),
        synonyms=tuple(_words(rng, vocab, 1, 3) for _ in range(rng.randint(0, 2))),
        definition=_words(rng, vocab, 5, 10),
        xrefs=tuple(
            f"{rng.choice(['FMA', 'MESH', 'BTO', 'ZFA'])}:{rng.randint(1, 99999)}"
            for _ in range(rng.randint(0, 3))
        ),
        parents=parents,
        restrictions=restrictions,
        deprecated=deprecated,
    )


def _number(i: int) -> str:
    return f"{1000000 + i:07d}"


def generate(seed: int, n_classes: int) -> Corpus:
    """The first release: ``n_classes`` classes split over ``ONTOLOGIES``."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng)
    counts = {prefix: max(4, int(n_classes * share)) for _, prefix, share in ONTOLOGIES}
    keys = {p: [(p, _number(i)) for i in range(n)] for p, n in counts.items()}
    deprecated = {
        k for ks in keys.values() for k in rng.sample(ks, int(len(ks) * DEPRECATED_SHARE))
    }
    live = {p: [k for k in ks if k not in deprecated] for p, ks in keys.items()}
    # restriction targets: live terms of every ontology (cross-ontology refs)
    targets = [k for ks in live.values() for k in ks]
    files: dict[str, list[Term]] = {}
    for fname, prefix, _ in ONTOLOGIES:
        terms = []
        for key in keys[prefix]:
            # parents: live terms generated earlier in the same file (a DAG),
            # so the first term of each file is a root with none
            end = bisect.bisect_left(live[prefix], key)
            earlier = live[prefix][max(0, end - 200) : end]
            terms.append(
                _new_term(rng, vocab, prefix, key[1], earlier, targets, key in deprecated)
            )
        files[fname] = terms
    versions = {fname: OLD_VERSION for fname, _, _ in ONTOLOGIES}
    versions["ro.owl"] = OLD_VERSION
    return Corpus(files, versions)


def new_release(seed: int, old: Corpus) -> Corpus:
    """The next release of ``REFRESH_FILE``: a few percent of its terms get
    new text, some are added, some newly deprecated; every other file keeps
    its content and version."""
    rng = random.Random(seed * 7919 + 17)
    vocab = _vocabulary(random.Random(seed))
    terms = list(old.files[REFRESH_FILE])
    live_idx = [i for i, t in enumerate(terms) if not t.deprecated and t.parents]
    n = len(terms)
    picked = rng.sample(live_idx, int(n * EDIT_SHARE) + int(n * DEPRECATE_SHARE))
    edit, deprecate = picked[: int(n * EDIT_SHARE)], picked[int(n * EDIT_SHARE):]
    for i in edit:
        terms[i] = replace(terms[i], definition=_words(rng, vocab, 5, 10))
    for i in deprecate:
        terms[i] = replace(terms[i], deprecated=True)
    dead = {terms[i].key for i in deprecate}
    prefix = terms[0].prefix
    live = [t.key for t in terms if not t.deprecated]
    all_live = [t.key for t in old.terms() if not t.deprecated and t.key not in dead]
    for j in range(int(n * ADD_SHARE)):
        terms.append(
            _new_term(rng, vocab, prefix, _number(n + j), live[-200:], all_live)
        )
    # terms elsewhere may point at a term deprecated now; the graph build
    # drops those edges, and the model below does the same
    files = dict(old.files)
    files[REFRESH_FILE] = terms
    versions = dict(old.versions)
    versions[REFRESH_FILE] = NEW_VERSION
    return Corpus(files, versions)


# ---------------------------------------------------------------------------
# OWL text
# ---------------------------------------------------------------------------
HEADER = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:obo="http://purl.obolibrary.org/obo/"
         xmlns:oboInOwl="http://www.geneontology.org/formats/oboInOwl#">
"""


def _esc(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;")


def _class_xml(t: Term) -> str:
    iri = f"{OBO}{t.prefix}_{t.number}"
    label = f"obsolete {t.label}" if t.deprecated else t.label
    out = [f'  <owl:Class rdf:about="{iri}">\n', f"    <rdfs:label>{_esc(label)}</rdfs:label>\n"]
    for p in t.parents:
        out.append(f'    <rdfs:subClassOf rdf:resource="{OBO}{p[0]}_{p[1]}"/>\n')
    for prop, (tp, tn) in t.restrictions:
        out.append(
            "    <rdfs:subClassOf>\n      <owl:Restriction>\n"
            f'        <owl:onProperty rdf:resource="{OBO}{prop}"/>\n'
            f'        <owl:someValuesFrom rdf:resource="{OBO}{tp}_{tn}"/>\n'
            "      </owl:Restriction>\n    </rdfs:subClassOf>\n"
        )
    out.append(f"    <obo:IAO_0000115>{_esc(t.definition)}</obo:IAO_0000115>\n")
    for s in t.synonyms:
        out.append(f"    <oboInOwl:hasExactSynonym>{_esc(s)}</oboInOwl:hasExactSynonym>\n")
    for x in t.xrefs:
        out.append(f"    <oboInOwl:hasDbXref>{x}</oboInOwl:hasDbXref>\n")
    out.append(f"    <oboInOwl:id>{t.prefix}:{t.number}</oboInOwl:id>\n")
    if t.deprecated:
        out.append(
            '    <owl:deprecated rdf:datatype="http://www.w3.org/2001/XMLSchema#boolean">'
            "true</owl:deprecated>\n"
        )
    out.append("  </owl:Class>\n")
    return "".join(out)


def _ontology_xml(fname: str, version: str, root: str | None) -> str:
    stem = fname.rsplit(".", 1)[0]
    out = [
        f'  <owl:Ontology rdf:about="{OBO}{fname}">\n',
        f'    <owl:versionIRI rdf:resource="{OBO}{stem}/releases/{version}/{fname}"/>\n',
    ]
    if root:
        out.append(f'    <obo:IAO_0000700 rdf:resource="{OBO}{root}"/>\n')
    out.append("  </owl:Ontology>\n")
    return "".join(out)


def _triples_per_term(t: Term) -> int:
    # rdf:type, label, definition, id; a parent is one triple, a restriction
    # four (subClassOf to the bnode, its rdf:type, onProperty, someValuesFrom)
    return (
        4 + len(t.parents) + 4 * len(t.restrictions) + len(t.synonyms) + len(t.xrefs)
        + (1 if t.deprecated else 0)
    )


def write_release(corpus: Corpus, out_dir: str) -> dict:
    """Write every OWL file of ``corpus`` to ``out_dir``; returns
    {file name: (bytes, raw triples)}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for fname, terms in corpus.files.items():
        root = f"{terms[0].prefix}_0000000"
        text = (
            HEADER
            + _ontology_xml(fname, corpus.versions[fname], root)
            + "".join(_class_xml(t) for t in terms)
            + "</rdf:RDF>\n"
        )
        # ontology header: rdf:type, versionIRI, IAO_0000700
        sizes[fname] = (_write(out_dir, fname, text), 3 + sum(map(_triples_per_term, terms)))
    ro = HEADER + _ontology_xml("ro.owl", corpus.versions["ro.owl"], None)
    for term, label in RO_PROPERTIES:
        ro += (
            f'  <owl:ObjectProperty rdf:about="{OBO}{term}">\n'
            f"    <rdfs:label>{label}</rdfs:label>\n  </owl:ObjectProperty>\n"
        )
    ro += "</rdf:RDF>\n"
    sizes["ro.owl"] = (_write(out_dir, "ro.owl", ro), 2 + 2 * len(RO_PROPERTIES))
    return sizes


def _write(out_dir: str, fname: str, text: str) -> int:
    data = text.encode("utf-8")
    with open(os.path.join(out_dir, fname), "wb") as f:
        f.write(data)
    return len(data)


# ---------------------------------------------------------------------------
# expected graph, derived from the term model
# ---------------------------------------------------------------------------
RO_LABEL = dict(RO_PROPERTIES)


def _edge_label(prop: str | None) -> str:
    return "SUB_CLASS_OF" if prop is None else RO_LABEL[prop].upper().replace(" ", "_")


@dataclass
class Graph:
    vertices: dict[tuple[str, str], dict[str, list[str]]]
    edges: dict[tuple[str, str, str, str], tuple[tuple[str, ...], tuple[str, ...]]]
    deprecated: set[str]


def expected_graph(corpus: Corpus) -> Graph:
    """The property graph the pipeline builds from ``corpus``: live terms
    become vertices with their literal attributes; ``subClassOf`` parents and
    restrictions become edges when both ends are live vertices."""
    vertices: dict = {}
    deprecated = set()
    for t in corpus.terms():
        if t.deprecated:
            deprecated.add(f"{t.prefix}_{t.number}")
            continue
        attrs = {LABEL: [t.label], DEFINITION: [t.definition], ID: [f"{t.prefix}:{t.number}"]}
        if t.synonyms:
            attrs[SYNONYM] = sorted(set(t.synonyms))
        if t.xrefs:
            attrs[XREF] = sorted(set(t.xrefs))
        vertices[t.key] = attrs
    labels: dict = {}
    for t in corpus.terms():
        if t.deprecated:
            continue
        for prop, target in [(None, p) for p in t.parents] + list(t.restrictions):
            if target in vertices:
                labels.setdefault(t.key + target, set()).add(_edge_label(prop))
    edges = {
        (f, fk, tc, tk): (tuple(sorted(ls)), (f.upper(),))
        for (f, fk, tc, tk), ls in labels.items()
    }
    return Graph(vertices, edges, deprecated)


def _h(obj) -> int:
    digest = hashlib.blake2b(json.dumps(obj, sort_keys=True).encode(), digest_size=8)
    return int.from_bytes(digest.digest(), "big")


def vertex_hash(rows) -> str:
    """Order-independent hash of (collection, key, attrs) rows."""
    return f"{sum(_h([c, k, a]) for c, k, a in rows) % (1 << 64):016x}"


def edge_hash(rows) -> str:
    """Order-independent hash of (from_collection, from_key, to_collection,
    to_key, labels, sources) rows."""
    return f"{sum(_h(list(r)) for r in rows) % (1 << 64):016x}"


def graph_hashes(g: Graph) -> dict:
    return {
        "vertex_hash": vertex_hash((c, k, a) for (c, k), a in g.vertices.items()),
        "edge_hash": edge_hash(
            (f, fk, tc, tk, list(ls), list(ss)) for (f, fk, tc, tk), (ls, ss) in g.edges.items()
        ),
    }


def changed_docs(old: Graph, new: Graph) -> dict:
    """Vertices and edges inserted, updated or deleted between two graphs;
    ``docs`` is their total and ``deleted`` the part that no upsert carries."""
    out = {"docs": 0, "deleted": 0}
    for name, a, b in (("vertices", old.vertices, new.vertices), ("edges", old.edges, new.edges)):
        changed = [k for k in a.keys() | b.keys() if a.get(k) != b.get(k)]
        out[name] = len(changed)
        out["docs"] += len(changed)
        out["deleted"] += sum(1 for k in changed if k not in b)
    return out


# ---------------------------------------------------------------------------
# lookup queries and their answers
# ---------------------------------------------------------------------------
def doc_key(collection: str, key: str) -> str:
    return f"{collection}/{key}"


def queries(seed: int, corpus: Corpus, n: int, s: float = 1.1, block: int = 25) -> list[str]:
    """``n`` query tokens with Zipf skew (exponent ``s``) over the label
    vocabulary, ranked by how many live labels use each word.  Sampling is
    stratified: every ``block`` consecutive queries hold the Zipf quantiles
    (j + 0.5) / ``block``, in seeded order, so each run sees the same mix of
    frequent and rare tokens."""
    freq: dict[str, int] = {}
    for t in corpus.terms():
        if not t.deprecated:
            for w in set(t.label.split()):
                freq[w] = freq.get(w, 0) + 1
    ranked = sorted(freq, key=lambda w: (-freq[w], w))
    cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(ranked))))
    ranks = [bisect.bisect_left(cum, (j + 0.5) / block * cum[-1]) for j in range(block)]
    rng = random.Random(seed * 104729 + 3)
    out: list[str] = []
    while len(out) < n:
        rng.shuffle(ranks)
        out += [ranked[r] for r in ranks]
    return out[:n]


def expected_index(g: Graph) -> dict:
    """Row count and posting total of the edge n-gram (3-12) inverted index
    over each vertex's label, synonym and definition text."""
    postings: dict[str, set] = {}
    for key, attrs in g.vertices.items():
        for a in TEXT_ATTRS:
            for text in attrs.get(a, []):
                for w in text.lower().split():
                    grams = [w[:n] for n in range(3, min(len(w), 12) + 1)]
                    for gram in grams + ([w] if len(w) > 12 else []):
                        postings.setdefault(gram, set()).add(key)
    return {"tokens": len(postings), "postings": sum(map(len, postings.values()))}


def lookup_answers(g: Graph, tokens: list[str]) -> dict[str, list]:
    """For each token: up to ``MAX_POSTINGS`` matching vertices in doc-key
    order, each with its label and sorted 1-hop out-edges."""
    postings: dict[str, set[str]] = {}
    wanted = set(tokens)
    for (c, k), attrs in g.vertices.items():
        words = {w for a in TEXT_ATTRS for text in attrs.get(a, []) for w in text.split()}
        for w in words & wanted:
            postings.setdefault(w, set()).add(doc_key(c, k))
    out_edges: dict[str, list] = {}
    for (f, fk, tc, tk), (ls, _) in g.edges.items():
        out_edges.setdefault(doc_key(f, fk), []).append([tc, tk, list(ls)])
    answers = {}
    for tok in wanted:
        keys = sorted(postings.get(tok, ()))[:MAX_POSTINGS]
        answers[tok] = [
            [dk, g.vertices[tuple(dk.split("/", 1))][LABEL], sorted(out_edges.get(dk, []))]
            for dk in keys
        ]
    return answers


# ---------------------------------------------------------------------------
# manifest
# ---------------------------------------------------------------------------
def build(seed: int, n_classes: int, out: str) -> tuple[dict, tuple[Corpus, Corpus]]:
    """Write both releases under ``out`` (``v1/``, ``v2/``); returns the
    manifest, also written to ``out/manifest.json``, and both releases."""
    old = generate(seed, n_classes)
    new = new_release(seed, old)
    g_old, g_new = expected_graph(old), expected_graph(new)
    manifest = {"seed": seed, "n_classes": n_classes, "refresh_file": REFRESH_FILE}
    for name, corpus, g in (("v1", old, g_old), ("v2", new, g_new)):
        sizes = write_release(corpus, os.path.join(out, name))
        manifest[name] = {
            "files": {f: {"bytes": b, "triples": n} for f, (b, n) in sorted(sizes.items())},
            "bytes": sum(b for b, _ in sizes.values()),
            "triples": sum(n for _, n in sizes.values()),
            "vertices": len(g.vertices),
            "edges": len(g.edges),
            "deprecated": len(g.deprecated),
            "index": expected_index(g),
            **graph_hashes(g),
        }
    manifest["refresh_changed"] = changed_docs(g_old, g_new)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest, (old, new)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--classes", type=int, default=6000)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(build(args.seed, args.classes, args.out)[0], indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
