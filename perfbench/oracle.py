"""Analytic expected outputs for the per-op correctness gate. Nothing here
calls the engine: every expectation is derived from the generator
formulas alone, so an engine defect cannot hide in its own oracle."""

from __future__ import annotations

import re
from collections import Counter

from cmem_plugin_pyshacl_spark.data_model import EX, RDF_TYPE, RDFS_LABEL, SH
from cmem_plugin_pyshacl_spark.sources.pages import ORGS, PERSONS, PLACES

ORG = EX + "Organization"
SPARQL_COMPONENT = SH + "SPARQLConstraintComponent"


def _norm(s: str) -> str:
    c = s.lower()
    c = re.sub(r"\s+(inc|corp|ltd|gmbh|llc)\.?$", "", c)
    c = re.sub(r"[^\w\s]", "", c)
    return re.sub(r"\s+", " ", c.strip())


def kg_golden(ids) -> dict[tuple[str, str, str], int]:
    """Exact (s, p, o) triple set the build path must emit for the pages
    with these ids, each with its part_id lineage — the relation grammar
    of ``sources.pages._mention_sentences`` with alias canonicalisation to
    the lexicographically smallest surface (same derivation as the
    pipeline tests' golden set, generalised to any id set), and
    part_id = min(page id % 64) over the pages a triple derives from.

    The grammar repeats every 300 ids, so any window of 300 or more pages
    has the same triple set; the lineage repeats only every 4800 ids, so
    it is what tells one kg_build batch's output from another's."""
    rels: dict[tuple, int] = {}
    for i in ids:
        found = []
        if i % 5 in (0, 1, 2):
            o = ORGS[(i * 11) % len(ORGS)]
            found.append((
                PERSONS[(i * 7) % len(PERSONS)], "PERSON", EX + "worksAt",
                f"{o} Inc." if i % 3 == 0 else o, "ORG",
            ))
        if i % 5 in (1, 3):
            found.append((
                ORGS[(i * 13) % len(ORGS)], "ORG", EX + "basedIn",
                PLACES[(i * 17) % len(PLACES)], "PLACE",
            ))
        for r in found:
            rels[r] = min(rels.get(r, i % 64), i % 64)
    by_norm: dict[str, list[str]] = {}
    for s in {s for r in rels for s in (r[0], r[3])}:
        by_norm.setdefault(_norm(s), []).append(s)
    canon = {s: min(grp) for grp in by_norm.values() for s in grp}
    type_iri = {"PERSON": EX + "Person", "ORG": ORG, "PLACE": EX + "Place"}

    def ent(surface: str, typ: str) -> str:
        return EX + typ.lower() + "/" + re.sub(r"\s", "_", _norm(canon[surface]))

    out: dict[tuple[str, str, str], int] = {}
    for (ss, st, pred, os_, ot), part in rels.items():
        s_iri, o_iri = ent(ss, st), ent(os_, ot)
        for t in (
            (s_iri, pred, o_iri),
            (s_iri, RDF_TYPE, type_iri[st]),
            (o_iri, RDF_TYPE, type_iri[ot]),
            (s_iri, RDFS_LABEL, canon[ss]),
            (o_iri, RDFS_LABEL, canon[os_]),
        ):
            out[t] = min(out.get(t, part), part)
    return out


def kg_violations(golden: dict[tuple[str, str, str], int]) -> Counter:
    """Results per part_id that kg_shapes must report on the golden graph:
    organisations without ex:basedIn (every person has ex:worksAt by
    construction), each in the partition of its rdf:type triple (the
    focus node's lineage)."""
    based = {s for s, p, _ in golden if p == EX + "basedIn"}
    return Counter(
        part for (s, p, o), part in golden.items()
        if p == RDF_TYPE and o == ORG and s not in based
    )


def plugin_expected(rows) -> Counter:
    """Result counts per (sourceConstraintComponent, sourceShape-or-None)
    for CUSTOMER_SHAPES_ALL plus the three sh:sparql constraints, from the
    violation-by-construction formulas of ``fixtures.py`` and the
    ``ORACLE_SHACL_SPARQL`` query. Core components are keyed with shape
    None; SPARQL constraints by their constraint node."""
    want: Counter = Counter()
    for k, _name, seg, nation in rows:
        age = k % 80
        checks = [
            (SH + "MinCountConstraintComponent", None, k % 3 == 0),
            (SH + "MaxCountConstraintComponent", None, k % 3 != 0 and k % 7 == 0),
            (SH + "DatatypeConstraintComponent", None, k % 11 == 0),
            (SH + "ClassConstraintComponent", None, nation >= 22),
            (SH + "NodeKindConstraintComponent", None, k % 5 == 0),
            (SH + "PatternConstraintComponent", None, len(seg) > 9),
            (SPARQL_COMPONENT, "urn:af:multiEmail", k % 3 != 0 and k % 7 == 0),
            (SPARQL_COMPONENT, "urn:af:tooOld", k % 11 != 0 and age >= 75),
            (SPARQL_COMPONENT, "urn:af:fnGraph", k % 11 != 0 and 60 <= age < 75),
        ]
        want.update((comp, shape) for comp, shape, hit in checks if hit)
    return want
