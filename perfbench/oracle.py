"""Plain-Python answers and output checks for the kgspark benchmark.

Everything here works on Python sets and dicts built from the golden
triple set (``kgspark.golden.fact_rows_to_triples`` over datagen's
ground-truth fact rows), never on engine output, so a fault in the
engine cannot hide itself in its own check.

The question semantics are re-stated from the query layer's documented
spec:

- full-text anchor: the entity of the wanted type whose tokenized name
  shares the most distinct tokens with the anchor text (tokens are
  lower-cased ``[a-z0-9]+`` runs); ties broken by name, then id; no
  shared token means no anchor;
- the five Cypher shapes and the three SPARQL goldens, with the LIMITs
  and ORDER BYs of ``kgspark.operators.kg_queries``.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from kgspark.constants import (
    BASE,
    CLS_LOCATION,
    CLS_PATIENT,
    CLS_PROVIDER,
    KIND_URI,
    P_AGE,
    P_CONDITION,
    P_LOCATED_AT,
    P_NAME,
    P_SPECIALIZES_IN,
    P_TREATS,
    RDF_TYPE,
)

_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")
_INT = re.compile(r"^\s*[+-]?\d+\s*$")
_NUM = re.compile(r"^\s*[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?\s*$")

LIMITS = {"shape1": 100, "shape2": 5, "shape3": 25, "shape4": 25}


def tokens(s: str) -> set[str]:
    return {t for t in _TOKEN_SPLIT.split(s.lower()) if t}


def round_half_up(x: float, places: int = 1) -> float:
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


class GoldenKG:
    """Indexes over a golden triple set for answering questions."""

    def __init__(self, triples: set[tuple]):
        self.triples = triples
        by_pred: dict[str, dict[str, list[str]]] = defaultdict(lambda: defaultdict(list))
        for s, p, o, _kind, _dt, _lang in triples:
            by_pred[p][s].append(o)
        self.by_pred = by_pred
        # node table: typed subjects plus every edge endpoint; scalar
        # props collapse to the min value, as a pivot with min() does
        self.edges = {
            (s, p, o) for s, p, o, kind, _dt, _lang in triples
            if kind == KIND_URI and p != RDF_TYPE
        }
        ids = set(by_pred[RDF_TYPE])
        for s, _p, o in self.edges:
            ids.add(s)
            ids.add(o)
        self.nodes: dict[str, dict] = {}
        for i in ids:
            self.nodes[i] = {
                "type": min(by_pred[RDF_TYPE][i]) if i in by_pred[RDF_TYPE] else None,
                "name": min(by_pred[P_NAME][i]) if i in by_pred[P_NAME] else None,
                "age": min(by_pred[P_AGE][i]) if i in by_pred[P_AGE] else None,
            }
        self.out: dict[tuple[str, str], set[str]] = defaultdict(set)
        self.inc: dict[tuple[str, str], set[str]] = defaultdict(set)
        for s, p, o in self.edges:
            self.out[(s, p)].add(o)
            self.inc[(o, p)].add(s)

    # -- full-text anchor ------------------------------------------------
    def anchor(self, cls: str, text: str):
        """(id, name, score) of the top-1 entity, or None."""
        q = tokens(text)
        best = None
        for i, n in self.nodes.items():
            if n["type"] != cls or n["name"] is None:
                continue
            score = len(tokens(n["name"]) & q)
            if score == 0:
                continue
            key = (-score, n["name"], i)
            if best is None or key < best[0]:
                best = (key, (i, n["name"], score))
        return None if best is None else best[1]

    # -- the five Cypher shapes -------------------------------------------
    def shape(self, shape: str, provider_q: str | None, location_q: str | None) -> list[tuple]:
        nodes = self.nodes
        if shape in ("shape1", "shape2"):
            a = self.anchor(CLS_PROVIDER, provider_q)
            if a is None:
                return []
            aid, aname, score = a
            if shape == "shape1":
                rows = [(p, nodes[p]["name"], aname, score) for p in self.out[(aid, P_TREATS)]]
                rows.sort(key=lambda r: (r[1], r[0]))
            else:
                rows = [(s, nodes[s]["name"], aname, score) for s in self.out[(aid, P_SPECIALIZES_IN)]]
                rows.sort(key=lambda r: (r[1], r[0]))
            return rows[: LIMITS[shape]]
        if shape == "shape3":
            a = self.anchor(CLS_LOCATION, location_q)
            if a is None:
                return []
            lid, lname, _score = a
            rows = sorted(
                {(p, nodes[p]["name"], lname) for p in self.inc[(lid, P_LOCATED_AT)]},
                key=lambda r: (r[1], r[0]),
            )
            return rows[: LIMITS[shape]]
        # shapes 4 and 5: provider anchor LOCATED_AT location anchor
        a = self.anchor(CLS_PROVIDER, provider_q)
        b = self.anchor(CLS_LOCATION, location_q)
        if a is None or b is None or b[0] not in self.out[(a[0], P_LOCATED_AT)]:
            return []
        aid, aname, score = a
        patients = self.out[(aid, P_TREATS)]
        if shape == "shape4":
            rows = [(p, nodes[p]["name"], aname, b[1], score) for p in patients]
            rows.sort(key=lambda r: (r[1], r[0]))
            return rows[: LIMITS[shape]]
        if not patients:
            return []
        ages = [float(nodes[p]["age"]) for p in patients
                if nodes[p]["age"] is not None and _NUM.match(nodes[p]["age"])]
        avg = round_half_up(sum(ages) / len(ages)) if ages else None
        return [(aname, b[1], len(patients), avg)]

    # -- the three SPARQL goldens ----------------------------------------
    def sparql(self, name: str, arg) -> list[tuple]:
        bp = self.by_pred
        if name == "q1":
            prov = BASE + arg
            return sorted(
                (nm, c)
                for p in bp[P_TREATS].get(prov, [])
                for nm in bp[P_NAME].get(p, [])
                for c in bp[P_CONDITION].get(p, [])
            )
        if name == "q2":
            loc = BASE + arg
            return sorted(
                (d, nm)
                for d, objs in bp[P_LOCATED_AT].items() if loc in objs
                for spec in bp[P_SPECIALIZES_IN].get(d, [])
                for nm in bp[P_NAME].get(spec, [])
            )
        min_age, cond = arg
        return sorted(
            (nm, age, c)
            for p, types in bp[RDF_TYPE].items() if CLS_PATIENT in types
            for nm in bp[P_NAME].get(p, [])
            for age in bp[P_AGE].get(p, [])
            for c in bp[P_CONDITION].get(p, [])
            if _INT.match(age) and int(age) >= min_age and c.lower() == cond.lower()
        )

    def answer(self, ask: dict) -> list[tuple]:
        """Expected rows of an ask, in the order the engine returns them
        (SPARQL answers are bags, so both sides are sorted)."""
        if ask["kind"] == "sparql":
            return self.sparql(ask["shape"], ask["arg"])
        return self.shape(ask["shape"], ask["provider_q"], ask["location_q"])


# -- batch answers --------------------------------------------------------
_BATCH_COLS = {
    "shape1": ("patient_id", "patient_name", "matched_provider", "provider_score"),
    "shape2": ("specialization_id", "specialization", "matched_provider", "provider_score"),
    "shape3": ("provider_id", "provider_name", "matched_location"),
    "shape4": ("patient_id", "patient_name", "matched_provider", "matched_location", "provider_score"),
    "shape5": ("matched_provider", "matched_location", "total_patients", "avg_age"),
}


def batch_expected(kg: GoldenKG, asks: list[dict]) -> dict[str, list[str]]:
    """question -> sorted canonical JSON of each answer row, the form
    ``nl_batch.execute_routed`` returns (null fields are omitted, as
    ``to_json`` omits them)."""
    out: dict[str, list[str]] = {}
    for a in asks:
        cols = _BATCH_COLS[a["shape"]]
        out[a["question"]] = sorted(
            canon_json({c: v for c, v in zip(cols, r) if v is not None})
            for r in kg.answer(a)
        )
    return out


def canon_json(d: dict) -> str:
    return json.dumps(d, sort_keys=True)


# -- checks ---------------------------------------------------------------
def check_triples(produced: list[tuple], expected: set[tuple]) -> list[str]:
    """Triple set equality (P = R = 1.0) and no duplicate rows."""
    errs = []
    got = set(produced)
    if len(got) != len(produced):
        errs.append(f"triples: {len(produced) - len(got)} duplicate rows")
    inter = len(got & expected)
    p = inter / len(got) if got else 0.0
    r = inter / len(expected) if expected else 0.0
    if (p, r) != (1.0, 1.0):
        errs.append(f"triples: P={p:.6f} R={r:.6f} ({len(got)} produced, {len(expected)} expected)")
    return errs


def check_graph(node_ids: list[str], edges: list[tuple], kg: GoldenKG) -> list[str]:
    """Every edge endpoint is a node; edges equal the distinct
    object-property triples of the golden set; no duplicates."""
    errs = []
    ids = set(node_ids)
    if len(ids) != len(node_ids):
        errs.append("graph: duplicate node ids")
    es = set(edges)
    if len(es) != len(edges):
        errs.append("graph: duplicate edges")
    dangling = sum(1 for s, _p, o in es if s not in ids or o not in ids)
    if dangling:
        errs.append(f"graph: {dangling} edges with an endpoint that is not a node")
    if es != kg.edges:
        errs.append(
            f"graph: edges differ from golden ({len(es - kg.edges)} extra, "
            f"{len(kg.edges - es)} missing)"
        )
    return errs


def check_answer(ask: dict, got: list[tuple], kg: GoldenKG) -> list[str]:
    want = kg.answer(ask)
    if ask["kind"] == "sparql":
        got = sorted(got)
    if got != want:
        return [f"answer differs for {ask['label']}: got {got[:3]}... ({len(got)} rows), "
                f"want {want[:3]}... ({len(want)} rows)"]
    return []


def check_batch(got: dict[str, list[str]], want: dict[str, list[str]]) -> list[str]:
    bad = [q for q in want if sorted(got.get(q, [])) != want[q]]
    extra = [q for q in got if q not in want]
    errs = []
    if bad:
        errs.append(f"batch: {len(bad)} of {len(want)} questions answered wrongly, e.g. {bad[0]!r}")
    if extra:
        errs.append(f"batch: {len(extra)} answers to questions never asked")
    return errs


def self_check(kg: GoldenKG, asks: list[dict]) -> None:
    """Feed the checker one corrupted triple and one corrupted answer;
    raise unless it rejects both (and accepts the uncorrupted ones)."""
    triples = sorted(kg.triples)
    if check_triples(triples, kg.triples):
        raise AssertionError("checker rejects the golden triples themselves")
    s, p, o, kind, dt, lang = triples[0]
    bad_triples = [(s, p, o + "~corrupt", kind, dt, lang)] + triples[1:]
    if not check_triples(bad_triples, kg.triples):
        raise AssertionError("checker accepted a corrupted triple")
    ask = next(a for a in asks if kg.answer(a))
    good = kg.answer(ask)
    if check_answer(ask, list(good), kg):
        raise AssertionError("checker rejects a correct answer")
    row = list(good[0])
    row[-1] = (row[-1] or 0) + 1 if isinstance(row[-1], (int, float)) else f"{row[-1]}~corrupt"
    if not check_answer(ask, [tuple(row)] + list(good[1:]), kg):
        raise AssertionError("checker accepted a corrupted answer")
