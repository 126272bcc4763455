"""Output checks against a single-node reference.

The reference for triples is the pure-Python rules engine
(``rules.extract_mentions``) followed by the direct-link edge projection:
every dictionary entry carries a concept id, so each mention becomes the
triple ``(conv_id, has_<domain>, concept:<id>)``.  This is the
benchmark's own copy of that projection; it shares no code with the
Spark stages it checks beyond the extraction rules themselves.
"""

from __future__ import annotations

from kgnorm import rules

_EDGE = {
    "condition": "has_condition",
    "drug": "takes_drug",
    "measurement": "has_measurement",
    "procedure": "has_procedure",
    "observation": "has_observation",
    "device": "has_observation",
}


class CheckFailed(Exception):
    pass


def text_triples(text: str, automaton) -> set[tuple[str, str]]:
    """(pred, obj) pairs one turn text contributes."""
    out = set()
    for m in rules.extract_mentions(text, automaton):
        if not m.omop_concept_id or m.omop_concept_id <= 0:
            raise CheckFailed(f"mention {m.text!r} has no concept id")
        domain = (m.domain_hint or "observation").lower()
        out.add((_EDGE.get(domain, "has_observation"), f"concept:{m.omop_concept_id}"))
    return out


def reference_triples(turns, automaton) -> set[tuple[str, str, str]]:
    """``turns``: iterable of (conv_id, text) → {(subj, pred, obj)}."""
    return {(c, p, o) for c, text in turns for p, o in text_triples(text, automaton)}


def expected_triple_count(conv_templates: dict[str, set[int]],
                          template_triples: list[set[tuple[str, str]]]) -> int:
    """Triples the generator implies: per conversation, the union of its
    turns' template triple sets."""
    return sum(len(set().union(*(template_triples[t] for t in ts)))
               for ts in conv_templates.values())


def same(what: str, got, want) -> None:
    if got != want:
        if isinstance(got, set) and isinstance(want, set):
            raise CheckFailed(f"{what}: {len(want - got)} missing, {len(got - want)} extra, "
                              f"e.g. missing {sorted(want - got)[:2]} extra {sorted(got - want)[:2]}")
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")
