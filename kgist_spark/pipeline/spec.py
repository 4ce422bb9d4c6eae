"""The frozen extraction specification (stage 1 of the KG-construction
pipeline) and its pure-Python oracle implementation.

The reference engine (GemsLab/KGist) consumes an already-built KG and ships
no extractor; the pipeline spec below is this project's own deterministic
design (driver contract ``BASELINE.json``: batched mention detection +
pattern-based relation extraction; byte-identical extracted text per url;
no per-row Python).  This module is the one Python statement of the rules,
and its oracle is the correctness reference for the distributed extractor,
the all-Catalyst :mod:`kgist_spark.pipeline.extract_jvm`; both are pure
functions of the page text, so output is reproducible bit-for-bit at any
parallelism.

Spec summary
============

1. **Normalization** (``normalize_text``): CRLF/CR → LF, tabs → single
   space, trailing whitespace stripped per line, runs of >1 blank line
   collapsed to one, runs of spaces collapsed to one.  Pure, idempotent.
2. **Mention detection** (``find_mentions``): maximal capitalized token
   sequences ``[A-Z][a-z]+( [A-Z][a-z]+)*`` classified as

   * ``org``    — sequence whose last token is in :data:`ORG_SUFFIXES`
   * ``place``  — single token in :data:`PLACES`
   * ``person`` — exactly two tokens, otherwise unclassified (dropped)
3. **Relation extraction** (``find_relations``): for each ordered mention
   pair within one sentence (split on ``.``), emit ``(subj, pred, obj)``
   when the exact text between them equals a phrase in
   :data:`RELATION_PHRASES`.
4. **Canonical surface ids** (``entity_id``): ``{etype}:{lowercased
   surface, spaces → _}`` — stage-2 canonicalization further merges
   near-duplicate surfaces.
5. **Labels**: every entity gets its etype as a label; orgs additionally get
   ``org_{suffix}`` — multi-label nodes exercise rule qualification
   downstream.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import List, Tuple

# ---------------------------------------------------------------------------
# vocabulary (fixed; the synthetic corpus generator draws from the same lists)
# ---------------------------------------------------------------------------

ORG_SUFFIXES = ("Corp", "Inc", "Labs", "Group", "Industries", "Systems")

PLACES = (
    "Paris", "London", "Berlin", "Tokyo", "Madrid", "Rome", "Vienna", "Oslo",
    "Dublin", "Lisbon", "Prague", "Warsaw", "Athens", "Helsinki", "Stockholm",
    "Copenhagen", "Amsterdam", "Brussels", "Zurich", "Geneva", "Munich",
    "Hamburg", "Lyon", "Milan", "Naples", "Porto", "Seville", "Krakow",
    "Bergen", "Gothenburg", "Tampere", "Aarhus", "Rotterdam", "Antwerp",
    "Basel", "Graz", "Cork", "Coimbra", "Brno", "Gdansk",
)

#: exact inter-mention phrases → predicate (longest-match not needed: phrases
#: are mutually exclusive as full strings)
RELATION_PHRASES = {
    " is the CEO of ": "ceo_of",
    " was born in ": "born_in",
    " works for ": "works_for",
    " founded ": "founded",
    " is located in ": "located_in",
    " acquired ": "acquired",
    " partnered with ": "partnered_with",
    " moved to ": "moved_to",
}

MENTION_RE = re.compile(r"\b[A-Z][a-z]+(?: [A-Z][a-z]+)*")

_PLACES_SET = frozenset(PLACES)
_SUFFIX_SET = frozenset(ORG_SUFFIXES)


# ---------------------------------------------------------------------------
# 1. normalization
# ---------------------------------------------------------------------------

_norm_tabs = re.compile(r"\t+")
_norm_trail = re.compile(r"[ \t]+(?=\n)")
_norm_blank = re.compile(r"\n{3,}")
_norm_spaces = re.compile(r"  +")


def normalize_text(text: str) -> str:
    """The frozen normalization — a pure function of the raw text (the
    byte-identical-per-url invariant is asserted on this output)."""
    t = text.replace("\r\n", "\n").replace("\r", "\n")
    t = _norm_tabs.sub(" ", t)
    t = _norm_trail.sub("", t)
    t = _norm_blank.sub("\n\n", t)
    t = _norm_spaces.sub(" ", t)
    return t


# ---------------------------------------------------------------------------
# 2./3. mention + relation oracle
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Mention:
    start: int
    end: int
    surface: str
    etype: str


def classify(surface: str) -> str | None:
    tokens = surface.split(" ")
    if tokens[-1] in _SUFFIX_SET:
        return "org"
    if len(tokens) == 1 and surface in _PLACES_SET:
        return "place"
    if len(tokens) == 2:
        return "person"
    return None


def find_mentions(text: str) -> List[Mention]:
    """All typed mentions in (already normalized) text, in document order."""
    out = []
    for m in MENTION_RE.finditer(text):
        etype = classify(m.group(0))
        if etype:
            out.append(Mention(m.start(), m.end(), m.group(0), etype))
    return out


def find_relations(text: str, mentions: List[Mention] | None = None) -> List[tuple]:
    """``(subj_surface, subj_etype, pred, obj_surface, obj_etype, start, end)``
    for every adjacent mention pair joined by an exact relation phrase inside
    one sentence."""
    if mentions is None:
        mentions = find_mentions(text)
    out = []
    for a, b in zip(mentions, mentions[1:]):
        between = text[a.end : b.start]
        if "." in between or "\n" in between:
            continue  # sentence boundary
        pred = RELATION_PHRASES.get(between)
        if pred:
            out.append((a.surface, a.etype, pred, b.surface, b.etype, a.start, b.end))
    return out


# ---------------------------------------------------------------------------
# 4./5. canonical ids + labels
# ---------------------------------------------------------------------------

def entity_id(surface: str, etype: str) -> str:
    return f"{etype}:{surface.lower().replace(' ', '_')}"


def entity_labels(surface: str, etype: str) -> Tuple[str, ...]:
    if etype == "org":
        return (etype, "org_" + surface.split(" ")[-1].lower())
    return (etype,)


def extract_page(text: str) -> dict:
    """Oracle extraction for one page: normalized text, mentions, triples,
    label assignments (the unit the distributed path must reproduce)."""
    norm = normalize_text(text)
    mentions = find_mentions(norm)
    relations = find_relations(norm, mentions)
    triples = [
        (entity_id(s, st), pred, entity_id(o, ot)) for s, st, pred, o, ot, _, _ in relations
    ]
    labels = {}
    for m in mentions:
        labels[entity_id(m.surface, m.etype)] = entity_labels(m.surface, m.etype)
    return {
        "text": norm,
        "mentions": mentions,
        "relations": relations,
        "triples": triples,
        "labels": labels,
    }
