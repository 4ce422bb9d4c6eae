"""Seeded page corpora for the pipeline benchmark, written as parquet without
Spark (pyarrow), so corpus cost is driver CPU only.

Two worlds:

* ``small`` -- the stock :class:`kgist_spark.sources.webpages.World` and its
  ``render_page``: 320 entities, far below canonicalization's 8,192-entity
  driver-local gate.
* ``large`` -- a benchmark-built world with letter-only compositional names
  (the extractor's mention regex is ``[A-Z][a-z]+``, so digits would be
  dropped), a flat popularity curve so the tail reaches the KG, and person
  alias variants with known ground truth.

Every page also yields its ground-truth triples (entity ids as
``spec.entity_id`` makes them), which the correctness gates compare against.
"""

from __future__ import annotations

import datetime as _dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kgist_spark.pipeline import spec
from kgist_spark.sources import webpages

_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"
_PHRASE = {pred: phrase for phrase, pred in spec.RELATION_PHRASES.items()}
_RESERVED = set(spec.ORG_SUFFIXES) | set(spec.PLACES)


def _tokens(rng: np.random.RandomState, n: int, syllables: int) -> list:
    """``n`` distinct capitalized consonant-vowel tokens (letters only)."""
    out, seen = [], set()
    while len(out) < n:
        c = rng.randint(len(_CONS), size=(2 * n, syllables))
        v = rng.randint(len(_VOWS), size=(2 * n, syllables))
        for row_c, row_v in zip(c, v):
            t = "".join(_CONS[a] + _VOWS[b] for a, b in zip(row_c, row_v))
            t = t[0].upper() + t[1:]
            if t not in seen and t not in _RESERVED:
                seen.add(t)
                out.append(t)
                if len(out) == n:
                    break
    return out


#: share of persons with an alias variant, and the chance a mention of such a
#: person renders as the variant
ALIAS_FRAC, ALIAS_RATE = 0.05, 0.5
#: Zipf exponent of subject popularity: flat, so the tail reaches the KG
ZIPF_S = 0.3
#: seed of the large world's graph shape and page stream; ``--seed`` draws
#: every name, so runs with different seeds see isomorphic KGs under
#: different strings (different hashes, partitions, LSH buckets and sort
#: orders) and run-to-run spread measures the system, not the draw of a
#: differently shaped graph
SHAPE_SEED = 20200420


class LargeWorld:
    """``n_subjects`` persons and orgs (3:1), 40 places from ``spec.PLACES``.

    ``aliases`` maps a person surface to its variant (the last name with one
    letter appended): the variant's entity id (about 22 characters) extends
    the base id by one trigram, so the pair's trigram Jaccard is about 0.95,
    well above the canonicalizer's 0.70 threshold.  At that Jaccard the
    canonicalizer's 8-band x 4-row MinHash LSH misses a pair with
    probability (1 - 0.95**4)**8, about 1e-6.  Mentions of an aliased person
    render as the variant with probability ``ALIAS_RATE``.
    """

    def __init__(self, seed: int, n_subjects: int):
        name_rng = np.random.RandomState(seed)
        rng = np.random.RandomState(SHAPE_SEED)
        n_persons = 3 * n_subjects // 4
        n_orgs = n_subjects - n_persons
        firsts = _tokens(name_rng, max(50, n_persons // 20), 3)
        lasts = _tokens(name_rng, n_persons, 4)
        self.persons = [
            (f"{firsts[rng.randint(len(firsts))]} {last}", "person") for last in lasts
        ]
        cores = _tokens(name_rng, n_orgs, 3)
        self.orgs = [
            (f"{core} {spec.ORG_SUFFIXES[rng.randint(len(spec.ORG_SUFFIXES))]}", "org")
            for core in cores
        ]
        places = [(p, "place") for p in spec.PLACES]
        self.facts: dict = {}

        def add(s, p, o):
            self.facts.setdefault(s, []).append((p, o))

        P, O = len(self.persons), len(self.orgs)
        for org in self.orgs:
            add(org, "located_in", places[rng.randint(len(places))])
            add(self.persons[rng.randint(P)], "ceo_of", org)
            if rng.rand() < 0.25:
                other = self.orgs[rng.randint(O)]
                if other != org:
                    add(org, "acquired", other)
            if rng.rand() < 0.25:
                other = self.orgs[rng.randint(O)]
                if other != org:
                    add(org, "partnered_with", other)
        for person in self.persons:
            add(person, "born_in", places[rng.randint(len(places))])
            if rng.rand() < 0.85:
                add(person, "works_for", self.orgs[rng.randint(O)])
            if rng.rand() < 0.2:
                add(person, "moved_to", places[rng.randint(len(places))])
            if rng.rand() < 0.3:
                add(person, "founded", self.orgs[rng.randint(O)])

        names = {n for n, _ in self.persons}
        self.aliases = {}
        for i in rng.permutation(P)[: int(ALIAS_FRAC * P)]:
            name = self.persons[i][0]
            variant = name + _VOWS[name_rng.randint(len(_VOWS))]
            if variant not in names:
                self.aliases[name] = variant
        self.subjects = self.persons + self.orgs
        w = 1.0 / np.arange(1, len(self.subjects) + 1) ** ZIPF_S
        self.cum = np.cumsum(w / w.sum())


def _render_large(world: LargeWorld, rng: random.Random) -> dict:
    """The next page of the large world from the corpus stream ``rng``; the
    same page structure as ``webpages.render_page`` with O(log subjects)
    subject sampling."""
    if rng.random() < 0.05:
        body = " ".join(rng.choice(webpages.DE_SENTENCES) for _ in range(rng.randint(2, 4)))
        return {"lang": "de", "text": body, "truth": []}
    subj_i = min(int(np.searchsorted(world.cum, rng.random())), len(world.subjects) - 1)
    mentioned = [world.subjects[subj_i]]
    sentences, truth = [], []
    for _ in range(rng.randint(2, 6)):
        ent = rng.choice(mentioned)
        facts = world.facts.get(ent, [])
        if not facts:
            continue
        pred, obj = rng.choice(facts)

        def surf(e):
            if e[0] in world.aliases and rng.random() < ALIAS_RATE:
                return world.aliases[e[0]]
            return e[0]

        s, o = surf(ent), surf(obj)
        sentences.append(f"{s}{_PHRASE[pred]}{o}.")
        truth.append((spec.entity_id(s, ent[1]), pred, spec.entity_id(o, obj[1])))
        if obj[1] != "place" and len(mentioned) < 4:
            mentioned.append(obj)
    for _ in range(rng.randint(1, 4)):
        sentences.insert(
            rng.randint(0, len(sentences)), rng.choice(webpages.NOISE_SENTENCES)
        )
    return {"lang": "en", "text": " ".join(sentences), "truth": truth}


class Corpus:
    """Pages ``[0, n_docs)`` of one world and seed, plus their ground truth."""

    def __init__(self, kind: str, seed: int, n_docs: int, n_subjects: int = 0):
        self.kind, self.seed, self.n_docs = kind, seed, n_docs
        if kind == "small":
            self.world = webpages.World(seed)
        else:
            self.world = LargeWorld(seed, n_subjects)
        if kind == "small":
            self.aliases = {}  # the stock world has aliases only when asked
            self.pages = []
            for i in range(n_docs):
                p = webpages.render_page(self.world, i, seed)
                self.pages.append({"lang": p["lang"], "text": p["text"], "truth": p["truth"]})
        else:
            self.aliases = {spec.entity_id(a, "person"): spec.entity_id(b, "person")
                            for a, b in self.world.aliases.items()}
            rng = random.Random(SHAPE_SEED)
            self.pages = [_render_large(self.world, rng) for _ in range(n_docs)]

    def truth_triples(self, lo: int, hi: int) -> set:
        """Ground-truth triples of pages ``[lo, hi)``."""
        return {t for p in self.pages[lo:hi] for t in p["truth"]}

    def truth_kg(self) -> tuple:
        """The ground-truth KG of every page as the constructor's rows:
        triples ``(subj, pred, obj, url)`` (url of the first page stating
        the fact) and labels ``(node, label, pos)``."""
        first_url = {}
        for i, page in enumerate(self.pages):
            for t in page["truth"]:
                first_url.setdefault(t, f"https://example.org/page/{i}")
        labels = set()
        for s, _, o in first_url:
            for node in (s, o):
                etype, surface = node.split(":", 1)
                labels.add((node, etype, 0))
                if etype == "org":
                    labels.add((node, "org_" + surface.rsplit("_", 1)[-1], 1))
        triples = sorted((s, p, o, u) for (s, p, o), u in first_url.items())
        return triples, sorted(labels)

    def write(self, path: str, lo: int, hi: int):
        """Pages ``[lo, hi)`` as one parquet file in the pipeline's input
        schema ``(url, warc_ts, html, text, lang)``."""
        ids = range(lo, hi)
        texts = [self.pages[i]["text"] for i in ids]
        table = pa.table({
            "url": [f"https://example.org/page/{i}" for i in ids],
            "warc_ts": pa.array(
                [webpages.EPOCH + _dt.timedelta(seconds=i % 31_536_000) for i in ids],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": [
                ("<html><head><title>page %d</title></head><body><p>%s</p></body></html>"
                 % (i, t)).encode("utf-8")
                for i, t in zip(ids, texts)
            ],
            "text": texts,
            "lang": [self.pages[i]["lang"] for i in ids],
        })
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, f"part-{lo:08d}.parquet"))
