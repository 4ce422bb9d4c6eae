"""Deterministic synthetic Common-Crawl-style web-page corpus.

Generates the pipeline's input table ``(url, warc_ts, html, text, lang)``
(the graft input contract) at any scale, distributed via ``mapInPandas`` with
a per-document seed — output is identical regardless of partitioning or
parallelism, which is what makes the two-cluster-size scaling benchmark an
apples-to-apples comparison.

The page text is realized from the same vocabulary and relation phrases as
the frozen extraction spec (:mod:`kgist_spark.pipeline.spec`), with known
ground-truth triples per page, so extraction precision/recall is measurable
exactly.  Entity popularity is zipfian — head entities appear in a large
fraction of pages, reproducing the high-degree skew the north rule requires
the engine to handle (AQE skew join + the capped LSH buckets of
:func:`kgist_spark.operators.minhash.candidate_pairs`).
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterator, List

import numpy as np
import pandas as pd

from kgist_spark.pipeline import spec

FIRST_NAMES = (
    "Alice", "Brian", "Clara", "David", "Elena", "Felix", "Grace", "Henry",
    "Irene", "Jonas", "Karin", "Lukas", "Marta", "Nils", "Olga", "Peter",
    "Quinn", "Rosa", "Simon", "Tessa", "Ulrik", "Vera", "Walter", "Xenia",
    "Yann", "Zelda", "Anders", "Bodil", "Carsten", "Dagmar",
)
LAST_NAMES = (
    "Smith", "Jensen", "Garcia", "Weber", "Rossi", "Novak", "Berg", "Kovacs",
    "Larsen", "Moreau", "Schmidt", "Costa", "Vidal", "Horvat", "Lund",
    "Mueller", "Santos", "Fischer", "Keller", "Andersen", "Dubois", "Marini",
    "Nielsen", "Olsen", "Petrov", "Ricci", "Svensson", "Tanaka", "Ulrich",
    "Varga", "Wagner", "Ybarra", "Zimmer", "Bauer", "Conti", "Dietrich",
    "Eriksen", "Fontana", "Gruber", "Haas",
)
ORG_CORES = (
    "Acme", "Zenith", "Orion", "Vertex", "Nimbus", "Quantum", "Stellar",
    "Apex", "Borealis", "Cascade", "Delta", "Ember", "Falcon", "Granite",
    "Horizon", "Ion", "Jade", "Krypton", "Lumen", "Meridian", "Nova",
    "Obsidian", "Pinnacle", "Quasar", "Radiant", "Summit", "Titan", "Umbra",
    "Vortex", "Wavelength", "Xenon", "Yonder", "Zephyr", "Atlas", "Beacon",
    "Cobalt", "Drift", "Echo", "Flux", "Gossamer",
)

NOISE_SENTENCES = (
    "the quarterly report was filed on time.",
    "analysts expect steady growth next year.",
    "shares rose modestly in early trading.",
    "the announcement drew little attention.",
    "a spokesperson declined to comment further.",
    "markets remained calm through the afternoon.",
    "the board will meet again next quarter.",
    "Zyqtrex posted unremarkable results.",  # decoy: unclassifiable mention
    "Veldt Harmon Group Trio convened briefly.",  # decoy: 4-token sequence
)

DE_SENTENCES = (
    "der bericht wurde fristgerecht eingereicht.",
    "die aktie blieb im handel stabil.",
    "weitere angaben wurden nicht gemacht.",
    "der vorstand tagt im kommenden quartal erneut.",
)

_TEMPLATES = {
    "ceo_of": "{s} is the CEO of {o}.",
    "born_in": "{s} was born in {o}.",
    "works_for": "{s} works for {o}.",
    "founded": "{s} founded {o}.",
    "located_in": "{s} is located in {o}.",
    "acquired": "{s} acquired {o}.",
    "partnered_with": "{s} partnered with {o}.",
    "moved_to": "{s} moved to {o}.",
}

EPOCH = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)


def _trigram_jaccard(a: str, b: str) -> float:
    ta = {a[i:i + 3] for i in range(len(a) - 2)}
    tb = {b[i:i + 3] for i in range(len(b) - 2)}
    return len(ta & tb) / len(ta | tb) if ta | tb else 0.0


class World:
    """The deterministic entity/fact universe behind the corpus.

    ``alias_rate > 0`` gives each eligible org a near-duplicate surface
    (same core, different suffix — kept only when the two entity ids'
    trigram jaccard clears the canonicalizer's 0.70 threshold with margin,
    and the variant doesn't collide with a real org), and mentions render
    as the alias with that probability.  The default 0.0 leaves the RNG
    stream and every published golden untouched; with aliasing on, the
    canonicalization stage has REAL merge work and ``world.aliases`` is its
    ground truth.
    """

    def __init__(self, seed: int = 42, n_persons: int = 200, n_orgs: int = 80,
                 alias_rate: float = 0.0):
        # names are drawn until distinct, so a size past the name space
        # would never finish drawing
        person_room = len(FIRST_NAMES) * len(LAST_NAMES)
        org_room = len(ORG_CORES) * len(spec.ORG_SUFFIXES)
        if alias_rate > 0:
            org_room *= len(ORG_CORES)
        if n_persons > person_room or n_orgs > org_room:
            raise ValueError(
                f"World holds at most {person_room} persons and {org_room} "
                f"orgs (alias_rate={alias_rate}); asked for {n_persons} and "
                f"{n_orgs}")
        rng = np.random.RandomState(seed)
        self.persons: List[tuple] = []
        seen = set()
        while len(self.persons) < n_persons:
            name = f"{FIRST_NAMES[rng.randint(len(FIRST_NAMES))]} {LAST_NAMES[rng.randint(len(LAST_NAMES))]}"
            if name not in seen:
                seen.add(name)
                self.persons.append((name, "person"))
        self.orgs: List[tuple] = []
        seen = set()
        while len(self.orgs) < n_orgs:
            core = ORG_CORES[rng.randint(len(ORG_CORES))]
            if alias_rate > 0:
                # two-word cores: long enough that a suffix-swapped alias
                # clears the canonicalizer's trigram-jaccard threshold
                core = f"{core} {ORG_CORES[rng.randint(len(ORG_CORES))]}"
            name = f"{core} {spec.ORG_SUFFIXES[rng.randint(len(spec.ORG_SUFFIXES))]}"
            if name not in seen:
                seen.add(name)
                self.orgs.append((name, "org"))

        places = [(p, "place") for p in spec.PLACES]
        # ground-truth facts: entity -> [(pred, (obj_surface, obj_etype))]
        self.facts = {}

        def add(subj, pred, obj):
            self.facts.setdefault(subj, []).append((pred, obj))

        for org in self.orgs:
            add(org, "located_in", places[rng.randint(len(places))])
            ceo = self.persons[rng.randint(len(self.persons))]
            add(ceo, "ceo_of", org)
            if rng.rand() < 0.25:
                other = self.orgs[rng.randint(len(self.orgs))]
                if other != org:
                    add(org, "acquired", other)
            if rng.rand() < 0.25:
                other = self.orgs[rng.randint(len(self.orgs))]
                if other != org:
                    add(org, "partnered_with", other)
        for person in self.persons:
            add(person, "born_in", places[rng.randint(len(places))])
            if rng.rand() < 0.85:
                add(person, "works_for", self.orgs[rng.randint(len(self.orgs))])
            if rng.rand() < 0.2:
                add(person, "moved_to", places[rng.randint(len(places))])
            if rng.rand() < 0.3:
                add(person, "founded", self.orgs[rng.randint(len(self.orgs))])

        self.alias_rate = alias_rate
        self.aliases = {}
        if alias_rate > 0:
            org_names = {name for name, _ in self.orgs}
            for name, _ in self.orgs:
                core = name.rsplit(" ", 1)[0]
                for alt in spec.ORG_SUFFIXES:
                    variant = f"{core} {alt}"
                    if variant == name or variant in org_names:
                        continue
                    if _trigram_jaccard(
                        spec.entity_id(name, "org"), spec.entity_id(variant, "org")
                    ) >= 0.72:
                        self.aliases[name] = variant
                        break

        self.subjects = self.persons + self.orgs
        # zipfian popularity over subjects (head skew)
        ranks = np.arange(1, len(self.subjects) + 1, dtype=np.float64)
        weights = 1.0 / ranks
        self.popularity = weights / weights.sum()


def render_page(world: World, doc_id: int, seed: int = 42) -> dict:
    """One page, a pure function of (world, doc_id)."""
    rng = np.random.RandomState((seed * 1_000_003 + doc_id) % (2**31))
    lang = "de" if rng.rand() < 0.05 else "en"
    url = f"https://example.org/page/{doc_id}"
    ts = EPOCH + _dt.timedelta(seconds=int(doc_id) % 31_536_000)

    if lang == "de":
        n = rng.randint(2, 5)
        body = " ".join(DE_SENTENCES[rng.randint(len(DE_SENTENCES))] for _ in range(n))
        truth: List[tuple] = []
    else:
        subject = world.subjects[rng.choice(len(world.subjects), p=world.popularity)]
        sentences, truth = [], []
        mentioned = [subject]
        n_facts = rng.randint(2, 7)
        for _ in range(n_facts):
            ent = mentioned[rng.randint(len(mentioned))]
            facts = world.facts.get(ent, [])
            if not facts:
                continue
            pred, obj = facts[rng.randint(len(facts))]

            def surf(e):
                # alias_rate == 0 must not touch rng (stream-compatible)
                if (
                    e[1] == "org" and world.alias_rate
                    and e[0] in world.aliases
                    and rng.rand() < world.alias_rate
                ):
                    return world.aliases[e[0]]
                return e[0]

            s_surf, o_surf = surf(ent), surf(obj)
            sentences.append(_TEMPLATES[pred].format(s=s_surf, o=o_surf))
            truth.append(
                (spec.entity_id(s_surf, ent[1]), pred, spec.entity_id(o_surf, obj[1]))
            )
            if obj[1] != "place" and len(mentioned) < 4:
                mentioned.append(obj)
        n_noise = rng.randint(1, 5)
        for _ in range(n_noise):
            pos = rng.randint(len(sentences) + 1)
            sentences.insert(pos, NOISE_SENTENCES[rng.randint(len(NOISE_SENTENCES))])
        body = " ".join(sentences)

    html = (
        "<html><head><title>page %d</title></head><body><p>%s</p></body></html>"
        % (doc_id, body)
    ).encode("utf-8")
    return {
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": body,
        "lang": lang,
        "truth": sorted(set(truth)),
    }


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def generate_pages(spark, n_docs: int, seed: int = 42, world: World | None = None,
                   num_partitions: int | None = None):
    """Distributed corpus: ``mapInPandas`` over ``spark.range`` with per-doc
    seeding (partitioning-independent output)."""
    world = world or World(seed)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [render_page(world, int(i), seed) for i in pdf["id"]]
            for r in rows:
                r.pop("truth")
            yield pd.DataFrame(rows)

    rng = spark.range(n_docs, numPartitions=num_partitions)
    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)


def ground_truth(spark, n_docs: int, seed: int = 42, world: World | None = None):
    """The generator's own triples per url — the P/R reference."""
    world = world or World(seed)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                page = render_page(world, int(i), seed)
                for s, p, o in page["truth"]:
                    out.append({"url": page["url"], "subj": s, "pred": p, "obj": o})
            yield pd.DataFrame(out, columns=["url", "subj", "pred", "obj"])

    rng = spark.range(n_docs)
    return rng.mapInPandas(gen, schema="url string, subj string, pred string, obj string")
