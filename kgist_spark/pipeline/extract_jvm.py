"""Stage-1 extraction compiled to pure Catalyst expressions (the JVM fast
path) — the same output rows as the Python spec in
:mod:`kgist_spark.pipeline.spec`, with NO Python workers in the hot path.

Why this shape: a Python extractor, however vectorized, pays the
Python-worker fleet at 10^12-document scale (process pools, Arrow hops,
per-doc ``re`` calls, worker/JVM memory split).  The whole extraction
spec — normalization, maximal-capitalized-sequence mentions, exact-phrase
relations — is regular, so it compiles to one
``regexp_replace`` chain plus ONE ``regexp_extract_all`` scan running
inside whole-stage codegen.  The plan is Scan → Project(regex chain + one
corpus scan) → Generate → Project → Generate → Filter: one pass over the
corpus, no shuffle, no Python anywhere.

Semantics mapping (each equivalence is pinned by tests/test_extract_jvm.py
against the frozen Python oracle, including adversarial unicode/sentinel
inputs):

* Python ``\\b`` before ``[A-Z]`` → Java ``(?<![\\p{L}\\p{N}_])`` (Python's
  word boundary is unicode-aware; the explicit lookbehind reproduces it for
  a following ``[A-Z]``).
* Mention maximality: a non-overlapping leftmost-greedy scan of the mention
  regex yields exactly the maximal sequences ``finditer`` yields.
  Quantifiers are POSSESSIVE (``++``/``*+``): backtracking a maximal
  mention can never complete a match (after shortening, the next chars are
  ``" [A-Z]"`` and no relation phrase starts with a capitalized token), so
  possessive = identical semantics, faster failure.
* ONE scan finds mentions AND relations: the fused pattern consumes
  ``mention [+ relation-phrase]`` with the object only as a lookahead
  (``(?=[A-Z][a-z])``, equivalent to a full-mention lookahead since any
  ``[A-Z][a-z]`` position starts a valid mention).  Because the object is
  not consumed, THE NEXT MATCH IS THE OBJECT — so per element i of the
  match array, ``phrase(i) = the unique RELATION_PHRASES suffix`` (phrase
  elements end in a space, pure mentions end in ``[a-z]``, and no phrase is
  a suffix of another — unambiguous) and ``object(i) = mention-part of
  element i+1``.  Chained relations (object of one = subject of the next)
  fall out for free.
* The spec emits (a, b) only for ADJACENT classified mentions whose exact
  between-text is a relation phrase.  Unclassified subjects/objects are
  filtered after extraction — exactly the pairs the spec drops (any OTHER
  intervening maximal sequence makes the between-text unequal to a phrase).
* Sentence boundaries need no explicit split: ``.`` or ``\\n`` in the
  between-text already fails exact-phrase equality.

Physical-plan notes (the 100 TB shape): embarrassingly parallel, the scan
prunes to (url, text, lang) with the lang filter pushed down; every
expression is codegen'd — scalars (phrase/mention/etype/entity-id) are
flattened into their own Project stages BEFORE struct assembly so no
generated method approaches the JIT/64KB limits (a single wide CASE-of-
arrays variant measured 4× slower from codegen blowup); the per-row fact
array is exploded once and filtered.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgist_spark.pipeline import spec
from kgist_spark.pipeline.extract import EXTRACT_LANGS

# Python \b equivalent for a following [A-Z] (see module docstring)
_WORD_GUARD = r"(?<![\p{L}\p{N}_])"
_MENTION_BODY = r"[A-Z][a-z]++(?: [A-Z][a-z]++)*+"
_PHRASE_ALT = "|".join(re.escape(p) for p in spec.RELATION_PHRASES)
#: one-scan fused pattern: a maximal mention, optionally consuming the
#: relation phrase when a mention follows (the object stays unconsumed, so
#: it is the next match)
J_FUSED = _WORD_GUARD + _MENTION_BODY + f"(?:(?:{_PHRASE_ALT})(?=[A-Z][a-z]))?"

# Column builders, not module constants: F.lit needs an active SparkContext
# in classic mode, and this module must be importable before the session
# exists (spark-submit workers, the scaling bench's fresh subprocesses)
def _null_s() -> Column:
    return F.lit(None).cast("string")


def normalize_text_col(text: Column) -> Column:
    """``spec.normalize_text`` as a regexp_replace chain (same rule order;
    ``\\r\\n|\\r`` in one pass is equivalent to CRLF→LF then CR→LF)."""
    t = F.regexp_replace(text, F.lit(r"\r\n|\r"), F.lit("\n"))
    t = F.regexp_replace(t, F.lit(r"\t+"), F.lit(" "))
    t = F.regexp_replace(t, F.lit(r"[ \t]+(?=\n)"), F.lit(""))
    t = F.regexp_replace(t, F.lit(r"\n{3,}"), F.lit("\n\n"))
    t = F.regexp_replace(t, F.lit("  +"), F.lit(" "))
    return t


def extracted_text_jvm(pages: DataFrame) -> DataFrame:
    """``(url, text)``: ``spec.normalize_text`` of every page in
    ``EXTRACT_LANGS`` (the byte-identity surface)."""
    return (
        pages.where(F.col("lang").isin(*EXTRACT_LANGS))
        .select("url", normalize_text_col(F.col("text")).alias("text"))
    )


def _etype(surface: Column) -> Column:
    """``spec.classify`` — null for unclassified (and for null surfaces)."""
    toks = F.split(surface, " ")
    last = F.element_at(toks, -1)
    return (
        F.when(last.isin(*spec.ORG_SUFFIXES), F.lit("org"))
        .when((F.size(toks) == 1) & surface.isin(*spec.PLACES), F.lit("place"))
        .when(F.size(toks) == 2, F.lit("person"))
    )


def _entity_id(surface: Column, etype: Column) -> Column:
    return F.concat(etype, F.lit(":"), F.translate(F.lower(surface), " ", "_"))


def _pred_map() -> Column:
    return F.create_map(
        *[F.lit(x) for kv in spec.RELATION_PHRASES.items() for x in kv]
    )


def _phrase_of(col: Column) -> Column:
    """The RELATION_PHRASES suffix of a fused-match element, else null.
    Unambiguous: phrase-carrying elements end in the phrase's trailing
    space, pure mentions end in ``[a-z]``, and no phrase is a suffix of
    another phrase."""
    ph = _null_s()
    for p in spec.RELATION_PHRASES:
        ph = F.when(col.endswith(p), F.lit(p)).otherwise(ph)
    return ph


def _strip_phrase(col: Column, ph: Column) -> Column:
    return F.when(ph.isNull(), col).otherwise(
        F.substring(col, F.lit(1), F.length(col) - F.length(ph))
    )


def _fact_struct(kind, subj, pred, obj, node, label, pos) -> Column:
    return F.struct(
        kind.alias("kind"), subj.alias("subj"), pred.alias("pred"),
        obj.alias("obj"), node.alias("node"), label.alias("label"),
        pos.alias("pos"),
    )


def extract_facts_jvm(pages: DataFrame) -> DataFrame:
    """X1+X2 fused, all-JVM: one corpus pass emitting tagged rows
    ``(kind, url, subj, pred, obj, node, label, pos)`` — ``kind='l'``
    rows carry ``spec.entity_labels`` of every classified mention,
    ``kind='t'`` rows the ``spec.find_relations`` triples; the other
    kind's columns are null.  Row-multiset equality with the spec applied
    per page is asserted in tests."""
    base = extracted_text_jvm(pages).select(
        "url",
        F.regexp_extract_all("text", F.lit(J_FUSED), F.lit(0)).alias("a"),
    )
    # element i pairs with element i+1 (its relation object, when phrased)
    nxt = F.concat(
        F.slice(F.col("a"), 2, F.greatest(F.size("a") - F.lit(1), F.lit(0))),
        F.array(_null_s()),
    )
    flat = (
        base.select(
            "url", F.explode(F.arrays_zip(F.col("a").alias("sp"), nxt.alias("nx"))).alias("r")
        )
        .select("url", F.col("r.sp").alias("sp"), F.col("r.nx").alias("nx"))
    )
    # staged flat scalars: each Project small enough to stay codegen'd
    flat = flat.select("url", "sp", "nx", _phrase_of(F.col("sp")).alias("ph"))
    flat = flat.select(
        "url", "ph",
        _strip_phrase(F.col("sp"), F.col("ph")).alias("m"),
        F.when(
            F.col("ph").isNotNull(),
            _strip_phrase(F.col("nx"), _phrase_of(F.col("nx"))),
        ).alias("o"),
    )
    flat = flat.select(
        "url", "ph", "m", "o",
        _etype(F.col("m")).alias("em"), _etype(F.col("o")).alias("eo"),
    )
    both = F.col("em").isNotNull() & F.col("eo").isNotNull()
    flat = flat.select(
        "url",
        _entity_id(F.col("m"), F.col("em")).alias("node_id"),
        F.col("em").alias("lab0"),
        F.when(
            F.col("em") == "org",
            F.concat(F.lit("org_"), F.lower(F.element_at(F.split("m", " "), -1))),
        ).alias("lab1"),
        F.when(both, _entity_id(F.col("m"), F.col("em"))).alias("subj_id"),
        F.element_at(_pred_map(), F.col("ph")).alias("pred_id"),
        F.when(both, _entity_id(F.col("o"), F.col("eo"))).alias("obj_id"),
    )
    NI = F.lit(None).cast("int")
    facts = F.array(
        _fact_struct(F.lit("l"), _null_s(), _null_s(), _null_s(),
                     F.col("node_id"), F.col("lab0"), F.lit(0)),
        _fact_struct(F.lit("l"), _null_s(), _null_s(), _null_s(),
                     F.col("node_id"), F.col("lab1"), F.lit(1)),
        _fact_struct(F.lit("t"), F.col("subj_id"), F.col("pred_id"),
                     F.col("obj_id"), _null_s(), _null_s(), NI),
    )
    rows = flat.select("url", F.explode(facts).alias("f"))
    keep = (
        (F.col("f.kind") == "l") & F.col("f.label").isNotNull()
    ) | (
        (F.col("f.kind") == "t")
        & F.col("f.subj").isNotNull()
        & F.col("f.obj").isNotNull()
    )
    return rows.where(keep).select(
        F.col("f.kind").alias("kind"), "url",
        F.col("f.subj").alias("subj"), F.col("f.pred").alias("pred"),
        F.col("f.obj").alias("obj"), F.col("f.node").alias("node"),
        F.col("f.label").alias("label"), F.col("f.pos").alias("pos"),
    )
