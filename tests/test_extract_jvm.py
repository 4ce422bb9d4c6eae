"""The all-Catalyst stage-1 extractor (pipeline/extract_jvm.py) must be
byte-identical to the frozen Python spec applied page by page on the
driver: normalization output per url, and the full fused facts
row-multiset — on the generated corpus AND on adversarial inputs (unicode
word chars, NUL bytes, chained relations, capitalized phrase words,
mid-word mention starts)."""

import pandas as pd
import pytest

from kgist_spark.pipeline import spec
from kgist_spark.pipeline.extract import EXTRACT_LANGS
from tests.conftest import plan_of

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# each entry names the trap it sets for a regex-compiled extractor
ADVERSARIAL = [
    "Alice Smith works for Acme Corp. Acme Corp is located in Paris.",
    "Alice Smith works for Acme Corp is located in Paris",      # chained, shared mention
    "Big Acme Corp works for Tiny Labs",                        # 3-token org subject
    "xAcme Corp works for Paris",                               # mid-word mention start
    "9Acme Corp works for Paris",                               # digit is a word char
    "_Acme Corp works for Paris",                               # underscore is a word char
    "ÉAcme Corp works for Paris",                          # unicode letter is a word char
    "Ärne Corp works for Paris",                           # unicode cap can't start a mention
    "The Big Unknown Thing works for Paris",                    # unclassified subject
    "Alice Smith works for The Big Unknown Thing is located in Paris",
    "Alice Smith works for the Acme Corp",                      # phrase + extra word
    "Alice Smith  works for Acme Corp",                         # double space pre-normalize
    "Alice Smith works\tfor Acme Corp",                         # tab inside phrase
    "Alice Smith works for\nAcme Corp",                         # newline inside phrase
    "London is located in Paris",
    "Corp works for Paris",                                     # bare suffix token
    "Paris Paris works for Acme Corp",                          # two places = person
    "Alice Smith Works For Acme Corp",                          # capitalized phrase words
    "A works for B",                                            # single-letter capitals
    "Al works for Bo Corp",
    "Alice Smith moved to Oslo. Bob Jones moved to Oslo",
    "Alice Smith is the CEO of Acme Corp",
    "",
    "no caps at all",
    "Paris",
    "Acme Corp\r\nworks for Paris",                             # CRLF inside phrase
    "Tabs\t\there   and\r\nlines\n\n\n\nmany",
    "trailing spaces   \nnext line\t\n",
    "Alice Smith works for Acme Corp partnered with Beta Labs acquired Gamma Inc",
    "Zeta Systems founded Eta Group",
    "Mid sentence. Alice Smith works for. Acme Corp",
    "a\x00Alice Smith works for Acme Corp",                     # NUL byte in text
    "Alice Smith\x00 works for Acme Corp",                      # NUL inside would-be phrase
    "X\x00Alice Smith works for Acme Corp",
]


def _adv_pages(spark):
    rows = [(f"u{i}", None, None, t, "en") for i, t in enumerate(ADVERSARIAL)]
    rows.append(("u_skip", None, None, "Alice Smith works for Acme Corp", "de"))
    return spark.createDataFrame(rows, PAGES_SCHEMA)


FACTS_SCHEMA = (
    "kind string, url string, subj string, pred string, obj string, "
    "node string, label string, pos int"
)


def _spec_facts(spark, pages):
    """The tagged fact rows ``extract_facts_jvm`` must emit, from the spec
    applied to each collected page: a ``kind='l'`` row per label of every
    mention, then a ``kind='t'`` row per relation."""
    rows = []
    for page in pages.where(pages.lang.isin(*EXTRACT_LANGS)).select("url", "text").collect():
        url, norm = page["url"], spec.normalize_text(page["text"])
        mentions = spec.find_mentions(norm)
        for m in mentions:
            node = spec.entity_id(m.surface, m.etype)
            for pos, label in enumerate(spec.entity_labels(m.surface, m.etype)):
                rows.append(("l", url, None, None, None, node, label, pos))
        for s, st, pred, o, ot, _, _ in spec.find_relations(norm, mentions):
            rows.append(("t", url, spec.entity_id(s, st), pred,
                         spec.entity_id(o, ot), None, None, None))
    return spark.createDataFrame(rows, FACTS_SCHEMA)


def _sorted(df):
    pdf = df.toPandas()
    cols = list(pdf.columns)
    return pdf.sort_values(cols, na_position="first").reset_index(drop=True).fillna("~")


@pytest.mark.spark
def test_normalize_byte_identity(spark):
    from kgist_spark.pipeline.extract_jvm import extracted_text_jvm

    got = {r["url"]: r["text"] for r in extracted_text_jvm(_adv_pages(spark)).collect()}
    assert "u_skip" not in got  # lang filter
    for i, t in enumerate(ADVERSARIAL):
        assert got[f"u{i}"] == spec.normalize_text(t), repr(t)


@pytest.mark.spark
def test_facts_equal_python_path_adversarial(spark):
    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm

    pages = _adv_pages(spark)
    a, b = _sorted(_spec_facts(spark, pages)), _sorted(extract_facts_jvm(pages))
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.spark
def test_facts_equal_python_path_corpus(spark):
    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm
    from kgist_spark.sources.webpages import World, generate_pages

    pages = generate_pages(spark, 3000, seed=11, world=World(11)).cache()
    a, b = _sorted(_spec_facts(spark, pages)), _sorted(extract_facts_jvm(pages))
    assert len(a) > 10_000
    pd.testing.assert_frame_equal(a, b)
    pages.unpersist()


@pytest.mark.spark
def test_jvm_plan_has_no_python_stage(spark):
    """The point of the fast path: stage 1 runs with no Python workers."""
    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm

    plan = extract_facts_jvm(_adv_pages(spark))._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas",
                   "MapInPandas", "PythonMapInArrow"):
        assert marker not in plan, marker


@pytest.mark.spark
def test_pipeline_uses_jvm_extractor_by_default(spark, tmp_path):
    """construct_kg extracts on the all-Catalyst path: no Python evaluation
    node anywhere in the executed plans of the KG it returns."""
    from kgist_spark.pipeline.run import construct_kg
    from kgist_spark.sources.webpages import World, generate_pages

    # the corpus generator is itself a mapInPandas: read the pages back
    # from parquet so only the pipeline's own nodes are in the plan
    path = str(tmp_path / "pages")
    generate_pages(spark, 200, seed=3, world=World(3)).write.parquet(path)
    pages = spark.read.parquet(path)
    for df in construct_kg(spark, pages, out_dir=None):
        plan = plan_of(df)
        for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
            assert marker not in plan, marker
        df.unpersist()
