import os
import sys
import tempfile
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

# fixture graphs live inline in tests/fixture_data.py and are rendered to a
# temp directory once per test run (loaders want file paths)
_FIXTURE_TMP = Path(tempfile.mkdtemp(prefix="kgist_fixtures_"))
FIXTURES = _FIXTURE_TMP

# the reference NELL dataset (read-only, optional: tests that need it skip
# when absent so the repo remains standalone)
NELL_ZIP = Path("/root/reference/data/nell.zip")


def _render_fixture_files():
    from tests.fixture_data import GRAPHS

    for name, g in GRAPHS.items():
        (_FIXTURE_TMP / f"{name}.txt").write_text("\n".join(g["edges"]) + "\n")
        (_FIXTURE_TMP / f"{name}_labels.txt").write_text("\n".join(g["labels"]) + "\n")


_render_fixture_files()


def fixture_kg(name: str, idify: bool = False):
    from kgist_spark.oracle.kg import LocalKG

    return LocalKG.from_files(
        str(FIXTURES / f"{name}.txt"), str(FIXTURES / f"{name}_labels.txt"), idify=idify
    )


def plan_of(df) -> str:
    """The executed physical plan of ``df`` as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def python_rdds(df) -> list:
    """Lineages of the Python-fed ``LogicalRDD`` leaves of ``df``'s optimized
    plan.  A list-fed ``createDataFrame`` is one (its lineage holds a
    ``PythonRDD``); a ``localCheckpoint`` also prints as ``LogicalRDD``, but
    its lineage is a JVM-side checkpoint, and an Arrow table is a
    ``LocalRelation``."""
    found, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "LogicalRDD":
            lineage = node.rdd().toDebugString()
            if "PythonRDD[" in lineage:
                found.append(lineage)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return found


@pytest.fixture(scope="session")
def spark():
    from kgist_spark.session import get_spark

    spark = get_spark(app_name="kgist-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    yield spark
