import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from wiki_entity_linker_spark.session import get_spark

    s = get_spark("wiki-entity-linker-tests", cores=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus_dir(tmp_path_factory):
    from wiki_entity_linker_spark.fixtures.corpus import ensure_corpus

    root = tmp_path_factory.mktemp("er_fixtures")
    return ensure_corpus(str(root), "tiny")


@pytest.fixture(scope="session")
def sf0001():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf001():
    return os.path.join(TESTDATA, "sf0.01")
