import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tlgs_spark.corpus import generate_pandas, generate_spark  # noqa: E402
from tlgs_spark.indexer.build import build_index  # noqa: E402
from tlgs_spark.session import get_spark  # noqa: E402

N_CONV = 60  # t1-scale corpus: ~1.2k turns, builds in ~1 min once per session
INDEX_DIR = "/tmp/tlgs_spark_test_index"


def cached_index_current(index_dir: str) -> bool:
    """A test index cached on disk across runs is reused only while its
    meta passes the build's gate (postings format, docs layout,
    analyzer) — a format bump rebuilds every cached index."""
    from tlgs_spark.indexer.build import index_meta_current
    from tlgs_spark.indexer.storage import IndexStorage

    try:
        return index_meta_current(IndexStorage(index_dir).read_meta())
    except FileNotFoundError:
        return False


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tlgs_spark_tests", cores=8)
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    pdf = generate_pandas(N_CONV)
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.fixture(scope="session")
def index_dir(spark):
    """A built index over the deterministic corpus (session-cached on
    disk: rebuilt only when absent, so repeated pytest runs are fast)."""
    if not cached_index_current(INDEX_DIR):
        shutil.rmtree(INDEX_DIR, ignore_errors=True)
        sdf = generate_spark(spark, N_CONV, partitions=4)
        build_index(spark, sdf, INDEX_DIR, n_shards=7, lineage="tests:N_CONV=60")
    return INDEX_DIR


@pytest.fixture(scope="session")
def oracle_index(corpus_pdf):
    from tlgs_spark import oracle as O

    return O.build_index(list(zip(range(len(corpus_pdf)), corpus_pdf.text)))


@pytest.fixture(scope="session")
def search_index(spark, index_dir):
    from tlgs_spark.query.engine import SearchIndex

    return SearchIndex(spark, index_dir)
