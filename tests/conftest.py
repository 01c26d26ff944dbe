import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from text2mc_dataprocessor_spark.session import get_spark  # noqa: E402
from text2mc_dataprocessor_spark.sources.fixtures import generate_corpus  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus():
    """Multi-host fixture corpus (t1-smoke scale)."""
    return generate_corpus(n_hosts=3, listing_pages_per_host=3, links_per_listing=6, seed=42)


@pytest.fixture(scope="session")
def corpus_single_seed():
    """Single-seed corpus — the reference's literal configuration."""
    return generate_corpus(n_hosts=1, listing_pages_per_host=4, links_per_listing=5, seed=7)
