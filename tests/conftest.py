import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from cobweb_spark.session import get_spark

    spark = get_spark(app_name="cobweb-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def reference_samples():
    """The reference spec's sample files; skips the test when absent."""
    from cobweb_spark.testkit import fixtures as fx

    if not os.path.isdir(fx.REFERENCE_SAMPLES):
        pytest.skip("reference sample fixtures not available")
    return fx.REFERENCE_SAMPLES


@pytest.fixture(scope="session")
def sample_site_corpus(reference_samples):
    from cobweb_spark.testkit import fixtures as fx

    return fx.build_sample_site_corpus(reference_samples)
