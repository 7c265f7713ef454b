from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from ocr_text_recognition_spark.session import get_spark

    s = get_spark(
        "tests",
        cores=4,
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(scope="session")
def small_corpus():
    """30-doc seeded corpus + golden, shared across Spark tests."""
    from ocr_text_recognition_spark import corpus

    docs, media = corpus.make_corpus(30, seed=42, skew_fraction=0.1, skew_multiplier=10)
    golden = corpus.make_golden(docs, media)
    return docs, media, golden
