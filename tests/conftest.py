from __future__ import annotations

from contextlib import contextmanager

from tsengine.env_tuning import setdefault_simd

# before ANY numpy import: virtualized-AVX workaround (see env_tuning.py)
setdefault_simd()

import pytest  # noqa: E402

from tsengine.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tsengine-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    from tsengine.synth import generate_transcripts

    # small but structured: 60 convs incl. one forced mega-conv (2k turns)
    df = generate_transcripts(spark, n_convs=60, seed=42, mega_turns=2000)
    df = df.cache()
    df.count()
    return df


ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextmanager
def _arrow_batch_rows(spark, n: int):
    old = spark.conf.get(ARROW_BATCH)
    spark.conf.set(ARROW_BATCH, str(n))
    try:
        yield
    finally:
        spark.conf.set(ARROW_BATCH, old)


@pytest.fixture
def arrow_batch_rows(spark):
    """``with arrow_batch_rows(n):`` runs the block with Arrow batches of
    ``n`` rows, then restores the session's batch size. The size is read
    when a query executes, so the block must include the action
    (``toPandas``, ``collect``, ...)."""
    return lambda n: _arrow_batch_rows(spark, n)
