import numpy as np
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from powershap_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def persistent_rdds(spark):
    """Callable: how many persistent RDDs registered since this fixture was
    set up are still registered. Earlier tests can leave RDDs persisted,
    and Spark's ContextCleaner frees those whenever the JVM happens to
    collect garbage, so the count is taken over RDD ids, not as a
    difference of totals."""
    jrdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(jrdds().keySet())
    return lambda: len(set(jrdds().keySet()) - before)


@pytest.fixture(scope="session")
def clf_xy():
    from powershap_spark.synth import parity_matrix

    return parity_matrix(task="classification")


@pytest.fixture(scope="session")
def regr_xy():
    from powershap_spark.synth import parity_matrix

    return parity_matrix(task="regression")


@pytest.fixture()
def rng():
    return np.random.RandomState(0)


def events_pdf(n=400, n_users=8, seed=3) -> pd.DataFrame:
    """Small random entity/ts/value frame for window + asof oracles."""
    r = np.random.RandomState(seed)
    return pd.DataFrame(
        {
            "k": r.randint(0, n_users, n).astype(np.int64),
            "ts": np.round(r.uniform(0, 5000, n), 3),
            "v": np.round(r.uniform(0, 100, n), 3),
            "seq": np.arange(n, dtype=np.int64),
        }
    )
