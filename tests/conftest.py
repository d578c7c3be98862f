import os

import pytest

from mopper_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mopper-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    # keep the session alive across the whole test run; stop at exit
    s.stop()


@pytest.fixture(scope="session")
def catalog_builds(spark):
    """Every ``__spark_entry__.queries()`` entry built once at sf0.001, as
    ``name -> (column set, executed-plan string)``.  The catalog-wide
    tests read this instead of each building all queries again; the
    DataFrames themselves are dropped."""
    from test_driver_contract import SF  # also puts the repo root on sys.path

    import __spark_entry__ as entry_mod

    if not os.path.isdir(SF):
        pytest.skip("sf0.001 testdata not available")
    builds = {}
    for name, fn in entry_mod.queries().items():
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        builds[name] = (set(df.columns), plan)
    return builds


def precision_recall(produced: set, golden: set) -> tuple[float, float]:
    """Set precision/recall of produced vs golden statements — the metric
    form of the reference's golden-compare contract (BASELINE.json:
    triple P/R ≥ 0.95; set equality ⇒ P = R = 1.0)."""
    if not produced and not golden:
        return 1.0, 1.0
    tp = len(produced & golden)
    p = tp / len(produced) if produced else 0.0
    r = tp / len(golden) if golden else 1.0
    return p, r


def assert_pr(produced: set, golden: set, min_pr: float = 0.95) -> None:
    p, r = precision_recall(produced, golden)
    assert p >= min_pr and r >= min_pr, (
        f"P={p:.4f} R={r:.4f} below {min_pr}; "
        f"spurious={sorted(produced - golden)[:5]} "
        f"missing={sorted(golden - produced)[:5]}"
    )


def normalize_statements(lines):
    """The reference's golden-compare contract (tests.rs:52-66): drop blank
    and comment lines, collapse runs of whitespace, compare as a set."""
    out = set()
    for line in lines:
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        out.add(" ".join(line.split()))
    return out
