"""Driver-contract meta-checks.

The correctness gate sorts columns BY NAME before hashing values, so a
Spark result and its DuckDB oracle must agree on column names exactly —
a mismatch hash-fails even with identical values.  This test pins that
agreement for every oracle pair without running the full compare: the
oracle runs with LIMIT 0 semantics (DuckDB still resolves the schema).
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not available"
)


@needs_testdata
def test_every_query_key_resolves_and_columns_match_oracle(catalog_builds):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(catalog_builds), "oracle without a query"
    mismatches = []
    for name, sql in oracles.items():
        spark_cols = catalog_builds[name][0]
        oracle_cols = {
            d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description
        }
        if spark_cols != oracle_cols:
            mismatches.append((name, sorted(spark_cols), sorted(oracle_cols)))
    assert not mismatches, mismatches


def test_entry_returns_dataframe(spark):
    df = entry_mod.entry(spark)
    assert df.columns and not df.isStreaming


def test_every_query_has_a_strict_oracle():
    """Round-2 invariant: NO rows-only checks remain — every queries()
    entry has an oracle_sql() entry.  A new query without an oracle is a
    deliberate decision, not an accident; remove it from this pin only
    with a documented reason."""
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(queries) == set(oracles), sorted(
        set(queries).symmetric_difference(oracles)
    )


@needs_testdata
def test_oracle_fetch_path_parity():
    """Round-2 root cause of the events_sessionize hash failure: DuckDB's
    SUM over integers returns HUGEINT, which renders as a Python int via
    fetchall() but float64 ("1.0") via fetchdf()/Arrow — so a gate that
    fetches oracle rows through pandas hash-fails while rows+schema match.
    Pin that every oracle's output renders identically under both fetch
    paths (plain str(), the least forgiving recipe); a violation means an
    oracle aggregate output needs an explicit CAST (BIGINT/DOUBLE)."""
    import math

    con = duckdb.connect()
    # this runs next to the session's Spark JVM: bound what DuckDB's buffer
    # manager holds
    con.execute("SET memory_limit='4GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    def render(rows):
        return sorted(
            "\x1f".join("NULL" if v is None else str(v) for v in r) for r in rows
        )

    divergent = []
    for name, sql in entry_mod.oracle_sql().items():
        # each oracle runs once; both fetch paths read its result table,
        # whose column types are the query's own
        con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {sql}")
        native = con.execute("SELECT * FROM oracle_out").fetchall()
        df = con.execute("SELECT * FROM oracle_out").fetchdf()
        pandas_rows = [
            tuple(None if (isinstance(v, float) and math.isnan(v)) else v for v in r)
            for r in df.itertuples(index=False, name=None)
        ]
        if render(native) != render(pandas_rows):
            divergent.append((name, {c: str(df[c].dtype) for c in df.columns}))
    assert not divergent, divergent


# md5 digests of the fixtures the RECALL_PINS oracles were validated on.
# A change here is NOT an ordinary test failure: it means the strict
# equality oracles for the named queries rest on UNVALIDATED recall.
_RECALL_PIN_DIGESTS = {
    "/root/testdata/sf0.01/documents.parquet": "b733c5a4f655b98c6136fbe529e33dc4",
    "/root/testdata/sf0.01/embeddings.parquet": "4232d4b317b4b9f35bd5a6abf25d0ade",
    "/root/testdata/sf0.1/embeddings.parquet": "bbd0e892440de45163b6f5c5e446ff36",
    "/root/testdata/sf0.001/embeddings.parquet": "d68af55d86db0576d8bd68a6857087bb",
    "fixtures/transcripts_2000.parquet": "f6842bc21b86a71825995762c6519f9c",
}


def test_recall_pins_coupled():
    """ADVICE r2: the LSH/blocked strict oracles are equality oracles only
    because recall is pinned total on specific fixtures.  Couple the two:
    (a) every RECALL_PINS test nodeid must exist in the test suite, and
    (b) every fixture must digest to the value it had when recall was
    last validated.  A digest mismatch fails with a DISTINCT message so a
    gate failure on these queries is investigated as a recall gap first."""
    import hashlib

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for query, pin in entry_mod.RECALL_PINS.items():
        test_id = pin["test"]
        path, _, func = test_id.partition("::")
        func = func.split("::")[-1]
        test_file = os.path.join(repo, path)
        assert os.path.exists(test_file), f"{query}: pin file {path} missing"
        with open(test_file) as fh:
            assert f"def {func}(" in fh.read(), (
                f"{query}: recall-pin test {test_id} no longer exists — the "
                f"strict oracle is unvalidated; restore or re-pin it"
            )
        for fixture in pin["fixtures"]:
            fpath = fixture if fixture.startswith("/") else os.path.join(repo, fixture)
            if not os.path.exists(fpath):
                pytest.skip(f"fixture {fixture} not available in this env")
            with open(fpath, "rb") as fh:
                digest = hashlib.md5(fh.read()).hexdigest()
            expected = _RECALL_PIN_DIGESTS[fixture]
            assert digest == expected, (
                f"RECALL-PIN FIXTURE CHANGED: {fixture} md5 {digest} != pinned "
                f"{expected}. The strict oracle for '{query}' is only valid if "
                f"recall is total on this fixture — re-run {test_id}, confirm "
                f"it passes on the NEW fixture, then update this digest. A "
                f"driver-gate hash failure on '{query}' before that is a "
                f"recall gap, not an engine bug."
            )


@needs_testdata
def test_events_sessionize_is_timezone_independent(spark):
    """Round-1 regression: the driver's harness session does not pin UTC,
    so the sessionize plan must be TZ-free (timestampdiff on NTZ, never an
    LTZ cast).  Run the query under UTC and two offset/DST-odd timezones
    and require identical results."""
    q = entry_mod.queries()["events_sessionize"]
    saved = spark.conf.get("spark.sql.session.timeZone")
    results = []
    try:
        for tz in ("UTC", "America/New_York", "Australia/Lord_Howe"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            rows = sorted(tuple(r) for r in q(spark, SF).collect())
            results.append((tz, rows))
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    base_tz, base = results[0]
    for tz, rows in results[1:]:
        assert rows == base, f"sessionize differs between {base_tz} and {tz}"


@needs_testdata
def test_new_event_time_queries_are_timezone_independent(spark):
    """Same TZ-parity pin for the round-3 event-time queries: the as-of
    join (NTZ + epoch arithmetic) and the streaming sessionization (NTZ →
    UTC-instant conversion + unix_micros) must produce identical rows
    under offset/DST-odd session timezones."""
    qs = entry_mod.queries()
    saved = spark.conf.get("spark.sql.session.timeZone")
    for name in ("events_asof_attribution", "events_sessions_stream"):
        results = []
        try:
            for tz in ("UTC", "Australia/Lord_Howe"):
                spark.conf.set("spark.sql.session.timeZone", tz)
                rows = sorted(tuple(r) for r in qs[name](spark, SF).collect())
                results.append(rows)
        finally:
            spark.conf.set("spark.sql.session.timeZone", saved)
        assert results[0] == results[1], f"{name} differs across session TZs"
