"""Local mimic of the driver's correctness gate: every catalog query runs
on Spark AND its SQL oracle on DuckDB at sf0.01; row count, column names,
and order-insensitive values must match."""

from __future__ import annotations

import math

import duckdb
import pytest

from ckg_spark.queries import CATALOG

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _normalize(rows, cols):
    """Column-name-sorted, order-insensitive row multiset with float rounding."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


SQL_QUERIES = sorted(n for n, s in CATALOG.items() if s.sql is not None)
ROWS_ONLY = sorted(n for n, s in CATALOG.items() if s.sql is None)


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_query_matches_duckdb_oracle(spark, ddb, name):
    spec = CATALOG[name]
    sdf = spec.spark_fn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(spec.sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    got = _normalize(srows, scols)
    exp = _normalize(drows, dcols)
    assert got == exp, (
        f"{name}: values differ; first spark={got[:2]} duck={exp[:2]}"
    )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    spec = CATALOG[name]
    df = spec.spark_fn(spark, SF_DIR)
    assert df.count() >= 0
    assert df.columns


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(e.oracle_sql()) <= set(e.queries())


def test_driver_window_invariants():
    """The external gate samples the first 50 entries of queries(); round 5
    refreshes every row whose last driver certification predates round 3
    plus the four rows whose evidence changed this round (VERDICT r04
    #1/#2/#7). Guard: exactly 50 names, all registered, ALL oracled (the
    first fully value-hash-checkable window), required operators present,
    and the returned dict actually leads with them."""
    from ckg_spark.queries.catalog import _DRIVER_WINDOW, spark_queries

    assert len(_DRIVER_WINDOW) == 50
    assert len(set(_DRIVER_WINDOW)) == 50
    for n in _DRIVER_WINDOW:
        assert n in CATALOG, n
        assert CATALOG[n].sql is not None, f"{n} must be oracled in the window"
    for required in (
        # moved from no_oracle to hash-twinned this round
        "q_minhash_dup_pairs", "q_simhash_dup_pairs", "q_srp_neardup_pairs",
        "q_ivf_topk",
        # new query (audio boundary closed)
        "q_multimodal_audio",
        # plan restructured this round -> re-certify
        "q_samr", "q_ttest_permutation_fdr",
        # the r4-rewritten link stage, last certified r1/r2
        "q_kg_mentions", "q_kg_mention_topk", "q_kg_comention",
        "q_kg_degree_centrality",
    ):
        assert required in _DRIVER_WINDOW
    assert list(spark_queries())[:50] == _DRIVER_WINDOW
    assert len(spark_queries()) == len(CATALOG)


def _query_and_twin(spark, name, tmp_path, tables):
    """Run catalog query ``name`` and its DuckDB twin over tiny tables
    written to ``tmp_path`` (table name -> pandas frame); sorted rows."""
    con = duckdb.connect()
    for t, pdf in tables.items():
        pdf.to_parquet(tmp_path / f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    spec = CATALOG[name]
    got = sorted(tuple(r) for r in spec.spark_fn(spark, str(tmp_path)).collect())
    exp = sorted(con.execute(spec.sql).fetchall())
    con.close()
    return got, exp


def test_l2_normalize_keeps_an_all_zero_user(spark, tmp_path):
    """A user whose readings are all 0 has a zero norm: the query keeps the
    zeros (the raw division throws DIVIDE_BY_ZERO under ANSI) and the twin
    mirrors the guard."""
    import pandas as pd

    events = pd.DataFrame(
        {"event_id": [1, 2, 3, 4], "user_id": [1, 1, 2, 2], "value": [3.0, 4.0, 0.0, 0.0]}
    )
    got, exp = _query_and_twin(spark, "q_l2_normalize", tmp_path, {"events": events})
    assert got == exp == [(1, 1, 0.6), (2, 1, 0.8), (3, 2, 0.0), (4, 2, 0.0)]


def test_median_normalize_rounds_half_away_like_its_twin(spark, tmp_path):
    """-0.0078125 is an exact binary tie at the 6th decimal: Spark and DuckDB
    ROUND take it away from zero, Python's half-even round would not."""
    import pandas as pd

    lineitem = pd.DataFrame(
        {
            "l_orderkey": [1, 1, 1],
            "l_linenumber": [1, 2, 3],
            "l_extendedprice": [0.0, 0.0078125, 1.0],
            "l_returnflag": ["A", "A", "A"],
        }
    )
    got, exp = _query_and_twin(spark, "q_median_normalize", tmp_path, {"lineitem": lineitem})
    assert got == exp == [(1, 1, -0.007813), (1, 2, 0.0), (1, 3, 0.992188)]


def test_ttest_permutation_twin_counts_non_null_values(spark, tmp_path):
    """The Welch t divides each group's variance by its NON-NULL value
    count; with null readings in both groups the twin must count values,
    not rows, to match."""
    import pandas as pd

    q = [1.0, 2.0, 4.0, None, 7.0, 3.0, 5.0, 6.0, 8.0, None, 9.0]
    lineitem = pd.DataFrame(
        {
            "l_orderkey": list(range(1, 12)),
            "l_linenumber": [1] * 11,
            "l_quantity": q,
            "l_returnflag": ["A"] * 11,
            "l_linestatus": ["F"] * 5 + ["O"] * 6,
        }
    )
    got, exp = _query_and_twin(
        spark, "q_ttest_permutation_fdr", tmp_path, {"lineitem": lineitem}
    )
    assert len(got) == 1 and got == exp
