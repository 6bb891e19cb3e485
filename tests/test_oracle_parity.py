"""Local replica of the driver's correctness gate: every queries() entry
with an oracle_sql() twin is executed in Spark AND DuckDB on the same
parquet tables; row multisets must match exactly (bit-level for doubles).
"""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# the driver-facing registry PLUS the folded (driver-redundant) entries:
# locally, every query ever registered keeps its bit-level parity gate
ORACLES = {**entry_mod.oracle_sql(), **entry_mod.extra_oracle_sql()}
QUERIES = {**entry_mod.queries(), **entry_mod.extra_queries()}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, "%s.parquet" % t)
        if os.path.exists(path):
            con.sql(
                "CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                % (t, path)
            )
    return con


def _norm_val(v):
    # leading flag makes None sortable against values (rollup/cube
    # produce NULL group keys); equality semantics are unchanged
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        return (2, v)
    if hasattr(v, "isoformat"):
        return (3, v.isoformat())
    if isinstance(v, str):
        return (3, v)
    return (2, v)


def _norm_rows(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        tuple(_norm_val(r[i]) for i in order) for r in rows
    )


# DuckDB result type -> the Spark dtype it must pair with. The driver's
# value hash is TYPE-sensitive (DuckDB SUM(BIGINT) -> HUGEINT surfaces as
# float64 and hash-mismatches Spark's int64 even when values are equal), so
# the local gate must reject type drift too, not just value drift.
_DUCK_TO_SPARK = {
    "BIGINT": {"bigint"},
    "INTEGER": {"int"},
    "SMALLINT": {"smallint"},
    "TINYINT": {"tinyint"},
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    # both Spark timestamp kinds collect as naive datetimes in the UTC
    # session, matching DuckDB's naive TIMESTAMP values
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "TIMESTAMP_NS": {"timestamp", "timestamp_ntz"},
    "DATE": {"date"},
}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    res = duck.sql(ORACLES[name])
    duck_cols = res.columns
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        "column mismatch: %s vs %s" % (spark_cols, duck_cols)
    )

    spark_types = dict(df.dtypes)
    for col, dtype in zip(duck_cols, res.types):
        d = str(dtype)
        assert d in _DUCK_TO_SPARK, (
            "%s.%s: unmapped DuckDB type %s (HUGEINT etc. hash-mismatch "
            "in the driver — CAST it in the oracle SQL)" % (name, col, d)
        )
        assert spark_types[col] in _DUCK_TO_SPARK[d], (
            "%s.%s: DuckDB %s vs Spark %s" % (
                name, col, d, spark_types[col]
            )
        )
    a = _norm_rows(spark_rows, spark_cols)
    b = _norm_rows(duck_rows, duck_cols)
    assert len(a) == len(b), "row count %d vs %d" % (len(a), len(b))
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    assert not diffs, "first diffs: %s" % diffs[:3]


def test_registry_contract():
    # the driver's observed ~50-row artifact ceiling
    assert len(entry_mod.queries()) <= 50
    assert set(ORACLES) == set(QUERIES)
    assert all(isinstance(sql, str) and sql for sql in ORACLES.values())
    with pytest.raises(ValueError, match="already registered"):
        entry_mod.query("pip_join", oracle="SELECT 1")(lambda s, d: None)
    assert entry_mod.REGISTRY["pip_join"].fn is QUERIES["pip_join"]
    with pytest.raises(TypeError):
        entry_mod.query("no_twin")
    with pytest.raises(TypeError, match="oracle"):
        entry_mod.query("no_twin", oracle=None)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert df.columns == ["doc_id", "name", "cell_id"]
    assert len(rows) >= 0
