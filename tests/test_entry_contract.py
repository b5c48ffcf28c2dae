"""Emulate the driver's correctness gate: run every queries() entry at
sf0.01 and compare against its oracle_sql() via DuckDB (row count +
schema column names + order-insensitive values)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return str(v)


# Arrow type aliases that are NOT meaningful engine differences (physical
# string encodings); everything else (e.g. DuckDB HUGEINT -> decimal128
# vs Spark BIGINT -> int64) must match exactly — the driver's value-hash
# is type-sensitive and a loose comparison here hides real gate failures.
_TYPE_ALIASES = {
    "large_string": "string",
    "string_view": "string",
    "large_binary": "binary",
}


def _norm_type(t) -> str:
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_norm_type(t.value_type)}>"
    s = str(t)
    return _TYPE_ALIASES.get(s, s)


def _spark_arrow_types(sdf) -> dict:
    tbl = sdf.limit(0).toArrow()
    return {f.name.lower(): _norm_type(f.type) for f in tbl.schema}


def _duck_arrow_types(con, sql) -> dict:
    tbl = con.execute(f"SELECT * FROM ({sql}) LIMIT 0").arrow()
    return {f.name.lower(): _norm_type(f.type) for f in tbl.schema}


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = [r[i] for i in order] if not isinstance(r, dict) else [r[cols[i]] for i in order]
        out.append(tuple(_norm_cell(v) for v in vals))
    return sorted(out)


ALL_QUERIES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        # rows-only contract: just require a stable, non-erroring result
        assert isinstance(srows, list)
        return
    res = duck.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in ocols), (
        name,
        scols,
        ocols,
    )
    stypes = _spark_arrow_types(sdf)
    otypes = _duck_arrow_types(duck, oracle)
    assert stypes == otypes, (name, stypes, otypes)
    assert len(srows) == len(orows), (name, len(srows), len(orows))
    got = _normalize(srows, scols)
    exp = _normalize(orows, ocols)
    mism = [i for i, (g, e) in enumerate(zip(got, exp)) if g != e]
    assert not mism, (name, [(got[i], exp[i]) for i in mism[:3]])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert rows is not None and df.columns


# per-document oracles, each scoping its documents with exactly one
# ``doc_id < 50`` predicate, and the DuckDB thread counts to run them at
PER_DOC_ORACLES = [
    ("compound_correct", 1),
    ("compound_correct", 4),
    ("compound_noisy", 1),
    ("compound_noisy", 4),
    ("word_segmentation", 4),
    ("word_segmentation_fuzzy", 4),
]
# replaying all 50 documents one at a time takes 150-325 s for the
# segmentation oracles, so they replay this fixed subset (it holds the
# documents where compound_noisy's list_reduce once leaked); the
# compound oracles replay every document
SUBSET_ORACLES = {"word_segmentation", "word_segmentation_fuzzy"}
REPLAY_SUBSET = (1, 7, 16, 24, 27, 34, 41, 47)


@pytest.mark.parametrize("name,threads", PER_DOC_ORACLES)
def test_oracle_full_run_equals_single_doc_runs(name, threads):
    """A per-document oracle must not depend on which other documents
    share its run: the full run equals the union of its single-document
    runs, whatever the DuckDB thread count. Catches state leaking across
    documents through how DuckDB evaluates the query."""
    sql = entry_mod.oracle_sql()[name]
    scope = "doc_id < 50"
    assert sql.count(scope) == 1, name
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    path = os.path.join(SF_DIR, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    full = con.execute(sql).fetchall()
    ids = sorted({r[0] for r in full})
    assert len(ids) == len(full), (name, "one row per document")
    replayed = REPLAY_SUBSET if name in SUBSET_ORACLES else ids
    assert set(replayed) <= set(ids), (name, replayed)
    full = [r for r in full if r[0] in set(replayed)]
    single = [
        r
        for d in replayed
        for r in con.execute(sql.replace(scope, f"doc_id = {d}")).fetchall()
    ]
    bad = sorted({r[0] for r in set(full) ^ set(single)})
    assert not bad, (name, threads, bad)
