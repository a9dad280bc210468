"""Cross-engine contracts on NULL-bearing data.

The shipped testdata has no NULL text/source, so the driver gate cannot
catch a NULL-handling divergence between a Spark query and its DuckDB
oracle — exactly the class the round-6 self-review found (gopher oracle
propagating NULL, dsir dropping NULL-predicate rows from both pools).
This suite runs selected text/selection queries on a synthetic documents
table WITH NULLs through BOTH engines and compares cell-for-cell, so the
class stays structurally covered."""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as E

#: queries over `documents` whose semantics must survive NULL text /
#: NULL source identically on both engines
NULL_SENSITIVE = ["gopher_quality", "dsir_select", "c4_quality",
                  "text_cdc_chunks", "dedup_exact",
                  "stream_near_dedup_state", "doc_len_lang_quantile",
                  # NULL source must survive as its OWN quantile group
                  # (null-safe join on both engines)
                  "doc_quality_source_quantile"]

ROWS = [
    (1, "the quick brown fox and that have with be to of goes on",
     "en", "src0", 50),
    (2, None, "en", "src1", 0),
    (3, "delta epsilon zeta words here for the test and that",
     "en", None, 40),
    (4, "alpha beta gamma", None, "src2", 15),
    (5, "", "de", "src3", 0),
]


@pytest.fixture(scope="module")
def null_sf(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("null_docs")
    pd.DataFrame(ROWS, columns=["doc_id", "text", "lang", "source",
                                "n_chars"]).to_parquet(
        tmp / "documents.parquet")
    return str(tmp)


def _compare_engines(spark, sf, name, tables):
    sdf = E.queries()[name](spark, sf).toPandas()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf}/{t}.parquet'")
    odf = con.execute(E.oracle_sql()[name]).df()
    cols = sorted(sdf.columns)
    assert cols == sorted(odf.columns)
    s = sdf[cols].sort_values(cols).reset_index(drop=True)
    o = odf[cols].sort_values(cols).reset_index(drop=True)
    assert s.shape == o.shape, f"{name}: {s.shape} vs {o.shape}"
    for c in cols:
        assert (s[c].isna() == o[c].isna()).all(), f"{name}.{c} null mask"
        sv, ov = s[c].dropna(), o[c].dropna()
        if sv.dtype.kind == "f":
            assert (sv.round(9).values == ov.astype(float).round(9)
                    .values).all(), f"{name}.{c}"
        else:
            assert (sv.astype(str).values == ov.astype(str).values).all(), \
                f"{name}.{c}"
    return s


@pytest.mark.parametrize("name", NULL_SENSITIVE)
def test_engines_agree_on_null_data(spark, null_sf, name):
    _compare_engines(spark, null_sf, name, ["documents"])


@pytest.fixture(scope="module")
def tiny_bpe_sf(tmp_path_factory):
    """Corpus that exhausts adjacent pairs after ONE merge (doc1 fuses to
    a single symbol, doc2 has one token, doc3 is NULL) while the
    registered BPE queries ask for 8 — the empty-argmax class: a cross
    join against the empty argmax would wipe the corpus on either
    engine (Spark breaks the loop; the oracle LEFT JOINs ON TRUE)."""
    tmp = tmp_path_factory.mktemp("tiny_bpe")
    pd.DataFrame([(1, "a b"), (2, "c"), (3, None)],
                 columns=["doc_id", "text"]).to_parquet(
        tmp / "documents.parquet")
    return str(tmp)


@pytest.mark.parametrize("name", ["bpe_merges", "bpe_encode"])
def test_bpe_engines_agree_when_pairs_exhaust_early(spark, tiny_bpe_sf,
                                                    name):
    s = _compare_engines(spark, tiny_bpe_sf, name, ["documents"])
    if name == "bpe_merges":
        # only (a,b) is learnable; steps 2..8 have an empty argmax
        assert len(s) == 1
        assert list(s.iloc[0][["lsym", "rsym"]]) == ["a", "b"]
    else:
        # every document survives the encode — the pre-fix oracle
        # returned ZERO rows here
        assert len(s) == 3


@pytest.fixture(scope="module")
def zero_vec_sf(tmp_path_factory):
    """Embeddings with a ZERO vector (vec_id 3) — the cross-engine
    divergence class the round-6 advice flagged: an unguarded cosine
    division yields NaN/NULL in SQL where V.cosine returns 0.0. The
    shipped testdata has no zero vectors, so the driver gate cannot
    catch it."""
    tmp = tmp_path_factory.mktemp("zero_emb")
    vecs = [(0, [1.0, 0.0, 2.0, 0.5]),
            (1, [1.0, 0.1, 2.0, 0.5]),   # near-dup of 0
            (2, [-1.0, 3.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),   # zero norm
            (4, [0.5, 0.5, 0.5, 0.5]),
            (5, [2.0, 0.0, 4.0, 1.0])]   # colinear with 0
    pd.DataFrame(vecs, columns=["vec_id", "embedding"]).to_parquet(
        tmp / "embeddings.parquet")
    return str(tmp)


@pytest.mark.parametrize("name", ["dedup_semantic", "dedup_semantic_32",
                                  "dedup_semantic_2l"])
def test_semantic_dedup_engines_agree_on_zero_vector(spark, zero_vec_sf,
                                                     name):
    s = _compare_engines(spark, zero_vec_sf, name, ["embeddings"])
    # the zero vector must appear with cent_sim exactly 0.0 (not NaN/NULL)
    z = s[s["vec_id"] == 3]
    assert len(z) == 1 and float(z["cent_sim"].iloc[0]) == 0.0


@pytest.fixture(scope="module")
def empty_emb_sf(tmp_path_factory):
    """An embeddings table with no rows: the quantizer has no centroids."""
    tmp = tmp_path_factory.mktemp("empty_emb")
    pq.write_table(pa.table({"vec_id": pa.array([], pa.int64()),
                             "embedding": pa.array([], pa.list_(
                                 pa.float32()))}),
                   tmp / "embeddings.parquet")
    return str(tmp)


@pytest.mark.parametrize("name", ["dedup_semantic", "dedup_semantic_32",
                                  "dedup_semantic_2l"])
def test_semantic_dedup_engines_agree_on_empty_corpus(spark, empty_emb_sf,
                                                      name):
    s = _compare_engines(spark, empty_emb_sf, name, ["embeddings"])
    assert len(s) == 0


@pytest.mark.parametrize("name", ["embedding_winsorize", "embedding_prep",
                                  "embedding_int8"])
def test_embedding_prep_engines_agree_on_zero_vector(spark, zero_vec_sf,
                                                     name):
    """The prep/quantization chain on a corpus containing an all-zero
    vector: constant dimensions collapse their percentile bands, the
    zero vector's scale is 0 with all-zero codes, and no NaN/NULL leaks
    from any division on either engine."""
    s = _compare_engines(spark, zero_vec_sf, name, ["embeddings"])
    assert not s.isna().any().any()


@pytest.fixture(scope="module")
def null_events_sf(tmp_path_factory):
    """Events with NULL values — pins the stream_lifetime_state NULL
    contract (count all rows; sum/max fold only non-NULL; all-NULL key
    emits max_value NULL) on both engines."""
    tmp = tmp_path_factory.mktemp("null_events")
    vals = [(1, 10.0), (1, None), (2, None), (2, None), (3, 0.25),
            (3, -1.5), (1, 2.0)]
    rows = [(i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
             u, "click", v, "{}") for i, (u, v) in enumerate(vals)]
    pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type",
                                "value", "props"]).to_parquet(
        tmp / "events.parquet")
    return str(tmp)


def test_lifetime_state_engines_agree_on_null_values(spark, null_events_sf):
    s = _compare_engines(spark, null_events_sf, "stream_lifetime_state",
                         ["events"])
    u2 = s[s["user_id"] == 2]
    assert len(u2) == 1
    assert int(u2["n_events"].iloc[0]) == 2
    assert float(u2["total_value"].iloc[0]) == 0.0
    assert u2["max_value"].isna().all()
