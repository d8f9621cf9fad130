"""Persisted per-entity embedding column (VERDICT r5 #2).

The reference stores one embedding per entity at insert time
(vector_store.py:134-155, database.py:109-115) and every consumer reads the
stored vector.  The Spark engine materializes the analogous ``embedding``
nodes column once per build (materialize.with_node_embeddings); these tests
pin (a) the column exists and equals the vector-store string embedding,
(b) the N6 keyword branch READS it — zero re-embedding of the store per
query — and (c) the on-the-fly fallback for column-less frames survives.
"""
import pytest
from pyspark.sql import functions as F

from knowledgegraphsiqidis_spark.functions.embedding import hash_embedding
from knowledgegraphsiqidis_spark.plans.pipeline import run_pipeline
from knowledgegraphsiqidis_spark.sources.transcripts import (
    TRANSCRIPT_DDL, transcripts_pdf)


@pytest.fixture(scope="module")
def built_nodes(spark):
    tdf = spark.createDataFrame(transcripts_pdf(12, seed=3),
                                schema=TRANSCRIPT_DDL)
    return run_pipeline(spark, tdf).tables["nodes"].localCheckpoint()


def test_nodes_carry_embedding_column(built_nodes):
    assert "embedding" in built_nodes.columns
    rows = built_nodes.limit(20).collect()
    assert rows
    for r in rows:
        expect = hash_embedding(
            f"{r['canonical_name']} {r['type']}").tolist()
        assert r["embedding"] == pytest.approx(expect), r["canonical_name"]


def test_n6_embedding_branch_reads_column(spark, built_nodes, monkeypatch):
    """With the column present the store must NOT be re-embedded — the
    interactive path that becomes a per-query full-inference pass the
    moment a real model UDF is plugged in (VERDICT r5 wrong #1)."""
    from knowledgegraphsiqidis_spark.operators import nlquery, resolve

    def boom(*a, **k):
        raise AssertionError("N6 re-embedded the store despite the column")

    monkeypatch.setattr(resolve, "_embed_udf", boom)
    out = nlquery._n6_by_embedding(built_nodes, "gulfstream")
    got = out.collect()  # plan builds AND executes without the UDF
    assert set(out.columns) == set(built_nodes.columns)
    monkeypatch.undo()

    # same query through the fallback (column dropped) — identical ids,
    # proving the persisted column changes cost, not semantics
    bare = built_nodes.drop("embedding")
    want = nlquery._n6_by_embedding(bare, "gulfstream")
    assert ({r["id"] for r in got}
            == {r["id"] for r in want.collect()})


def test_knn_fallback_accepts_precomputed_embeddings(spark, built_nodes):
    """resolve.knn_fallback_edges' emb= seam: passing the precomputed
    embedding frame yields the same edges as the internal UDF pass."""
    from knowledgegraphsiqidis_spark.operators.resolve import (
        _embed_udf, entity_forms, knn_fallback_edges)
    tdf = spark.createDataFrame(transcripts_pdf(8, seed=9),
                                schema=TRANSCRIPT_DDL)
    from knowledgegraphsiqidis_spark.operators.extract import extract_stage
    forms = entity_forms(extract_stage(tdf)).localCheckpoint()
    none_resolved = spark.createDataFrame([], "key_b string")
    emb = (forms.filter(F.col("er_type") != "Document")
           .select("form_key", "name", "er_type",
                   _embed_udf(F.concat_ws(" ", "name", "er_type"))
                   .alias("embedding"))
           .localCheckpoint())
    e1, _, _ = knn_fallback_edges(forms, none_resolved)
    e2, _, _ = knn_fallback_edges(forms, none_resolved, emb=emb)
    assert ({tuple(r) for r in e1.collect()}
            == {tuple(r) for r in e2.collect()})
