"""Golden per-table digests of the batch and streaming builds.

Four builds over ``transcripts_df(spark, 40, seed=11)`` — the default
in-memory build, ``with_queue=True``, ``tier4_global=True`` and the
``run_pipeline(out_dir=...)`` job path — must reproduce, for every
``PipelineResult`` table and for ``triples()``, the row count and the
order-free ``bit_xor(xxhash64(columns))`` committed in
``golden_tables.json``.  So must three more cases: ``short_convs``, the
default build over 40 short conversations (4–10 turns, seed 11);
``tier4_reach``, a ``tier4_global=True`` build over the three-turn corpus
of ``test_tier4_global`` (the only one here whose fact names resolve
through the cross-conversation fallback); and ``incremental``, an
``IncrementalKG`` store fed the same 40 conversations in three batches,
the last one out of order.  The engine's outputs are fixed, so the values
are never regenerated: a mismatch is a behavior change.

The only column left out of a digest is named in ``EXCLUDED``: Spark
cannot hash a map column.
"""
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from knowledgegraphsiqidis_spark.plans import pipeline as pl
from knowledgegraphsiqidis_spark.plans.pipeline import run_pipeline
from knowledgegraphsiqidis_spark.sources.transcripts import (
    TRANSCRIPT_DDL, transcripts_df)
from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG
from tests.test_tier4_global import _rows as tier4_rows

GOLDEN = os.path.join(os.path.dirname(__file__), "golden_tables.json")
EXCLUDED = {"edges": {"properties"}}

CASES = {"default": {}, "with_queue": {"with_queue": True},
         "tier4_global": {"tier4_global": True}}


def hashed(name, df):
    """``df`` without its excluded columns."""
    return df.select([c for c in df.columns
                      if c not in EXCLUDED.get(name, ())])


def digest(df):
    """[row count, order-free bit_xor of the per-row xxhash64]."""
    cols = ", ".join(f"`{c}`" for c in df.columns)
    row = df.agg(F.count(F.lit(1)),
                 F.expr(f"bit_xor(xxhash64({cols}))")).first()
    return [row[0], row[1]]


def digests(result, extra=None):
    tables = {**result.tables, "triples": result.triples(), **(extra or {})}
    return {name: digest(hashed(name, df))
            for name, df in sorted(tables.items())}


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts_df(spark, 40, seed=11)


@pytest.mark.parametrize("case", sorted(CASES))
def test_in_memory_build_matches_golden(spark, tdf, golden, case):
    r = run_pipeline(spark, tdf, **CASES[case])
    assert digests(r) == golden[case]
    if case != "default":
        return
    # self-test: one row fewer in any table changes its hash, not only its
    # count
    for name, df in {**r.tables, "triples": r.triples()}.items():
        df = hashed(name, df)
        n, h = golden[case][name]
        if n:
            fewer = digest(df.exceptAll(df.limit(1)))
            assert fewer[0] == n - 1 and fewer[1] != h, name


def test_job_build_matches_golden(spark, tdf, golden, tmp_path, monkeypatch):
    """The job path, then two partial resumes: each rebuilds only the stage
    tables that are missing, with the same outputs."""
    out = str(tmp_path / "kg")

    def build():
        r = run_pipeline(spark, tdf, out_dir=out)
        occ = spark.read.parquet(os.path.join(out, "occurrences"))
        return digests(r, {"occurrences": occ})

    assert build() == golden["out_dir"]

    # nodes/ alone is missing: it is rebuilt from forms, ER does not rerun
    shutil.rmtree(os.path.join(out, "nodes"))

    def no_er(*a, **k):
        raise AssertionError("ER reran although forms and occurrences exist")

    monkeypatch.setattr(pl, "match_edges", no_er)
    assert build() == golden["out_dir"]
    monkeypatch.undo()

    # occurrences/ is missing: ER reruns against the stored forms and nodes
    shutil.rmtree(os.path.join(out, "occurrences"))
    assert build() == golden["out_dir"]


def test_short_conversations_match_golden(spark, golden):
    """Forty conversations of 4–10 turns (the generator's default is
    8–16)."""
    r = run_pipeline(spark, transcripts_df(spark, 40, seed=11,
                                           median_turns=6))
    assert digests(r) == golden["short_convs"]


def test_tier4_fallback_matches_golden(spark, golden):
    """conv-1's fact names are conv-0 parties, so only the tier-4 global
    fallback resolves them into ``about`` edges."""
    corpus = spark.createDataFrame(tier4_rows(), schema=TRANSCRIPT_DDL)
    r = run_pipeline(spark, corpus, tier4_global=True)
    assert r.triples().filter((F.col("pred") == "about")
                              & (F.col("obj") == "Zeta Holdings Corp")).count()
    assert digests(r) == golden["tier4_reach"]


def test_incremental_matches_golden(spark, tdf, golden, tmp_path):
    """Three micro-batches: two monotonic, then the conversations between
    them, below the store's high-water mark."""
    c = F.col("conv_id")
    lo, hi = "conv-00000013", "conv-00000026"
    kg = IncrementalKG(spark, str(tmp_path / "ikg"))
    for batch in (tdf.filter(c < lo), tdf.filter(c >= hi),
                  tdf.filter((c >= lo) & (c < hi))):
        kg.process_batch(batch)
    assert [m["mode"] for m in kg.batch_metrics()] == [
        "monotonic", "monotonic", "out_of_order"]
    tables = {"nodes": kg.nodes(), "edges": kg.edges(),
              "matches": kg.matches(), "triples": kg.triples()}
    assert {name: digest(hashed(name, df))
            for name, df in sorted(tables.items())} == golden["incremental"]
