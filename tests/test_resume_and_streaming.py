"""Checkpoint/resume semantics (SURVEY.md §5 item 5) and the Structured
Streaming ingest path.
"""
import glob
import os

import pytest
from pyspark.sql import functions as F

from knowledgegraphsiqidis_spark.plans.pipeline import KGPipeline, run_pipeline
from knowledgegraphsiqidis_spark.sources.transcripts import (
    TRANSCRIPT_DDL, transcripts_pdf)


@pytest.fixture()
def tdf(spark):
    return spark.createDataFrame(transcripts_pdf(30, seed=5),
                                 schema=TRANSCRIPT_DDL)


def test_checkpoint_resume_no_recompute(spark, tdf, tmp_path, monkeypatch):
    out = str(tmp_path / "kg")
    r1 = run_pipeline(spark, tdf, out_dir=out)
    triples1 = {tuple(r) for r in r1.triples().collect()}
    assert os.path.exists(os.path.join(out, "extractions", "_SUCCESS"))
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.filter(F.col("stage") == "extractions").count() > 0

    # Resume: stage outputs exist → the extraction stage must not even be
    # BUILT again (the pipeline loads the checkpoint instead).
    from knowledgegraphsiqidis_spark.plans import pipeline as pl

    def boom(*a, **k):
        raise AssertionError("extraction stage rebuilt despite checkpoint")

    monkeypatch.setattr(pl.extract, "extract_stage", boom)
    r2 = run_pipeline(spark, tdf, out_dir=out)
    triples2 = {tuple(r) for r in r2.triples().collect()}
    assert triples1 == triples2 and triples1


def test_lineage_rows_cover_stages(spark, tdf, tmp_path):
    out = str(tmp_path / "kg2")
    run_pipeline(spark, tdf, out_dir=out)
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"extractions", "raw_triples", "mentions"} <= stages
    row = lineage.filter(F.col("stage") == "extractions") \
        .agg(F.sum("rows_out")).collect()[0][0]
    assert row == spark.read.parquet(os.path.join(out, "extractions")).count()


def test_incremental_two_batches_equal_single_run(spark, tmp_path):
    """The cross-batch incremental ER contract: a corpus split into two
    monotonic micro-batches produces the IDENTICAL triple set as the
    single-batch run (reference resolve-against-growing-store semantics,
    extraction_pipeline.py:615-733)."""
    from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG
    pdf = transcripts_pdf(30, seed=5)
    full = spark.createDataFrame(pdf, schema=TRANSCRIPT_DDL)
    expected = {tuple(r) for r in run_pipeline(spark, full)
                .triples().collect()}
    assert expected

    cut = "conv-00000015"
    kg = IncrementalKG(spark, str(tmp_path / "ikg"))
    kg.process_batch(full.filter(F.col("conv_id") < cut))
    kg.process_batch(full.filter(F.col("conv_id") >= cut))
    got = {tuple(r) for r in kg.triples().collect()}
    assert got == expected

    # entities resolved ACROSS batches: some batch-2 edge endpoint must land
    # in a cluster whose canonical comes from batch 1 (no graph islands)
    nodes = kg.nodes()
    cross = (kg.edges()
             .join(nodes.select(F.col("id").alias("src"),
                                F.col("canonical_name").alias("cn")), "src")
             .filter(F.col("provenance_doc_id") >= cut)
             # entity cluster ids are form keys "conv-...#seq" (fact ids are
             # hashes); root conv before the cut = canonical from batch 1
             .filter(F.col("src").startswith("conv-")
                     & (F.substring_index(F.col("src"), "#", 1) < cut)))
    assert cross.count() > 0

    # re-delivery of already-processed conversations is a conv-level-deduped
    # no-op in EVERY mode (streaming replays are routine, and a new
    # checkpoint dir restarts stream batch ids — dedup by conv identity is
    # the only safe replay detection)
    strict = IncrementalKG(spark, str(tmp_path / "ikg"),
                           out_of_order="strict")
    strict.process_batch(full.filter(F.col("conv_id") < cut))
    assert {tuple(r) for r in strict.triples().collect()} == expected
    kg.process_batch(full.filter(F.col("conv_id") < cut))
    assert {tuple(r) for r in kg.triples().collect()} == expected

    # strict mode: a batch carrying a GENUINELY NEW earlier conversation
    # must raise, not silently corrupt
    late = (full.filter(F.col("conv_id") == "conv-00000003")
            .withColumn("conv_id", F.lit("conv-00000003b")))
    with pytest.raises(Exception, match="non-monotonic"):
        strict.process_batch(late)


def test_incremental_rejects_unknown_out_of_order_mode(spark, tmp_path):
    """A misspelt mode must fail at construction, also under ``python -O``,
    instead of silently running the "resolve" path."""
    from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG
    with pytest.raises(ValueError, match="out_of_order"):
        IncrementalKG(spark, str(tmp_path / "bad"), out_of_order="Strict")


def test_incremental_out_of_order_reversed(spark, tmp_path):
    """VERDICT r3 item 3: the reference resolves documents in ANY arrival
    order — a batch delivered after the later conversations, then one more
    monotonic batch on top of the rebuilt store, must produce the same
    triples as the single-batch run (conv_id-deterministic semantics)."""
    from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG
    pdf = transcripts_pdf(24, seed=11)
    full = spark.createDataFrame(pdf, schema=TRANSCRIPT_DDL)
    expected = {tuple(r) for r in run_pipeline(spark, full)
                .triples().collect()}
    assert expected

    c12, c20 = "conv-00000012", "conv-00000020"
    kg = IncrementalKG(spark, str(tmp_path / "rkg"))
    kg.process_batch(full.filter((F.col("conv_id") >= c12)
                                 & (F.col("conv_id") < c20)))  # later 1st
    kg.process_batch(full.filter(F.col("conv_id") < c12))      # stragglers
    kg.process_batch(full.filter(F.col("conv_id") >= c20))
    got = {tuple(r) for r in kg.triples().collect()}
    assert got == expected
    ms = kg.batch_metrics()
    assert [m["mode"] for m in ms] == ["monotonic", "out_of_order",
                                       "monotonic"]
    # one record shape for both modes: the rebuild's directory plus the
    # monotonic batch appended after it
    for m in ms:
        assert {"n_scored_pairs", "n_keyed_rows", "wall_sec"} <= set(m), m
    assert len(kg._state()["edges_sources"]) == 2


def test_incremental_out_of_order_interleaved(spark, tmp_path):
    """A late middle batch rebuilds ER from the extraction archive and
    matches the single-run triple set."""
    from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG
    pdf = transcripts_pdf(30, seed=5)
    full = spark.createDataFrame(pdf, schema=TRANSCRIPT_DDL)
    expected = {tuple(r) for r in run_pipeline(spark, full)
                .triples().collect()}

    c10, c20 = "conv-00000010", "conv-00000020"
    kg = IncrementalKG(spark, str(tmp_path / "okg"))
    kg.process_batch(full.filter(F.col("conv_id") < c10))
    kg.process_batch(full.filter(F.col("conv_id") >= c20))
    kg.process_batch(full.filter((F.col("conv_id") >= c10)
                                 & (F.col("conv_id") < c20)))
    got = {tuple(r) for r in kg.triples().collect()}
    assert got == expected
    assert kg.batch_metrics()[-1]["mode"] == "out_of_order"


def test_incremental_per_batch_cost_flat(spark, tmp_path):
    """VERDICT r3 item 1 acceptance: per-batch scored-pair counts must not
    scale with the cumulative store.  The batch pair sets partition the
    single-run candidate-pair set by the later side's batch, so their SUM
    equals the single-run count — any old×old rescoring would overshoot."""
    from knowledgegraphsiqidis_spark.operators.resolve import (
        candidate_pairs, entity_forms)
    from knowledgegraphsiqidis_spark.operators.extract import extract_stage
    from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG
    pdf = transcripts_pdf(30, seed=5)
    full = spark.createDataFrame(pdf, schema=TRANSCRIPT_DDL)

    kg = IncrementalKG(spark, str(tmp_path / "fkg"))
    for i in range(6):
        lo, hi = f"conv-{5*i:08d}", f"conv-{5*(i+1):08d}"
        kg.process_batch(full.filter((F.col("conv_id") >= lo)
                                     & (F.col("conv_id") < hi)))
    per_batch = [m["n_scored_pairs"] for m in kg.batch_metrics()]
    assert len(per_batch) == 6

    forms = entity_forms(extract_stage(full))
    single_run_pairs = candidate_pairs(forms).count()
    assert sum(per_batch) == single_run_pairs
    # and no single batch degenerates into an O(store) rescoring blob
    assert max(per_batch) < single_run_pairs


def test_incremental_mixed_duplicate_batch(spark, tmp_path):
    """A batch that re-delivers already-processed conversations ALONGSIDE
    genuinely new later ones: the duplicates are dropped at conv
    granularity and the remainder processes through the normal monotonic
    path — result equals the clean two-batch run."""
    from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG
    pdf = transcripts_pdf(20, seed=7)
    full = spark.createDataFrame(pdf, schema=TRANSCRIPT_DDL)
    cut = "conv-00000010"
    clean = IncrementalKG(spark, str(tmp_path / "mclean"))
    clean.process_batch(full.filter(F.col("conv_id") < cut))
    clean.process_batch(full.filter(F.col("conv_id") >= cut))
    expected = {tuple(r) for r in clean.triples().collect()}

    kg = IncrementalKG(spark, str(tmp_path / "mkg"))
    kg.process_batch(full.filter(F.col("conv_id") < cut))
    kg.process_batch(full)  # full corpus re-delivered: half dup, half new
    assert {tuple(r) for r in kg.triples().collect()} == expected
    assert [m["mode"] for m in kg.batch_metrics()] == ["monotonic",
                                                       "monotonic"]


def test_incremental_crash_replay(spark, tmp_path, monkeypatch):
    """ADVICE r3 (medium): a crash after a batch's table writes but BEFORE
    the state commit must leave the store readable at the previous snapshot,
    and the streaming replay of the same batch must converge to the clean
    two-batch result (all writes are deterministic overwrites)."""
    from knowledgegraphsiqidis_spark.streaming import incremental as inc
    pdf = transcripts_pdf(20, seed=7)
    full = spark.createDataFrame(pdf, schema=TRANSCRIPT_DDL)
    cut = "conv-00000010"
    b1 = full.filter(F.col("conv_id") < cut)
    b2 = full.filter(F.col("conv_id") >= cut)

    clean = inc.IncrementalKG(spark, str(tmp_path / "clean"))
    clean.process_batch(b1)
    clean.process_batch(b2)
    expected = {tuple(r) for r in clean.triples().collect()}

    kg = inc.IncrementalKG(spark, str(tmp_path / "crashy"))
    kg.process_batch(b1)
    t1 = {tuple(r) for r in kg.triples().collect()}

    monkeypatch.setattr(inc.IncrementalKG, "_commit",
                        lambda self, st: None)  # crash @ commit
    kg.process_batch(b2)
    monkeypatch.undo()
    # pre-commit: readers still see the batch-1 snapshot only
    assert {tuple(r) for r in kg.triples().collect()} == t1

    kg2 = inc.IncrementalKG(spark, str(tmp_path / "crashy"))  # "restart"
    kg2.process_batch(b2)  # streaming replays the in-flight batch
    assert {tuple(r) for r in kg2.triples().collect()} == expected


def test_streaming_ingest(spark, tmp_path):
    from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG
    from knowledgegraphsiqidis_spark.streaming.ingest import stream_transcripts
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    pdf = transcripts_pdf(12, seed=9)
    tdf = spark.createDataFrame(pdf, schema=TRANSCRIPT_DDL)
    # one file per conv-contiguous chunk, written in conv order (the
    # documented arrival contract: conversations complete per file,
    # files land in conv_id order)
    tdf.filter(F.col("conv_id") < "conv-00000006").coalesce(1) \
        .write.mode("append").parquet(in_dir)
    tdf.filter(F.col("conv_id") >= "conv-00000006").coalesce(1) \
        .write.mode("append").parquet(in_dir)

    q = stream_transcripts(spark, in_dir, out_dir, ckpt, trigger_once=True)
    q.awaitTermination(300)
    kg = IncrementalKG(spark, out_dir)
    n_edges = kg.edges().count()
    assert n_edges > 0
    assert glob.glob(os.path.join(out_dir, "edges", "g=*", "batch=*"))

    # second trigger with no new files → nothing new lands in the graph
    q2 = stream_transcripts(spark, in_dir, out_dir, ckpt, trigger_once=True)
    q2.awaitTermination(300)
    assert kg.edges().count() == n_edges


def test_incremental_compaction_bounds_files(spark, tmp_path):
    """A 12-batch ingest compacted after every fourth batch keeps the
    reader-visible per-batch directory count bounded (one consolidated dir
    per table after each compaction) and leaves the triple set
    byte-identical to the single-run result."""
    from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG
    pdf = transcripts_pdf(24, seed=5)
    full = spark.createDataFrame(pdf, schema=TRANSCRIPT_DDL)
    expected = {tuple(r) for r in run_pipeline(spark, full)
                .triples().collect()}

    out = str(tmp_path / "ckg")
    kg = IncrementalKG(spark, out)
    for i in range(12):
        lo, hi = f"conv-{2*i:08d}", f"conv-{2*(i+1):08d}"
        kg.process_batch(full.filter((F.col("conv_id") >= lo)
                                     & (F.col("conv_id") < hi)))
        if (i + 1) % 4 == 0:
            kg.compact()
    assert {tuple(r) for r in kg.triples().collect()} == expected

    # after the final compaction (batch 12) every append table is ONE
    # directory under the current generation — not 12
    st = kg._state()
    for table in ("matches", "block_index", "form_component", "edges"):
        cur = glob.glob(os.path.join(out, table, f"g={st['gen']}",
                                     "batch=*"))
        assert len(cur) == 1, (table, cur)
        # one-commit retention: at most the immediately-superseded
        # generation may still exist (GC'd by the next commit)
        assert len(glob.glob(os.path.join(out, table, "g=*"))) <= 2, table

    # compaction is also safe mid-stream: one more batch lands normally
    # and the superseded generation is GC'd by its commit
    kg.process_batch(full.limit(0).unionByName(
        spark.createDataFrame(transcripts_pdf(26, seed=5),
                              schema=TRANSCRIPT_DDL)
        .filter(F.col("conv_id") >= "conv-00000024")))
    for table in ("matches", "edges"):
        assert len(glob.glob(os.path.join(out, table, "g=*"))) <= 2, table


def test_oo_crash_atomicity(spark, tmp_path, monkeypatch):
    """ADVICE r4 (medium): a crash anywhere inside the out-of-order rewrite
    must leave the COMMITTED snapshot fully readable — prior edges
    directories are never overwritten in place (the rewrite lands under an
    unreferenced generation) — and the replay converges to the single-run
    result."""
    from knowledgegraphsiqidis_spark.streaming import incremental as inc
    pdf = transcripts_pdf(30, seed=5)
    full = spark.createDataFrame(pdf, schema=TRANSCRIPT_DDL)
    expected = {tuple(r) for r in run_pipeline(spark, full)
                .triples().collect()}
    c10, c20 = "conv-00000010", "conv-00000020"

    kg = inc.IncrementalKG(spark, str(tmp_path / "oocrash"))
    kg.process_batch(full.filter(F.col("conv_id") < c10))
    kg.process_batch(full.filter(F.col("conv_id") >= c20))
    before = {tuple(r) for r in kg.triples().collect()}

    monkeypatch.setattr(inc.IncrementalKG, "_commit",
                        lambda self, st: None)  # crash @ commit
    kg.process_batch(full.filter((F.col("conv_id") >= c10)
                                 & (F.col("conv_id") < c20)))
    monkeypatch.undo()
    # the torn out-of-order rewrite is invisible: committed state intact
    assert {tuple(r) for r in kg.triples().collect()} == before

    kg2 = inc.IncrementalKG(spark, str(tmp_path / "oocrash"))  # restart
    kg2.process_batch(full.filter((F.col("conv_id") >= c10)
                                  & (F.col("conv_id") < c20)))
    assert {tuple(r) for r in kg2.triples().collect()} == expected


def test_oo_after_compaction(spark, tmp_path):
    """An out-of-order rebuild over a compacted store still equals the
    single run.  A second compaction keeps the view at one entry holding
    every batch, and a state file without the view is rejected instead of
    misread."""
    import json

    from knowledgegraphsiqidis_spark.streaming.incremental import IncrementalKG
    pdf = transcripts_pdf(30, seed=5)
    full = spark.createDataFrame(pdf, schema=TRANSCRIPT_DDL)
    expected = {tuple(r) for r in run_pipeline(spark, full)
                .triples().collect()}
    c10, c20 = "conv-00000010", "conv-00000020"

    out = str(tmp_path / "ockg")
    kg = IncrementalKG(spark, out)
    kg.process_batch(full.filter(F.col("conv_id") < c10))
    kg.process_batch(full.filter(F.col("conv_id") >= c20))
    kg.compact()
    kg.process_batch(full.filter((F.col("conv_id") >= c10)
                                 & (F.col("conv_id") < c20)))
    assert kg.batch_metrics()[-1]["mode"] == "out_of_order"
    assert {tuple(r) for r in kg.triples().collect()} == expected

    kg.compact()
    view = kg._state()["edges_sources"]
    assert len(view) == 1 and view[0]["batches"] == [0, 1, 2]
    assert {tuple(r) for r in kg.triples().collect()} == expected

    state = os.path.join(out, "_incremental_state.json")
    with open(state) as f:
        st = json.load(f)
    del st["edges_sources"]
    with open(state, "w") as f:
        json.dump(st, f)
    with pytest.raises(ValueError, match="edges_sources"):
        IncrementalKG(spark, out).edges()
