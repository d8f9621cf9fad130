"""The extract → resolve → build pipeline (reference G1 as a Spark DAG).

``KGPipeline._run`` calls every stage in order: extraction, rule inference
(``raw_triples``), entity resolution — surface forms, their block keys and
the argmax match edges (``resolve``), or the embedding-confirmed three-band
resolver with its review queue — then the build: ``forms`` (each form's
match-forest component), ``nodes``, the per-conversation ``occurrences``
(or ``resolution_queue``), ``edges`` and the side tables.

Stage boundaries are checkpointed parquet tables (Iceberg-shaped layout —
one directory per stage table; swap ``_write``/``_read`` for
``writeTo(...).append()`` when an Iceberg catalog is configured).  A stage
whose output already exists is NOT recomputed — that is the resume contract
(north_rule): kill the job after any stage and rerun; finished stages load
from their checkpoint, mirroring the reference's file-hash skip
(extraction_pipeline.py:303-307) at stage granularity.  ER's intermediates
(forms, block keys, match edges) are pinned, not stored, so ER reruns while
``forms`` or its last table (``occurrences``/``resolution_queue``) is
missing; ``nodes`` is rebuilt from ``forms`` alone.

Per-stage, per-partition lineage rows (rows_out, conv range, checksum) are
appended to ``<out>/lineage``.
"""
from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import ParquetCatalog, resolve_catalog
from ..operators import extract, infer, materialize
from ..operators.resolve import (DEFAULT_MAX_BLOCK, MATCH_THRESHOLD,
                                 _block_keys, entity_forms, match_edges,
                                 resolve_with_queue)

STAGES = ("extractions", "raw_triples", "nodes", "edges", "forms",
          "aliases", "mentions", "resolution_queue")

# codegen auto-heuristic flip point (turns): below it the ~150 short graph
# stages pay Janino compile latency serially and interpreted mode wins
# (measured 40k convs/~700k turns: local[8] 58s interpreted vs 76s
# compiled); above it per-stage data amortizes the one-off compile and
# codegen wins the heavy joins/sorts — at 300k convs/5.37M turns the
# compiled-mode paired 300k protocol ran BOTH legs ~20% faster than the
# interpreted control pair in an adjacent window (local[1] 1174-1236s vs
# 1547s; local[4] 368-397s vs 500s, BENCH_SCALING.md) with pairwise N→4N
# efficiency equal within window noise (0.780 vs 0.774).  5M turns is the
# measured crossover on this host.
CODEGEN_AUTO_TURNS = 5_000_000


def _plan_rows(df: DataFrame) -> int | None:
    """Row-count estimate from the optimized plan's statistics — free when
    the source carries one (LocalRelation, checkpointed inputs whose stats
    propagated, CBO-analyzed tables); None when only sizeInBytes is known
    (plain parquet scans without ANALYZE), in which case the caller falls
    back to one count() job (footer metadata for parquet — cheap)."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        return int(rc.get().toString()) if rc.isDefined() else None
    except Exception:
        return None


@dataclass
class PipelineResult:
    tables: dict = field(default_factory=dict)

    def __getattr__(self, name):
        try:
            return self.tables[name]
        except KeyError:
            raise AttributeError(name)

    def triples(self) -> DataFrame:
        return materialize.triples_view(self.tables["edges"], self.tables["nodes"])


_DONE_MARKER = "_KG_DONE"


def _done(path: str) -> bool:
    # The stage is complete only once the engine's own marker exists — it is
    # written AFTER the lineage append, so a crash between the parquet job's
    # _SUCCESS and the lineage write reruns the stage (overwrite) instead of
    # silently skipping a stage whose lineage rows are missing.
    return os.path.exists(os.path.join(path, _DONE_MARKER))


class KGPipeline:
    def __init__(self, spark: SparkSession, out_dir: str | None = None,
                 threshold: float = MATCH_THRESHOLD,
                 max_block: int = DEFAULT_MAX_BLOCK,
                 with_queue: bool = False, tier4_global: bool = False,
                 extract_fn=None, relations_fn=None):
        """with_queue=True switches ER to the embedding-confirmed three-band
        resolver (resolve.resolve_with_queue): 0.8-0.9 matches need the
        embedding confirm, unconfirmed/ambiguous forms land in a
        ``resolution_queue`` stage table, and the kNN fallback band is
        active.  Default False = the reference's empty-vector-store
        deterministic behavior (what the parity suite verifies).

        ``extract_fn(transcripts) -> extractions`` and
        ``relations_fn(extractions) -> (conv_id, subj, pred, obj,
        confidence)`` are THE pluggable semantic-extractor seam: an
        LLM-backed extractor supplies entity rows with arbitrary
        roles/properties (the ``hint`` channel rules 3/5 read), ``fact``
        rows, and DIRECT relations in the reference's extended vocabulary
        (semantic_extractor.py:94 — owns/controls/parent_of/...).  Direct
        relations seed the inferrer's existing-pair suppression
        (infer_relationships seeds ``existing_pairs`` from them,
        semantic_extractor.py:604) and are stored alongside the inferred
        ones (_store_relations, extraction_pipeline.py:773-798).  Defaults:
        the deterministic structural extractor, no direct relations —
        exercised end-to-end by test_mock_semantic_extractor."""
        self.spark = spark
        self.out_dir = out_dir
        self.threshold = threshold
        self.max_block = max_block
        self.with_queue = with_queue
        self.extract_fn = extract_fn or extract.extract_stage
        self.relations_fn = relations_fn
        # tier4_global: opt-in J9 tier-4 cross-conversation LIKE fallback
        # for unresolved triple endpoints / fact related names
        # (materialize.resolve_names docstring)
        self.tier4_global = tier4_global
        # Iceberg catalog when the session has one configured (K1); the
        # parquet directory layout otherwise — one switch point, same
        # pipeline code under both (catalog.py).
        self.catalog = (resolve_catalog(spark, out_dir)
                        if out_dir is not None else None)
        self._parquet = isinstance(self.catalog, ParquetCatalog)

    def _path(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage)

    def _stage_done(self, stage: str, conv_col: str | None = None) -> bool:
        if self._parquet:
            return _done(self._path(stage))
        if not self.catalog.exists(stage):
            return False
        if conv_col:
            # Iceberg has no done-marker file: a lineage-bearing stage counts
            # as done only once its lineage table ALSO exists (lineage is
            # written after the stage table), so a crash between the two
            # writes reruns the stage idempotently instead of silently
            # resuming with the lineage rows missing.
            if (conv_col in self.catalog.read(self.spark, stage).columns
                    and not self.catalog.exists(f"lineage_{stage}")):
                return False
        return True

    def _checkpoint(self, build, stage: str,
                    conv_col: str | None = "conv_id") -> DataFrame:
        """Materialize a stage once; resume loads the table without even
        building the stage plan (``build`` is a thunk).

        Without an out_dir the stage is pinned with an eager
        localCheckpoint() — every stage output has multiple consumers, and
        empirically cache() leaves some downstream plans recomputing the
        extraction UDF (cache-lookup misses on re-aliased scans), while the
        checkpoint cuts the plan outright.
        """
        if self.out_dir is None:
            return build().localCheckpoint()
        if not self._stage_done(stage, conv_col):
            out = build()
            self.catalog.write(out, stage)
            if conv_col and conv_col in out.columns:
                # Lineage lands in a per-stage location with OVERWRITE
                # semantics, BEFORE the stage's done-marker: a crash anywhere
                # in between reruns the whole stage idempotently (both writes
                # overwrite), so lineage can neither go missing nor duplicate.
                persisted = self.catalog.read(self.spark, stage)
                lin = materialize.lineage_for(persisted, stage, conv_col)
                if self._parquet:
                    (lin.drop("stage")  # carried by the partition directory
                     .write.mode("overwrite")
                     .parquet(os.path.join(self.out_dir, "lineage",
                                           f"stage={stage}")))
                else:
                    self.catalog.write(lin, f"lineage_{stage}")
            if self._parquet:
                open(os.path.join(self._path(stage), _DONE_MARKER),
                     "w").close()
        return self.catalog.read(self.spark, stage)

    def run(self, transcripts: DataFrame,
            side_tables: bool = True,
            n_turns: int | None = None) -> PipelineResult:
        """side_tables=False skips aliases/mentions (not needed for the
        triple output path; they are derived views over checkpointed stages
        and can be produced later from the same checkpoints).

        Whole-stage codegen is on during the run only from
        ``CODEGEN_AUTO_TURNS`` transcript rows up (see its comment).

        ``n_turns``: optional row-count hint for that rule — callers that
        already counted (bench.py materializes the input and counts it
        outside the timed span) pass it to avoid spending an extra Spark
        job here (a full scan for non-parquet inputs).  Without it, the
        plan-statistics row estimate (free for parquet scans and
        checkpointed inputs) is tried before one count job."""
        if n_turns is None:
            n_turns = _plan_rows(transcripts)
        if n_turns is None:
            n_turns = transcripts.count()
        conf = self.spark.conf
        prev = conf.get("spark.sql.codegen.wholeStage", "true")
        conf.set("spark.sql.codegen.wholeStage",
                 str(n_turns >= CODEGEN_AUTO_TURNS).lower())
        try:
            return self._run(transcripts, side_tables)
        finally:
            conf.set("spark.sql.codegen.wholeStage", prev)

    def _run(self, transcripts: DataFrame,
             side_tables: bool = True) -> PipelineResult:
        r = PipelineResult()

        ext = self._checkpoint(lambda: self.extract_fn(transcripts),
                               "extractions")
        # The extraction UDF ran wide (4 partitions/core) for compute balance;
        # its OUTPUT is small (a few hundred bytes per extraction record), so
        # narrow the partition count back to the core count before fan-out —
        # every downstream stage otherwise schedules 4x the tasks for no work.
        ext = ext.coalesce(self.spark.sparkContext.defaultParallelism)
        r.tables["extractions"] = ext

        # raw_triples feeds the edge relabel join AND the resolution-target
        # set, so it is pinned (tiny table, two consumers).  Rule inference
        # and fact-derived edges (G4 + G21 rules) share the stage.
        def build_raw():
            inferred = infer.raw_triples(ext)
            if self.relations_fn is None:
                return inferred
            # Direct (extractor-supplied) relations: the reference seeds
            # infer_relationships' existing_pairs from them, so an inferred
            # pair duplicating a direct one is suppressed and the DIRECT
            # edge is the one stored (semantic_extractor.py:604).
            direct = (self.relations_fn(ext)
                      .withColumn("inferred", F.lit(False))
                      .withColumn("_sl", F.lower("subj"))
                      .withColumn("_ol", F.lower("obj"))
                      .dropDuplicates(["conv_id", "pred", "_sl", "_ol"]))
            inferred = (inferred
                        .withColumn("_sl", F.lower("subj"))
                        .withColumn("_ol", F.lower("obj"))
                        .join(direct.select("conv_id", "pred", "_sl", "_ol"),
                              ["conv_id", "pred", "_sl", "_ol"], "left_anti"))
            return direct.unionByName(inferred).drop("_sl", "_ol")

        raw = self._checkpoint(build_raw, "raw_triples")
        r.tables["raw_triples"] = raw

        # ER (module docstring): reruns only while ``forms`` or its last
        # stage table is missing
        if self.with_queue:
            last = ("resolution_queue", None)
        else:
            last = ("occurrences", "conv_id")
        if (self.out_dir is None or not self._stage_done("forms")
                or not self._stage_done(*last)):
            forms = entity_forms(ext).localCheckpoint()
            if self.with_queue:
                matches, queue, _ = resolve_with_queue(
                    forms, threshold=self.threshold, max_block=self.max_block)
            else:
                # one capped keying pass shared by the candidate self-join
                # and the occurrence map's member side
                keyed = _block_keys(
                    forms.filter(F.col("er_type") != "Document"),
                    self.max_block).localCheckpoint()
                matches = match_edges(forms, threshold=self.threshold,
                                      max_block=self.max_block, keyed=keyed)
            matches = matches.localCheckpoint()
        forms_c = self._checkpoint(
            lambda: materialize.form_components(forms, matches), "forms",
            conv_col=None)
        # Fact entities join the node table directly (no ER — reference
        # creates them with fresh uuids, extraction_pipeline.py:800-824);
        # the embedding column is the build's single _embed_udf application
        nodes = self._checkpoint(
            lambda: materialize.with_node_embeddings(
                materialize.entity_nodes(forms_c)
                .unionByName(materialize.fact_nodes(ext))),
            "nodes", conv_col=None)
        occ_map = None
        if self.with_queue:
            # no occurrence map: the with-queue resolver models the
            # reference's embedding-era behavior, where re-resolution is
            # confirmed per occurrence rather than replayed
            r.tables["resolution_queue"] = self._checkpoint(
                lambda: queue, *last)
        else:
            occ_map = self._checkpoint(
                lambda: materialize.occurrence_map(
                    ext, forms, forms_c, nodes, matches,
                    threshold=self.threshold, max_block=self.max_block,
                    members_keyed=keyed), *last)
        r.tables["forms"] = forms_c
        r.tables["nodes"] = nodes

        # thunk: resume skips the whole name resolution when edges exist
        edges = self._checkpoint(
            lambda: materialize.graph_edges(ext, raw, forms_c, occ_map,
                                            global_fallback=self.tier4_global),
            "edges", conv_col="provenance_doc_id")
        r.tables["edges"] = edges

        if side_tables:
            r.tables["aliases"] = self._checkpoint(
                lambda: materialize.aliases_table(ext, forms_c), "aliases",
                conv_col=None)
            r.tables["mentions"] = self._checkpoint(
                lambda: materialize.mentions_table(ext, forms_c), "mentions")
        return r


def run_pipeline(spark: SparkSession, transcripts: DataFrame,
                 out_dir: str | None = None, side_tables: bool = True,
                 n_turns: int | None = None, **kw) -> PipelineResult:
    return KGPipeline(spark, out_dir=out_dir, **kw).run(
        transcripts, side_tables=side_tables, n_turns=n_turns)
