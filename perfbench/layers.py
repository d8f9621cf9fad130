"""The traced build: ``plans.pipeline.run_pipeline`` (in-memory mode) called
layer by layer from outside, each call inside its own span.

The sequence mirrors ``KGPipeline._run`` with ``out_dir=None`` and default
options, so it produces the same triple set as ``run_pipeline`` on the same
input; the traced run builds with ``run_pipeline`` first and checks that it
does.  This module gives only the per-layer split: the traced run's
``pipeline.*`` job counters come from the ``run_pipeline`` build.  Two calls are
split out of ``materialize.canonical_map`` to give ER its own spans:
``resolve.candidate_pairs`` is an extra, separately pinned call made only to
time and count the candidate pairs (``match_edges`` builds them again
internally), and ``resolve.forest_components`` is pinned on its own instead
of inside the ``forms_c`` pin.  Both show up as tracing overhead.
"""
from __future__ import annotations

import time

from pyspark.sql import functions as F

from knowledgegraphsiqidis_spark.operators import extract, infer, materialize
from knowledgegraphsiqidis_spark.operators.resolve import (
    _block_keys, candidate_pairs, entity_forms, forest_components,
    match_edges)
from knowledgegraphsiqidis_spark.plans.pipeline import CODEGEN_AUTO_TURNS

THRESHOLD = 0.8
MAX_BLOCK = 200

# span name -> the layer it belongs to
SPANS = {
    "extract": "extract",
    "infer": "infer",
    "resolve.forms": "resolve",
    "resolve.candidate_pairs": "resolve",
    "resolve.match_edges": "resolve",
    "resolve.forest_components": "resolve",
    "materialize.canonical_map": "materialize",
    "materialize.edges": "materialize",
    "materialize.side_tables": "materialize",
    "materialize.triples": "materialize",
}


def traced_build(spark, spans, transcripts, n_turns: int):
    """Returns (tables, counts, wall_s).  ``counts`` are row counts taken on
    pinned tables outside every span, so they are not part of any layer."""
    conf = spark.conf
    prev = conf.get("spark.sql.codegen.wholeStage", "true")
    conf.set("spark.sql.codegen.wholeStage",
             str(n_turns >= CODEGEN_AUTO_TURNS).lower())
    counts: dict[str, int] = {}
    probe_s = 0.0

    def count(name, df):
        nonlocal probe_s
        t0 = time.perf_counter()
        counts[name] = df.count()
        probe_s += time.perf_counter() - t0

    t0 = time.perf_counter()
    try:
        dp = spark.sparkContext.defaultParallelism
        with spans.span("extract"):
            ext = extract.extract_stage(transcripts).localCheckpoint()
        count("extract", ext)
        ext = ext.coalesce(dp)

        facts_in = (ext.filter(F.col("kind") == "fact")
                    .select("conv_id", "fact_type",
                            F.col("definition").alias("text"),
                            F.col("related").alias("related_entities")))
        with spans.span("infer"):
            raw = (infer.infer_stage(ext)
                   .unionByName(infer.infer_facts_stage(ext, facts_in))
                   .localCheckpoint())
        count("infer", raw)

        with spans.span("resolve.forms"):
            forms = entity_forms(ext).localCheckpoint()
            keyed = _block_keys(forms.filter(F.col("er_type") != "Document"),
                                MAX_BLOCK).localCheckpoint()
        count("forms", forms)
        with spans.span("resolve.candidate_pairs"):
            pairs = candidate_pairs(forms, MAX_BLOCK,
                                    keyed=keyed).localCheckpoint()
        count("candidate_pairs", pairs)
        with spans.span("resolve.match_edges"):
            matches = match_edges(forms, threshold=THRESHOLD,
                                  max_block=MAX_BLOCK,
                                  keyed=keyed).localCheckpoint()
        count("matches", matches)
        with spans.span("resolve.forest_components"):
            comp = forest_components(matches).localCheckpoint()

        with spans.span("materialize.canonical_map"):
            forms_c = (forms.join(comp, forms.form_key == comp.node, "left")
                       .withColumn("component",
                                   F.coalesce("component", "form_key"))
                       .drop("node").localCheckpoint())
            nodes = (forms_c.groupBy("component")
                     .agg(F.min_by("name", "form_key").alias("canonical_name"),
                          F.min_by("er_type", "form_key").alias("type"),
                          F.sum("n_mentions").alias("n_mentions"))
                     .select(F.col("component").alias("id"), "type",
                             "canonical_name",
                             F.lit("confirmed").alias("confidence"),
                             F.lit("active").alias("status"), "n_mentions"))
            occ = materialize.occurrence_map(
                ext, forms, forms_c, nodes, matches, threshold=THRESHOLD,
                max_block=MAX_BLOCK, members_keyed=keyed)
            nodes = materialize.with_node_embeddings(
                nodes.unionByName(materialize.fact_nodes(ext)))
            forms_c = forms_c.localCheckpoint()
            nodes = nodes.localCheckpoint()
            occ = occ.localCheckpoint()
        count("nodes", nodes)

        with spans.span("materialize.edges"):
            targets = (raw.select("conv_id", F.lower("subj").alias("name_l"))
                       .unionAll(raw.select("conv_id",
                                            F.lower("obj").alias("name_l")))
                       .unionAll(ext.filter(F.col("kind") == "fact")
                                 .select("conv_id",
                                         F.explode("related").alias("rel"))
                                 .select("conv_id",
                                         F.lower("rel").alias("name_l"))))
            p = dp * 2
            mention_map = (materialize.resolve_names(
                targets, ext, forms_c, occ_map=occ, global_fallback=False)
                .repartition(p, "conv_id").localCheckpoint())
            edges = (materialize.materialize_edges(
                raw.repartition(p, "conv_id"), mention_map)
                .unionByName(materialize.fact_about_edges(ext, mention_map))
                .localCheckpoint())
        count("edges", edges)

        with spans.span("materialize.side_tables"):
            aliases = materialize.aliases_table(ext, forms_c).localCheckpoint()
            mentions = materialize.mentions_table(ext,
                                                  forms_c).localCheckpoint()
        count("aliases", aliases)
        count("mentions", mentions)

        with spans.span("materialize.triples"):
            counts["triples"] = materialize.triples_view(edges, nodes).count()
    finally:
        conf.set("spark.sql.codegen.wholeStage", prev)
    wall = time.perf_counter() - t0 - probe_s
    tables = {"extractions": ext, "raw_triples": raw, "forms": forms_c,
              "nodes": nodes, "occurrences": occ, "edges": edges,
              "aliases": aliases, "mentions": mentions}
    return tables, counts, wall
