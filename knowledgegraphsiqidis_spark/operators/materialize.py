"""Stage 4 — graph materialization: nodes/edges/aliases/mentions/triples.

Relabels every mention and raw triple through the canonical map produced by
ER + connected components, then shapes the reference's persisted model
(database.py:24-132) as columnar tables.  Canonical-name selection mirrors
the reference's insertion-order behavior: the representative form is the
one with the minimal (conv_id, seq) mention, i.e. what the reference would
have inserted first when processing conversations in order.

All joins here are equi-joins on form/component keys; the nodes side of the
edge-relabel join is small (distinct canonical entities) and is broadcast.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .resolve import (DEFAULT_MAX_BLOCK, MATCH_THRESHOLD, _block_keys,
                      entity_forms, forest_components, match_edges)


def canonical_map(
    extractions: DataFrame,
    threshold: float = MATCH_THRESHOLD,
    max_block: int = DEFAULT_MAX_BLOCK,
    match_fn=None,
) -> tuple[DataFrame, DataFrame, DataFrame | None, DataFrame | None]:
    """Returns (forms_with_component, nodes, resolution_queue, occurrence_map).

    forms_with_component: er_type, name, norm_name, form_key, component
    nodes: component (= entity id), type, canonical_name, confidence, status
    resolution_queue: None unless ``match_fn`` returns (matches, queue) —
    e.g. ``resolve.resolve_with_queue`` for the embedding-confirmed bands.
    The default matcher is the deterministic no-embedding band (reference
    behavior with an empty vector store), which emits no queue.
    occurrence_map: per-conversation component overrides for always-merging
    forms (see :func:`occurrence_map`); None when ``match_fn`` is set (the
    with-queue resolver models the reference's embedding-era behavior, where
    re-resolution is confirmed per occurrence rather than replayed).
    """
    forms = entity_forms(extractions).localCheckpoint()
    queue = None
    keyed = None
    if match_fn is None:
        # One capped block-keying pass shared by the ER candidate self-join
        # and the occurrence-map member side (they key the identical table).
        keyed = _block_keys(forms.filter(F.col("er_type") != "Document"),
                            max_block).localCheckpoint()
        matches = match_edges(forms, threshold=threshold,
                              max_block=max_block, keyed=keyed)
    else:
        matches, queue = match_fn(forms)
    matches = matches.localCheckpoint()
    # Pin before fan-out: nodes/aliases/mentions/edge-relabel all derive from
    # forms_c — without the checkpoint each consumer would re-run the pair
    # scoring UDF and the forest resolution.
    forms_c = form_components(forms, matches).localCheckpoint()
    nodes = entity_nodes(forms_c)
    occ = (occurrence_map(extractions, forms, forms_c, nodes, matches,
                          threshold=threshold, max_block=max_block,
                          members_keyed=keyed)
           if match_fn is None else None)
    return forms_c, nodes, queue, occ


def form_components(forms: DataFrame, matches: DataFrame) -> DataFrame:
    """``forms`` plus a ``component`` column: the root of each form's tree
    in the argmax match forest (resolve.forest_components), or the form's
    own key when it matched nothing.  Components are tree roots, so they
    need no iterative large-star/small-star rounds."""
    comp = forest_components(matches)
    return (forms.join(comp, forms.form_key == comp.node, "left")
            .withColumn("component", F.coalesce("component", "form_key"))
            .drop("node"))


def entity_nodes(forms_c: DataFrame) -> DataFrame:
    """One node per component.  The representative form is the minimal
    form_key (the reference's first insertion); it gives the canonical
    name and type."""
    return (forms_c.groupBy("component")
            .agg(F.min_by("name", "form_key").alias("canonical_name"),
                 F.min_by("er_type", "form_key").alias("type"),
                 F.sum("n_mentions").alias("n_mentions"))
            .select(F.col("component").alias("id"), "type", "canonical_name",
                    F.lit("confirmed").alias("confidence"),
                    F.lit("active").alias("status"), "n_mentions"))


def occurrence_map(extractions: DataFrame, forms: DataFrame,
                   forms_c: DataFrame, nodes: DataFrame, matches: DataFrame,
                   threshold: float = MATCH_THRESHOLD,
                   max_block: int = DEFAULT_MAX_BLOCK,
                   query_scope: DataFrame | None = None,
                   members_keyed: DataFrame | None = None) -> DataFrame:
    """Per-conversation component assignment for always-merging forms —
    the reference RE-RESOLVES every conversation's mention of a surface form
    against the store AS IT EXISTS THEN (extraction_pipeline.py:615-733), so
    a form like a bare last-name term can map to different clusters in
    different conversations once a better-scoring candidate has been stored
    (candidates score against cluster canonicals, which never change, so
    only the candidate SET is time-varying).

    Spark shape: an AS-OF argmax — for each (conversation, form) first
    occurrence, the winning candidate cluster among those with a
    containment-discovery member stored before the occurrence.  Candidate
    generation here is time-direction-free (resolve.containment_candidates):
    a cluster first stored AFTER the form's own first occurrence can win
    later conversations.  Only forms that merged at their first occurrence
    (key_b of an accepted match edge) re-resolve; a form that once became
    its own entity exact-matches itself (score 1.0) forever.

    Returns (conv_id, er_type, name, component) override rows;
    resolve_names coalesces them over the global form component.

    ``query_scope`` (optional, (er_type, name) keys) restricts the re-scored
    query forms — the streaming-incremental path passes the batch's occurring
    names so per-batch scoring stays O(batch), not O(cumulative vocabulary)
    (only this batch's conversations need occurrence rows; earlier
    conversations' resolutions are immutable under monotonic arrival).
    ``members_keyed`` short-circuits the member-side blocking with the
    persisted block index (resolve.containment_candidates docstring).
    """
    from .resolve import _pair_score, containment_candidates

    merged_keys = matches.select(F.col("key_b").alias("form_key")).distinct()
    queries = forms.join(merged_keys, "form_key", "left_semi")
    if query_scope is not None:
        queries = queries.join(query_scope.select("er_type", "name"),
                               ["er_type", "name"], "left_semi")
    cand = containment_candidates(forms, queries, max_block=max_block,
                                  members_keyed=members_keyed)

    compmap = forms_c.select(F.col("form_key").alias("m_key"),
                             F.col("component").alias("comp"))
    canon = nodes.select(F.col("id").alias("comp"),
                         F.col("canonical_name").alias("canon_name"))
    scored = (cand.join(compmap, "m_key").join(canon, "comp")
              # cluster availability = earliest containment-discovery member
              .groupBy(F.col("q_key"), F.col("q_name"), F.col("q_etype"),
                       F.col("comp"), F.col("canon_name"))
              .agg(F.min("m_key").alias("avail_key"))
              .withColumn("score",
                          _pair_score("canon_name", "q_name", "q_etype"))
              .filter(F.col("score") >= threshold))

    occ = (extractions
           .filter(F.col("kind").isin("party", "term", "doc"))
           .withColumn("occ_key",
                       F.concat_ws("#", "conv_id",
                                   F.format_string("%06d", "seq")))
           .groupBy("conv_id", "er_type", "name")
           .agg(F.min("occ_key").alias("occ_key")))
    occ = occ.join(forms.select("er_type", "name",
                                F.col("form_key").alias("q_key")),
                   ["er_type", "name"])
    j = (occ.join(scored, "q_key")
         .filter(F.col("avail_key") < F.col("occ_key")))
    w = Window.partitionBy("conv_id", "q_key").orderBy(F.desc("score"),
                                                       F.asc("comp"))
    return (j.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("conv_id", "er_type", "name",
                    F.col("comp").alias("component")))


def resolve_names(targets: DataFrame, extractions: DataFrame,
                  forms_c: DataFrame,
                  occ_map: DataFrame | None = None,
                  global_fallback: bool = False) -> DataFrame:
    """Resolve (conv_id, name_l) targets to entity components through the
    reference's ``_find_entity_by_name`` tiers (extraction_pipeline.py:
    852-874):

      1/2. exact + case-insensitive entity-map hit — lower(name) equality;
           when a party and a term share a name within one conversation the
           reference's dict overwrite keeps the LATER insertion
           (extraction_pipeline.py:621-731) → max_by(seq).
      3.   partial containment over the same conversation's entity map,
           FIRST insertion wins (items() iteration order) → min_by(seq).
      4.   global store LIKE search (``search_entities_by_name`` LIMIT 1,
           database.py:204-215) — OPT-IN via ``global_fallback=True``: a
           cross-conversation containment join (stored canonical/alias
           surface form CONTAINS the query, case-insensitive like SQLite
           LIKE) reusing the ER gram/word blocking keys.  LIMIT-1-in-
           insertion-order = the matching cluster with the minimal
           component id (clusters are inserted at their first form);
           as-of semantics: a cluster is a candidate for a conversation
           only once some matching member was stored in that conversation
           or earlier.  Divergence kept (documented): the reference's
           store also contains Fact entities, so an otherwise-unresolvable
           name whose text appears in an earlier fact's name resolves to
           that Fact there and stays unresolved here (edge dropped).
           Default False: the tier never fires while related names are
           conversation-local, which the deterministic extractor
           guarantees.

    All joins are conv_id-co-partitioned: tier 3's containment predicate
    runs only on the (small) per-conversation target × mention sets that
    tier 1 left unresolved; tier 4 runs only on what tier 3 left, through
    the df-capped block-key join (never a cross product).
    """
    m = (extractions.filter(F.col("kind").isin("party", "term", "doc"))
         .select(F.col("conv_id").alias("m_conv"), "seq", "name", "er_type",
                 F.lower("name").alias("m_name_l")))
    m = m.join(forms_c.select("er_type", "name", "component"),
               ["er_type", "name"])
    if occ_map is not None:
        # per-conversation re-resolution overrides the global form component
        # (occurrence_map docstring) for always-merging forms
        o = occ_map.select(F.col("conv_id").alias("m_conv"), "er_type",
                           "name", F.col("component").alias("occ_component"))
        m = (m.join(o, ["m_conv", "er_type", "name"], "left")
             .withColumn("component",
                         F.coalesce("occ_component", "component"))
             .drop("occ_component"))
    t = targets.select("conv_id", "name_l").distinct()

    # Tiers 1-3 fused into ONE conversation-local join + ONE aggregation
    # (the r6 shape ran exact-equi join → anti-join → containment join —
    # three passes over the mention map and ~4 extra exchanges; profiled at
    # 17 s of the edges stage at 100k conversations).  ``keyed`` replicates
    # dict semantics exactly: entity_map keys iterate in FIRST-insertion
    # order (min seq per raw name) but carry the LATEST overwrite's value
    # (max_by component, seq); ``last_seq`` additionally records the
    # overwrite position so the exact tier's global max_by(component, seq)
    # can be re-derived per lowered name across raw-name groups.  The join
    # predicate is the tier-3 containment, which subsumes tier-1/2 equality;
    # per (conv, target):
    #   exact  = component at the globally latest equal-named mention
    #            (max_by over last_seq, null ord for non-equal rows — the
    #            old tier-1/2 max_by(component, seq) winner), else
    #   partial = min_by(component, first_seq) over containment candidates
    #            (old tier 3 — for targets with no exact hit the candidate
    #            set is identical, equality being impossible).
    keyed = (m.groupBy("m_conv", "name", "m_name_l")
             .agg(F.min("seq").alias("first_seq"),
                  F.max("seq").alias("last_seq"),
                  F.max_by("component", "seq").alias("component")))
    j = t.join(keyed, (keyed.m_conv == F.col("conv_id"))
               & (F.col("name_l").contains(keyed.m_name_l)
                  | keyed.m_name_l.contains(F.col("name_l"))))
    resolved = (j.groupBy("conv_id", "name_l")
                .agg(F.max_by("component",
                              F.when(F.col("m_name_l") == F.col("name_l"),
                                     F.col("last_seq"))).alias("_exact"),
                     F.min_by("component", "first_seq").alias("_partial"))
                .select("conv_id", "name_l",
                        F.coalesce("_exact", "_partial").alias("component")))
    if not global_fallback:
        return resolved
    from .resolve import containment_candidates

    still = t.join(resolved.select("conv_id", "name_l"),
                   ["conv_id", "name_l"], "left_anti")
    qforms = (still.select(F.col("name_l").alias("name")).distinct()
              .withColumn("norm_name", F.col("name"))
              .withColumn("er_type", F.lit("query"))
              .withColumn("form_key", F.concat(F.lit("q#"), F.col("name"))))
    cand = containment_candidates(
        forms_c.select("er_type", "name", "norm_name", "form_key"), qforms)
    # per (query, cluster): earliest matching member = the cluster's
    # availability point (canonical from creation, aliases from their merge)
    scored = (cand.join(forms_c.select(F.col("form_key").alias("m_key"),
                                       F.col("component").alias("comp")),
                        "m_key")
              .groupBy("q_name", "comp")
              .agg(F.min("m_key").alias("avail_key")))
    j = (still.join(scored, still.name_l == scored.q_name)
         .filter(F.substring_index("avail_key", "#", 1) <= F.col("conv_id")))
    w = Window.partitionBy("conv_id", "name_l").orderBy(F.asc("comp"))
    glob = (j.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("conv_id", "name_l", F.col("comp").alias("component")))
    return resolved.unionByName(glob)


def graph_edges(ext: DataFrame, raw: DataFrame, forms_c: DataFrame,
                occ_map: DataFrame | None,
                global_fallback: bool = False) -> DataFrame:
    """The edge table: raw triples and fact ``about`` edges relabelled
    through the per-conversation mention map.

    The names to resolve are the triple endpoints plus the facts' related
    names, resolved per conversation through the reference's lookup tiers
    (:func:`resolve_names`).  The mention map has two consumers, so it is
    pinned.  Both relabel inputs are hash-partitioned on conv_id:
    localCheckpoint preserves outputPartitioning, and the (conv_id, name)
    relabel joins accept the conv_id clustering, so the four join sides
    plan with no further exchange.
    """
    targets = (raw.select("conv_id", F.lower("subj").alias("name_l"))
               .unionAll(raw.select("conv_id", F.lower("obj").alias("name_l")))
               .unionAll(ext.filter(F.col("kind") == "fact")
                         .select("conv_id", F.explode("related").alias("rel"))
                         .select("conv_id", F.lower("rel").alias("name_l"))))
    p = ext.sparkSession.sparkContext.defaultParallelism * 2
    mention_map = (resolve_names(targets, ext, forms_c, occ_map=occ_map,
                                 global_fallback=global_fallback)
                   .repartition(p, "conv_id").localCheckpoint())
    return (materialize_edges(raw.repartition(p, "conv_id"), mention_map)
            .unionByName(fact_about_edges(ext, mention_map)))


def materialize_edges(raw_triples: DataFrame, mention_map: DataFrame) -> DataFrame:
    """Relabel (conv_id, subj, obj) through the per-conversation entity map."""
    t = (raw_triples
         .withColumn("subj_l", F.lower("subj"))
         .withColumn("obj_l", F.lower("obj")))
    s_map = mention_map.select(F.col("conv_id").alias("s_conv"),
                               F.col("name_l").alias("subj_l"),
                               F.col("component").alias("src"))
    o_map = mention_map.select(F.col("conv_id").alias("o_conv"),
                               F.col("name_l").alias("obj_l"),
                               F.col("component").alias("dst"))
    joined = (t.join(s_map, (t.conv_id == s_map.s_conv) & (t.subj_l == s_map.subj_l))
              .join(o_map, (t.conv_id == o_map.o_conv) & (t.obj_l == o_map.obj_l)))
    # Edge id hashes the RAW (deduped) triple key — (conv_id, pred, subj_l,
    # obj_l) is unique per row after infer's per-conv dedupe — so two distinct
    # raw triples that resolve to the same canonical endpoints keep distinct
    # ids, matching the reference's uuid-per-edge row-key shape (models.py).
    return (joined.select(
        F.sha2(F.concat_ws("|", t.conv_id, t.pred, t.subj_l, t.obj_l), 256).alias("id"),
        "src", "dst",
        F.col("pred").alias("relation_type"),
        F.map_from_arrays(F.array(F.lit("inferred")),
                          F.array(F.col("inferred").cast("string"))).alias("properties"),
        F.lit("extracted").alias("confidence"),
        F.col("conv_id").alias("provenance_doc_id")))


def _fact_id():
    return F.sha2(F.concat_ws("|", F.lit("fact"), F.col("conv_id"),
                              F.col("seq").cast("string")), 256)


def fact_nodes(extractions: DataFrame) -> DataFrame:
    """Fact entities (G21, extraction_pipeline.py:800-824): one node per
    extracted fact; canonical name = ``{fact_type}: {text[:50]}...`` (built
    in the extraction kernel).  Facts never enter ER — the reference creates
    them directly with uuid ids."""
    return (extractions.filter(F.col("kind") == "fact")
            .select(_fact_id().alias("id"),
                    F.lit("Fact").alias("type"),
                    F.col("name").alias("canonical_name"),
                    F.lit("extracted").alias("confidence"),
                    F.lit("active").alias("status"),
                    F.lit(1).cast("long").alias("n_mentions")))


def with_node_embeddings(nodes: DataFrame) -> DataFrame:
    """Persist the entity embedding as a nodes column (VERDICT r5 #2).

    The reference computes one embedding per entity at insert time and
    stores it (FAISS index file + BLOB mirror, vector_store.py:134-155,
    database.py:109-115); every later consumer reads the stored vector.
    This is that column for the Spark engine: ONE ``_embed_udf``
    application per build, over the same ``f"{name} {type}"`` string the
    reference's vector store embeds.  Consumers with an embedding need —
    ``nlquery._n6_by_embedding``'s keyword branch, ad-hoc ANN over
    entities — read the column instead of re-running inference per query,
    which matters the moment a real model UDF is plugged into the
    ``functions/embedding`` seam.
    """
    from .resolve import _embed_udf
    return nodes.withColumn(
        "embedding",
        _embed_udf(F.concat_ws(" ", "canonical_name", "type")))


def fact_about_edges(extractions: DataFrame, mention_map: DataFrame) -> DataFrame:
    """fact → related-entity ``about`` edges (extraction_pipeline.py:825-845)
    through the tiered name resolution; unresolvable related names drop the
    edge (reference: entity_id None → skip), never the fact node."""
    f = (extractions.filter(F.col("kind") == "fact")
         .select("conv_id", "seq", _fact_id().alias("fact_id"),
                 F.posexplode("related").alias("pos", "rel_name")))
    j = (f.withColumn("name_l", F.lower("rel_name"))
         .join(mention_map, ["conv_id", "name_l"]))
    return j.select(
        F.sha2(F.concat_ws("|", "conv_id", F.col("seq").cast("string"),
                           F.col("pos").cast("string"), F.lit("about")),
               256).alias("id"),
        F.col("fact_id").alias("src"),
        F.col("component").alias("dst"),
        F.lit("about").alias("relation_type"),
        F.expr("map()").cast("map<string,string>").alias("properties"),
        F.lit("extracted").alias("confidence"),
        F.col("conv_id").alias("provenance_doc_id"))


def triples_view(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(subj, pred, obj) with canonical names — the parity artifact."""
    s = nodes.select(F.col("id").alias("src"), F.col("canonical_name").alias("subj"))
    o = nodes.select(F.col("id").alias("dst"), F.col("canonical_name").alias("obj"))
    return (edges.join(F.broadcast(s), "src").join(F.broadcast(o), "dst")
            .select("subj", F.col("relation_type").alias("pred"), "obj")
            .distinct())


def aliases_table(extractions: DataFrame, forms_c: DataFrame) -> DataFrame:
    """All distinct surface forms + extracted quoted aliases per entity."""
    surface = (forms_c.select(F.col("component").alias("entity_id"),
                              F.col("name").alias("alias_text"),
                              F.lit("extracted").alias("source")))
    quoted = (extractions.filter(F.col("kind") == "party")
              .select("er_type", "name", F.explode("aliases").alias("alias_text"))
              .join(forms_c.select("er_type", "name", "component"),
                    ["er_type", "name"])
              .select(F.col("component").alias("entity_id"), "alias_text",
                      F.lit("defined_term").alias("source")))
    canon = forms_c.groupBy("component").agg(F.min_by("name", "form_key").alias("c"))
    return (surface.unionByName(quoted).distinct()
            .join(canon, F.col("entity_id") == F.col("component"))
            .filter(F.lower("alias_text") != F.lower("c"))
            .select("entity_id", "alias_text", "source")
            .distinct())


def mentions_table(extractions: DataFrame, forms_c: DataFrame) -> DataFrame:
    return (extractions.filter(F.col("kind").isin("party", "term"))
            .join(forms_c.select("er_type", "name", "component"),
                  ["er_type", "name"])
            .select(F.col("component").alias("entity_id"), "conv_id", "turn_idx",
                    "span_start", "span_end",
                    F.col("name").alias("surface_text")))


def lineage_for(df: DataFrame, stage: str, conv_col: str = "conv_id") -> DataFrame:
    """Per-partition row counts + conv range + checksum (north_rule lineage)."""
    # MAP columns are excluded — Spark prohibits hashing maps (undefined
    # entry order); the remaining columns identify a row for lineage purposes.
    cols = [f.name for f in df.schema.fields
            if not f.dataType.typeName().startswith("map")]
    checksum = F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("checksum")
    return (df
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.lit(stage).alias("stage"),
                 F.count("*").alias("rows_out"),
                 F.min(conv_col).alias("conv_id_min"),
                 F.max(conv_col).alias("conv_id_max"),
                 checksum)
            .select("stage", "partition_id", "rows_out",
                    "conv_id_min", "conv_id_max", "checksum"))
