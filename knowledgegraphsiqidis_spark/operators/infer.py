"""Rule-based relationship inference as pure DataFrame joins (no UDFs).

Behavior-parity with the reference ``RelationshipInferrer.infer_relationships``
(semantic_extractor.py:566-763) applied to the deterministic structural
entities, conversation-scoped exactly as the reference is document-scoped:

  rule 1  party roles → ``party_to`` case-ish Document/Reference entities
          (semantic_extractor.py:620-633), confidence 0.7
  rule 2  plaintiff/claimant × defendant/respondent → ``opposes``
          (semantic_extractor.py:666-681), confidence 0.9
  rule 3  attorney/counsel/lawyer role + client hint → ``represents``
          (semantic_extractor.py:636-649), confidence 0.6
  rule 4  org-name containment → ``affiliated_with`` shorter→longer
          (semantic_extractor.py:737-761), confidence 0.5
  rule 5  ceo/president/director/officer role + company hint →
          ``employed_by`` (semantic_extractor.py:651-664), confidence 0.8

Rules 3/5 read the per-entity role + client/company hint properties the
reference gets from its LLM extractor; the pluggable deterministic stand-in
is ``textops.extract_entity_props`` (the ``hint`` column on party rows) —
rows without a hint emit nothing, exactly like the reference's empty
``props.get('client', ...)`` guard.

Fact-derived edges (``infer_facts_stage``: payment→paid, breach→breached,
obligation→binds; semantic_extractor.py:684-735) activate when the pluggable
semantic extractor supplies facts — with the deterministic structural
extractor the facts input is empty and they emit nothing.

Every rule is an equi-join on ``conv_id`` plus cheap predicates — Catalyst
plans these as co-partitioned shuffle joins sharing one exchange of the
extraction output, so the whole inference stage costs a single shuffle.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_PARTY_TO_ROLES = ("plaintiff", "defendant", "claimant", "respondent")
_PLAINTIFF_ROLES = ("plaintiff", "claimant")
_DEFENDANT_ROLES = ("defendant", "respondent")
_ATTORNEY_ROLES = ("attorney", "counsel", "lawyer")
_EXEC_ROLES = ("ceo", "president", "director", "officer")


def _caseish(name_col):
    """Reference predicate: 'case' in lower(name) or 'v.' in name or 'vs' in lower(name)."""
    return (F.lower(name_col).contains("case")
            | name_col.contains("v.")
            | F.lower(name_col).contains("vs"))


def raw_triples(extractions: DataFrame) -> DataFrame:
    """The rule-inferred raw triples of ``extractions``: the structural rules
    (:func:`infer_stage`) plus the fact-derived edges
    (:func:`infer_facts_stage`) over the extractor's ``fact`` rows."""
    facts = (extractions.filter(F.col("kind") == "fact")
             .select("conv_id", "fact_type",
                     F.col("definition").alias("text"),
                     F.col("related").alias("related_entities")))
    return infer_stage(extractions).unionByName(
        infer_facts_stage(extractions, facts))


def infer_stage(extractions: DataFrame) -> DataFrame:
    """extractions → inferred raw triples (conv_id, subj, pred, obj, confidence, inferred)."""
    cols = ["conv_id", "name", "role", "entity_type"]
    if "hint" in extractions.columns:
        cols.append("hint")
    parties = extractions.filter(F.col("kind") == "party").select(*cols)
    if "hint" not in parties.columns:
        parties = parties.withColumn("hint", F.lit(None).cast("string"))
    # ONE conv_id exchange shared by every rule join: both inputs are
    # explicitly hash-partitioned on conv_id, so the rule joins (including
    # the org self-join) are co-partitioned and ReusedExchange dedupes the
    # shared subtree — the five rules previously planned ~8 separate
    # exchanges of the same small data, each a scheduling round-trip that
    # bound the stage at high core counts (BENCH_SCALING.md laggard table).
    P = extractions.sparkSession.sparkContext.defaultParallelism * 2
    parties = parties.repartition(P, "conv_id")
    docs = (extractions
            .filter(F.col("kind").isin("party", "term"))
            .filter(F.col("entity_type").isin("Document", "Reference"))
            .filter(_caseish(F.col("name")))
            .select("conv_id", F.col("name").alias("doc_name"))
            .repartition(P, "conv_id"))

    party_to = (parties
                .filter(F.col("role").isin(*_PARTY_TO_ROLES))
                .join(docs, "conv_id")
                .select("conv_id",
                        F.col("name").alias("subj"),
                        F.lit("party_to").alias("pred"),
                        F.col("doc_name").alias("obj"),
                        F.lit(0.7).alias("confidence")))

    p = parties.filter(F.col("role").isin(*_PLAINTIFF_ROLES)) \
               .select("conv_id", F.col("name").alias("subj"))
    d = parties.filter(F.col("role").isin(*_DEFENDANT_ROLES)) \
               .select("conv_id", F.col("name").alias("obj"))
    opposes = (p.join(d, "conv_id")
               .select("conv_id", "subj", F.lit("opposes").alias("pred"), "obj",
                       F.lit(0.9).alias("confidence")))

    # rules 3/5: role-property persons → represents / employed_by toward the
    # client/company hint (reference confidences 0.6 / 0.8)
    hinted = parties.filter(F.col("hint").isNotNull() & (F.col("hint") != ""))
    represents = (hinted.filter(F.col("role").isin(*_ATTORNEY_ROLES))
                  .select("conv_id", F.col("name").alias("subj"),
                          F.lit("represents").alias("pred"),
                          F.col("hint").alias("obj"),
                          F.lit(0.6).alias("confidence")))
    employed = (hinted.filter(F.col("role").isin(*_EXEC_ROLES))
                .select("conv_id", F.col("name").alias("subj"),
                        F.lit("employed_by").alias("pred"),
                        F.col("hint").alias("obj"),
                        F.lit(0.8).alias("confidence")))

    orgs = (parties.filter(F.col("entity_type") == "Organization")
            .select("conv_id", F.col("name").alias("org")))
    o2 = orgs.select("conv_id", F.col("org").alias("other"))
    affiliated = (orgs.join(o2, "conv_id")
                  .filter(F.col("org") != F.col("other"))
                  .filter(F.lower(F.col("other")).contains(F.lower(F.col("org")))
                          | F.lower(F.col("org")).contains(F.lower(F.col("other"))))
                  .select("conv_id",
                          F.when(F.length("org") <= F.length("other"), F.col("org"))
                           .otherwise(F.col("other")).alias("subj"),
                          F.lit("affiliated_with").alias("pred"),
                          F.when(F.length("org") <= F.length("other"), F.col("other"))
                           .otherwise(F.col("org")).alias("obj"),
                          F.lit(0.5).alias("confidence")))

    # The reference dedupes on lowered (src, dst, relation) pairs per document
    # (semantic_extractor.py:604); equivalent here as a case-insensitive
    # dropDuplicates within conv_id.  Applied PER RULE BRANCH: every branch
    # carries a distinct pred literal, so the union-level dedup could never
    # collapse rows across branches — and each branch inherits the shared
    # conv_id hash partitioning, which satisfies the dedup's clustering, so
    # the per-branch dedup plans with ZERO additional exchanges (the
    # union-level dropDuplicates reshuffled the full triple stream).
    return (_dedupe(party_to).unionByName(_dedupe(opposes))
            .unionByName(_dedupe(represents)).unionByName(_dedupe(employed))
            .unionByName(_dedupe(affiliated)))


def _dedupe(triples: DataFrame) -> DataFrame:
    return (triples
            .withColumn("_sl", F.lower("subj")).withColumn("_ol", F.lower("obj"))
            .dropDuplicates(["conv_id", "pred", "_sl", "_ol"])
            .drop("_sl", "_ol")
            .withColumn("inferred", F.lit(True)))


FACTS_DDL = ("conv_id string, fact_type string, text string, "
             "related_entities array<string>")


def infer_facts_stage(extractions: DataFrame, facts: DataFrame) -> DataFrame:
    """Fact-derived edges (semantic_extractor.py:684-735) as conv-scoped joins.

    ``facts``: (conv_id, fact_type, text, related_entities) from the pluggable
    semantic extractor.

      payment/paid ... first two related entities → (e0, paid, e1), conf 0.7
      breach ......... each related entity × Document/Reference entities whose
                       name contains agreement/contract/covenant → breached, 0.6
      obligation ..... each case Document/Reference entity → (doc, binds,
                       related entity), conf 0.6 — note the reference binds
                       rule uses ALL documents, no name filter
    """
    docs = (extractions
            .filter(F.col("kind").isin("party", "term"))
            .filter(F.col("entity_type").isin("Document", "Reference"))
            .select("conv_id", F.col("name").alias("doc_name")))

    paid = (facts.filter(F.col("fact_type").isin("payment", "paid"))
            .filter(F.size("related_entities") >= 2)
            .select("conv_id",
                    F.col("related_entities")[0].alias("subj"),
                    F.lit("paid").alias("pred"),
                    F.col("related_entities")[1].alias("obj"),
                    F.lit(0.7).alias("confidence"))
            .filter((F.col("subj") != "") & (F.col("obj") != "")))

    breach_rel = (facts.filter(F.col("fact_type") == "breach")
                  .select("conv_id", F.explode("related_entities").alias("ent")))
    agreementish = docs.filter(
        F.lower("doc_name").contains("agreement")
        | F.lower("doc_name").contains("contract")
        | F.lower("doc_name").contains("covenant"))
    breached = (breach_rel.join(agreementish, "conv_id")
                .select("conv_id", F.col("ent").alias("subj"),
                        F.lit("breached").alias("pred"),
                        F.col("doc_name").alias("obj"),
                        F.lit(0.6).alias("confidence")))

    oblig_rel = (facts.filter(F.col("fact_type") == "obligation")
                 .select("conv_id", F.explode("related_entities").alias("ent")))
    binds = (oblig_rel.join(docs, "conv_id")
             .select("conv_id", F.col("doc_name").alias("subj"),
                     F.lit("binds").alias("pred"),
                     F.col("ent").alias("obj"),
                     F.lit(0.6).alias("confidence")))

    # NOT per-branch like infer_stage: these branches are not
    # conv-co-partitioned, so per-branch dedup would plan three exchanges
    # where the union-level one plans one.
    return _dedupe(paid.unionByName(breached).unionByName(binds))
