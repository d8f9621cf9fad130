"""Three-band ER semantics (reference extraction_pipeline.py:646-733):

  score ≥ 0.9 ............ merge outright
  0.8 ≤ score < 0.9 ...... merge iff embedding cosine ≥ 0.6, else QUEUE
  score < 0.8 ............ embedding kNN fallback: cosine > 0.7, type match,
                           (name score > 0.6 or cosine > 0.85) → merge;
                           else best cosine > 0.5 → QUEUE

The expected outcome is computed with the same pure kernels the reference
bands use (name_similarity + the pluggable hash embedding) in plain Python,
then asserted against the distributed resolver — so the test verifies the
DataFrame program implements the band rules, not that two copies of one
implementation agree by construction.
"""
import pytest
from pyspark.sql import functions as F

from knowledgegraphsiqidis_spark.functions.embedding import (
    cosine, hash_embedding)
from knowledgegraphsiqidis_spark.functions.textops import name_similarity
from knowledgegraphsiqidis_spark.operators.resolve import (
    entity_forms, knn_fallback_edges, match_edges, resolve_with_queue)

FORMS_DDL = ("er_type string, name string, norm_name string, "
             "form_key string, n_mentions long")

# (er_type, name, norm_name, form_key) — keys order "insertion"
ROWS = [
    # cluster 1: exact-normalize merge (score 1.0, band ≥0.9)
    ("Organization", "ACME Corporation", "ACME", "c0#000001"),
    ("Organization", "ACME Corp.", "ACME", "c0#000002"),
    # cluster 2: containment score in [0.8, 0.9) with HIGH trigram overlap
    # → embedding-confirmed merge
    ("Reference", "International Machine Works Alliance",
     "International Machine Works Alliance", "c1#000001"),
    ("Reference", "Machine Works Alliance",
     "Machine Works Alliance", "c1#000002"),
    # cluster 3: containment score in [0.8, 0.9) with LOW trigram overlap
    # → queued (short fragment of a long name; score 0.8015, cosine 0.566)
    ("Reference",
     "Obfuscated Hyperbolic Jurisdictional Framework Documentation Vzw Qkx",
     "Obfuscated Hyperbolic Jurisdictional Framework Documentation Vzw Qkx",
     "c2#000001"),
    ("Reference", "Framework Documentation",
     "Framework Documentation", "c2#000002"),
    # singleton — no candidates anywhere
    ("Person", "Wilhelmina Vandermeer", "Wilhelmina Vandermeer", "c3#000001"),
]


def _expected_bands():
    """Single-round band outcomes via the pure kernels (fixture has no
    canonical chains, so round 0 is the fixed point)."""
    merged, queued = set(), {}
    for j, (bt, bn, bnorm, bk) in enumerate(ROWS):
        cands = []
        for i, (at, an, _, ak) in enumerate(ROWS):
            if ak >= bk:
                continue
            la, lb, lnb = an.lower(), bn.lower(), bnorm.lower()
            if lb in la or lnb in la:
                cands.append((name_similarity(an, bn, bt), ak, an))
        if not cands:
            continue
        # argmax: max score, ties to smallest key
        score, ak, an = sorted(cands, key=lambda c: (-c[0], c[1]))[0]
        if score < 0.8:
            continue
        if score >= 0.9:
            merged.add((ak, bk))
        else:
            cos = cosine(hash_embedding(an), hash_embedding(bn))
            if cos >= 0.6:
                merged.add((ak, bk))
            else:
                queued[bk] = (ak, round(score, 4))
    return merged, queued


@pytest.fixture(scope="module")
def forms(spark):
    rows = [(t, n, nn, k, 1) for t, n, nn, k in ROWS]
    return spark.createDataFrame(rows, FORMS_DDL).localCheckpoint()


def test_band_semantics_match_pure_kernels(spark, forms):
    exp_merged, exp_queued = _expected_bands()
    # fixture must exercise every band, or the test is vacuous
    assert ("c0#000001", "c0#000002") in exp_merged          # ≥0.9
    assert ("c1#000001", "c1#000002") in exp_merged          # band + confirm
    assert "c2#000002" in exp_queued                         # band, no confirm

    edges, queue = match_edges(forms, emb_confirm=0.6, return_queue=True)
    got_edges = {(r["key_a"], r["key_b"]) for r in edges.collect()}
    assert got_edges == exp_merged

    got_queue = {r["form_key"]: (r["candidates"][0]["candidate_key"],
                                 r["candidates"][0]["score"])
                 for r in queue.collect()}
    assert got_queue == exp_queued
    assert all(r["status"] == "pending" for r in queue.collect())


def test_no_embedding_band_unchanged(spark, forms):
    """emb_confirm=None keeps the reference's empty-vector-store behavior:
    every ≥0.8 argmax winner merges, nothing queues."""
    edges = match_edges(forms)
    got = {(r["key_a"], r["key_b"]) for r in edges.collect()}
    exp_merged, exp_queued = _expected_bands()
    assert got == exp_merged | {(a, b) for b, (a, _) in exp_queued.items()}


def test_knn_fallback_merges_typo_pair(spark):
    """Pair with no containment (name band can never see it) but
    near-identical trigrams → merged by the embedding kNN fallback when the
    band rule (cos > 0.7, type match, name > 0.6 or cos > 0.85) passes."""
    rows = [
        ("Organization", "Acme Industries", "Acme Industries", "k0#000001", 1),
        ("Organization", "Acme Industried", "Acme Industried", "k0#000002", 1),
        ("Person", "Wilhelmina Vandermeer", "Wilhelmina Vandermeer",
         "k1#000001", 1),
    ]
    forms = spark.createDataFrame(rows, FORMS_DDL)
    c = cosine(hash_embedding("Acme Industries Organization"),
               hash_embedding("Acme Industried Organization"))
    ns = name_similarity("Acme Industries", "Acme Industried", "Organization")
    assert c > 0.7 and (ns > 0.6 or c > 0.85)  # fixture exercises the rule
    empty_resolved = spark.createDataFrame([], "key_b string")
    edges, queue = knn_fallback_edges(forms, empty_resolved)
    got = {(r["key_a"], r["key_b"]) for r in edges.collect()}
    assert ("k0#000001", "k0#000002") in got
    assert all("k1#" not in a and "k1#" not in b for a, b in got)


def test_resolve_with_queue_composition(spark, forms):
    """Name-band queued forms must NOT be re-merged by the kNN fallback
    (the reference creates the new entity and moves on)."""
    edges, queue = resolve_with_queue(forms)
    queued_keys = {r["form_key"] for r in queue.collect()}
    merged_bs = {r["key_b"] for r in edges.collect()}
    assert queued_keys.isdisjoint(merged_bs)


def test_pipeline_with_queue_stage(spark):
    from knowledgegraphsiqidis_spark.plans.pipeline import run_pipeline
    from knowledgegraphsiqidis_spark.sources.transcripts import (
        TRANSCRIPT_DDL, transcripts_pdf)
    tdf = spark.createDataFrame(transcripts_pdf(25, seed=3),
                                schema=TRANSCRIPT_DDL)
    r = run_pipeline(spark, tdf, with_queue=True)
    assert "resolution_queue" in r.tables
    q = r.tables["resolution_queue"]
    assert set(q.columns) == {"form_key", "surface_text", "reason",
                              "candidates", "status"}
    # the entity_forms of the run must cover every queued form
    forms = entity_forms(r.tables["extractions"])
    missing = (q.select(F.col("form_key"))
               .join(forms.select("form_key"), "form_key", "left_anti"))
    assert missing.count() == 0


def test_blocking_catches_word_boundary_containment(spark):
    """ADVICE regression: LIKE '%query%' containment that crosses a word
    boundary ('Rainstorm' inside 'Brainstorms Ltd') shares no word token;
    the char-5-gram blocking keys must still generate and merge the pair."""
    rows = [
        ("Organization", "Brainstorms Ltd", "Brainstorms", "b0#000001", 1),
        ("Organization", "Rainstorms", "Rainstorms", "b0#000002", 1),
    ]
    forms = spark.createDataFrame(rows, FORMS_DDL)
    s = name_similarity("Brainstorms Ltd", "Rainstorms", "Organization")
    assert s >= 0.8  # the reference resolver would merge this pair
    edges = match_edges(forms)
    got = {(r["key_a"], r["key_b"]) for r in edges.collect()}
    assert ("b0#000001", "b0#000002") in got


def test_match_edges_resumes_from_prior_edges(spark):
    """The streaming store's use of the batch resolver: resolving only the
    pairs whose later side is at or after a form-key cut, with the edges
    before the cut as ``prior_edges``, adds exactly the missing edges."""
    from knowledgegraphsiqidis_spark.operators.extract import extract_stage
    from knowledgegraphsiqidis_spark.operators.resolve import (
        DEFAULT_MAX_BLOCK, _block_keys, candidate_pairs)
    from knowledgegraphsiqidis_spark.sources.transcripts import (
        TRANSCRIPT_DDL, transcripts_pdf)
    tdf = spark.createDataFrame(transcripts_pdf(30, seed=5),
                                schema=TRANSCRIPT_DDL)
    forms = entity_forms(extract_stage(tdf)).localCheckpoint()
    keyed = _block_keys(forms.filter(F.col("er_type") != "Document"),
                        DEFAULT_MAX_BLOCK).localCheckpoint()
    cut = "conv-00000015"

    full = [(r["key_a"], r["key_b"])
            for r in match_edges(forms, keyed=keyed).collect()]
    prior = [e for e in full if e[1] < cut]
    assert len(prior) < len(full)  # some edge's later side is past the cut
    pairs = candidate_pairs(forms, keyed=keyed,
                            later=keyed.filter(F.col("form_key") >= cut))
    new = match_edges(forms, pairs=pairs,
                      prior_edges=spark.createDataFrame(
                          prior, "key_a string, key_b string"))
    got = prior + [(r["key_a"], r["key_b"]) for r in new.collect()]
    assert sorted(got) == sorted(full)
