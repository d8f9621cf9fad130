"""Stage 2 — entity resolution: blocking, pair scoring, match edges.

Spark-first redesign of the reference's sequential resolve-while-inserting
loop (extraction_pipeline.py:615-733):

  reference                              this engine
  ---------                              -----------
  LIKE '%name%' search over the         blocking self-join on normalized-
  growing SQLite store                  surface-form keys + word keys
  per-entity find_best_match            vectorized pair scoring (pandas UDF
  (extraction_pipeline.py:257-271)      over candidate pairs only)
  accept ≥0.9; 0.8-0.9 accepted when    accept score ≥ 0.8 (the reference's
  no embedding store exists             no-embedding deterministic behavior,
  (extraction_pipeline.py:686-691)      extraction_pipeline.py:686-691)
  insertion-order canonical entity      connected components over match
                                        edges; canonical = min (conv_id, seq)
                                        mention — deterministic across any
                                        parallelism level

Candidate pairs additionally require the reference's candidate-generation
containment condition (search_entities_by_name, database.py:204-215: a
stored name must *contain* the query's raw or normalized form) so we do not
merge pairs the reference could never have seen (e.g. "J. Smith" vs
"John Smith" score 0.8 but share no containment).

Scale design: ER runs over DISTINCT (er_type, name) surface forms, not
mentions — dedup first collapses the 10^12-turn mention stream to the much
smaller form vocabulary.  Oversized blocks (hot surface-form words) are
capped at ``max_block`` forms and reported, mirroring the reference's
LIMIT-10 candidate truncation (extraction_pipeline.py:636) instead of
silently exploding the self-join.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..functions.textops import name_similarity
from .components import _observed_checkpoint

MATCH_THRESHOLD = 0.8  # reference accept band without embeddings
DEFAULT_MAX_BLOCK = 200


@F.pandas_udf(T.DoubleType())
def _pair_score(name_a: pd.Series, name_b: pd.Series, etype: pd.Series) -> pd.Series:
    return pd.Series([name_similarity(a, b, t)
                      for a, b, t in zip(name_a, name_b, etype)], dtype="float64")


@F.pandas_udf(T.DoubleType())
def _pair_emb_cosine(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
    from ..functions.embedding import batch_pair_cosine
    return batch_pair_cosine(text_a, text_b)


@F.pandas_udf(T.ArrayType(T.DoubleType()))
def _embed_udf(text: pd.Series) -> pd.Series:
    from ..functions.embedding import batch_embed
    return batch_embed(text)


def entity_forms(extractions: DataFrame) -> DataFrame:
    """Distinct (er_type, name) surface forms with deterministic form keys.

    form_key = the lexicographically-minimal "conv_id#seq" over the form's
    mentions; it orders forms exactly as the reference's insertion order
    (conversations in conv_id order; parties-then-terms within one).
    """
    m = (extractions
         .filter(F.col("kind").isin("party", "term", "doc"))
         .withColumn("mention_key",
                     F.concat_ws("#", "conv_id", F.format_string("%06d", "seq"))))
    return (m.groupBy("er_type", "name", "norm_name")
            .agg(F.min("mention_key").alias("form_key"),
                 F.count("*").alias("n_mentions")))


_STOP_BLOCKS = ("and", "the", "of", "for", "to", "in", "on", "by", "or")


GRAM_DF_CAP = 1000
CANONICAL_ROUNDS = 3  # refinement-round cap (match_edges)


def _keyed_rows(forms: DataFrame) -> DataFrame:
    """UNCAPPED (form_key, er_type, name, norm_name, block, _gram) blocking
    rows — the raw key material ``_block_keys`` caps.  Exposed separately so
    the streaming-incremental state store (streaming/incremental.py) can key
    ONLY a batch's new forms and apply the caps against its persisted
    per-block statistics instead of re-keying the whole vocabulary.

    Two key families:
      * word tokens — cheap, covers multi-word containment;
      * character 5-grams — covers containment that crosses word boundaries
        (the reference's LIKE '%query%' matches 'Rainstorm' inside
        'Brainstorms' with no shared word token): every 5-gram of a
        contained string is also a 5-gram of its container, so any
        containment pair with a ≥5-char query shares a key.  Queries
        shorter than 5 chars keep their whole-string key.

    A key present in both families counts once, as a WORD key (word keys are
    never df-dropped) — the min(False, True) aggregate keeps the word row.
    """
    def grams(low):
        return F.when(F.length(low) <= 5, F.array(low)).otherwise(
            F.transform(F.sequence(F.lit(1), F.length(low) - 4),
                        lambda i: low.substr(i, F.lit(5))))

    # Per-form set algebra with array ops: array_except drops the gram keys
    # that duplicate a word key, so one explode emits each key once.
    base = forms.select("name", "norm_name", "er_type", "form_key",
                        F.lower("name").alias("_ln"),
                        F.lower("norm_name").alias("_lnn"))
    keyfilter = (lambda c: (F.length(c) > 1)
                 & ~c.isin(*_STOP_BLOCKS))
    words = F.filter(F.array_distinct(F.concat(
        F.array(F.col("_lnn")),
        F.split("_lnn", r"\s+"),
        F.split("_ln", r"\s+"))), keyfilter)
    gram_only = F.filter(F.array_except(
        F.array_distinct(F.concat(grams(F.col("_lnn")),
                                  grams(F.col("_ln")))), words), keyfilter)
    both = F.concat(
        F.transform(words, lambda w: F.struct(w.alias("block"),
                                              F.lit(False).alias("_gram"))),
        F.transform(gram_only, lambda g: F.struct(g.alias("block"),
                                                  F.lit(True).alias("_gram"))))
    return (base.select("name", "norm_name", "er_type", "form_key",
                        F.explode(both).alias("bb"))
            .select("form_key", "er_type", "name", "norm_name",
                    F.col("bb.block").alias("block"),
                    F.col("bb._gram").alias("_gram")))


def _block_keys(forms: DataFrame | None, max_block: int | None,
                keep_gram: bool = False,
                keyed: DataFrame | None = None) -> DataFrame:
    """Blocking keys over raw + normalized lowered names, with hot blocks
    capped at the ``max_block`` earliest forms (mirroring the reference's
    LIMIT-10 candidate truncation rather than letting a hot surface form
    blow up the self-join).  Key material: :func:`_keyed_rows`.

    Gram blocks with document frequency above ``GRAM_DF_CAP`` are dropped
    ENTIRELY (word blocks keep the row_number cap): a gram shared by k forms
    costs a k-row single-task sort in the cap window — at 300k forms the
    shared prefix grams of per-conversation Doc_* names alone contributed
    ~100 s of core-count-independent time.  Dropping an over-cap gram block
    loses only gram-unique pairs among its earliest ``max_block`` members —
    strictly gentler than the reference's LIMIT-10 truncation — and degrades
    gracefully at corpus scale (word blocking persists).  Surface dropped
    blocks with :func:`blocked_overflow`.

    ``keyed`` short-circuits the key computation with precomputed
    :func:`_keyed_rows` output (columns form_key, er_type, name, norm_name,
    block, _gram) — the streaming store's out-of-order rebuild keys its
    vocabulary once and passes the rows here, reusing them for its
    per-block statistics.
    """
    if keyed is None:
        keyed = _keyed_rows(forms)
    if max_block is None:
        return keyed if keep_gram else keyed.drop("_gram")
    df = keyed.groupBy("block").agg(F.count("*").alias("_df"))
    keyed = (keyed.join(df, "block")
             .filter(~F.col("_gram") | (F.col("_df") <= GRAM_DF_CAP)))
    small = keyed.filter(F.col("_df") <= max_block)
    w = Window.partitionBy("block").orderBy("form_key")
    big = (keyed.filter(F.col("_df") > max_block)
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= max_block).drop("_rn"))
    out = small.unionByName(big).drop("_df")
    return out if keep_gram else out.drop("_gram")


def containment_candidates(forms: DataFrame, queries: DataFrame,
                           max_block: int = DEFAULT_MAX_BLOCK,
                           members_keyed: DataFrame | None = None) -> DataFrame:
    """(query, member) pairs where the MEMBER's stored name contains the
    query's raw or normalized lowered name — time-direction-free, unlike
    ``candidate_pairs``'s earlier→later restriction.  Feeds the
    per-conversation occurrence re-resolution (materialize.occurrence_map),
    where a candidate cluster stored AFTER the query form's first occurrence
    can win later conversations' resolutions.

    ``members_keyed`` short-circuits the member-side blocking with a
    precomputed capped key table (columns ⊇ name, form_key, block) — the
    streaming-incremental store passes its persisted block index so the
    member side is never re-keyed per micro-batch.

    Returns (q_key, q_name, q_etype, m_key).
    """
    forms = forms.filter(F.col("er_type") != "Document")
    queries = queries.filter(F.col("er_type") != "Document")
    keyed_m = (_block_keys(forms, max_block)
               if members_keyed is None else members_keyed)
    members = keyed_m.select(
        F.col("name").alias("m_name"), F.col("form_key").alias("m_key"),
        "block")
    qs = _block_keys(queries, max_block).select(
        F.col("name").alias("q_name"), F.col("norm_name").alias("q_norm"),
        F.col("er_type").alias("q_etype"), F.col("form_key").alias("q_key"),
        "block")
    lm, lq, lqn = F.lower("m_name"), F.lower("q_name"), F.lower("q_norm")
    # contains BEFORE dropDuplicates: the containment predicate depends only
    # on per-key columns (identical across a pair's duplicate block rows),
    # so filtering first is result-identical and shrinks the dedup
    # aggregation from the raw block-join output to the surviving pairs
    # (it also stops the planner sorting 4 carried strings through the
    # dedup — profiled as the bulk of containment_candidates' cost).
    return (qs.join(members, ["block"])
            .filter(F.col("m_key") != F.col("q_key"))
            .filter(lm.contains(lq) | lm.contains(lqn))
            .select("q_key", "q_name", "q_etype", "m_key")
            .dropDuplicates(["q_key", "m_key"]))


def candidate_pairs(forms: DataFrame, max_block: int = DEFAULT_MAX_BLOCK,
                    keyed: DataFrame | None = None,
                    later: DataFrame | None = None) -> DataFrame:
    """Blocked self-join → scored candidate match pairs (form_key_a < form_key_b).

    Blocking is type-free — the reference's LIKE candidate search spans all
    entity types (database.py:204-215) and its scoring uses the *incoming*
    entity's validated type (extraction_pipeline.py:628-648), so a Person
    surface form can resolve into an Organization cluster.  Keys are word
    tokens PLUS character 5-grams of the raw and normalized lowered names —
    the 5-grams guarantee a shared key for containment that crosses word
    boundaries (LIKE '%query%' semantics), see ``_block_keys``.
    Pure-stopword keys are dropped — any pair they alone would generate
    cannot pass the containment filter.

    Document forms are excluded from blocking entirely: the reference
    creates Document entities by DIRECT insert, never through the resolver
    (extraction_pipeline.py:600-612), so they are never incoming entities;
    and as stored candidates their machine-generated ``Doc_*`` names cannot
    contain a real ≥0.8-scoring query.  (They remain nodes and exact-tier
    resolution targets.)  This also keeps the per-conversation-unique doc
    names — one new form per conversation forever — out of the gram-key
    space.

    ``keyed``: precomputed capped block-key table for the non-Document
    forms (``_block_keys(forms.filter(er_type != 'Document'), max_block)``)
    — the same table ``containment_candidates`` consumes as
    ``members_keyed``, so one keying pass (explode + df caps, the most
    expensive part of blocking) serves both the ER self-join and the
    occurrence re-resolution.

    ``later``: the key rows for the later (key_b) side, same columns as
    ``keyed`` (default ``keyed`` itself, the self-join).  The streaming
    store passes only a micro-batch's new or affected forms here against
    its persisted index as ``keyed``, so only pairs whose later side is
    new are blocked and scored.
    """
    if keyed is None:
        keyed = _block_keys(forms.filter(F.col("er_type") != "Document"),
                            max_block)
    if later is None:
        later = keyed

    a = keyed.select(F.col("name").alias("name_a"),
                     F.col("form_key").alias("key_a"), "block")
    b = later.select(F.col("name").alias("name_b"),
                     F.col("norm_name").alias("norm_b"),
                     F.col("er_type").alias("etype_b"),
                     F.col("form_key").alias("key_b"), "block")

    la, lb = F.lower("name_a"), F.lower("name_b")
    nb = F.lower("norm_b")
    pairs = (a.join(b, ["block"])
             .filter(F.col("key_a") < F.col("key_b"))
             # Reference candidate generation is direction-sensitive
             # (database.py:204-215): the STORED (earlier, key_a) name must
             # contain the incoming (later, key_b) query — raw or normalized
             # (extraction_pipeline.py:636-643).  Applied BEFORE the pair
             # dedup: the predicate is identical across a pair's duplicate
             # block rows, so this is result-identical and the dedup
             # aggregates the surviving pairs instead of the raw block-join
             # output (same reordering as containment_candidates).
             .filter(la.contains(lb) | la.contains(nb))
             .drop("block")
             .dropDuplicates(["key_a", "key_b"]))
    return pairs.withColumn("score", _pair_score("name_a", "name_b", "etype_b"))


def blocked_overflow(forms: DataFrame,
                     max_block: int = DEFAULT_MAX_BLOCK) -> DataFrame:
    """Blocks larger than the cap, with how many forms were dropped from the
    candidate self-join — no silent truncation: callers append this to the
    lineage/metrics table so oversize hot surface forms are visible.
    """
    return (_block_keys(forms, max_block=None)
            .groupBy("block").agg(F.count("*").alias("n_forms"))
            .filter(F.col("n_forms") > max_block)
            .withColumn("n_dropped", F.col("n_forms") - max_block))


def match_edges(forms: DataFrame, threshold: float = MATCH_THRESHOLD,
                max_block: int = DEFAULT_MAX_BLOCK,
                keyed: DataFrame | None = None,
                pairs: DataFrame | None = None,
                prior_edges: DataFrame | None = None) -> DataFrame:
    """Accepted match pairs (key_a, key_b) for connected components.

    Two reference-resolver behaviors are replicated
    (find_best_match, extraction_pipeline.py:257-271, 615-733):

    1. **Argmax, not transitive closure** — each incoming entity merges with
       its single best-scoring candidate (strict ``>`` → first-stored wins
       ties).  Per later form (key_b) only the best edge is kept; the result
       is a functional forest collapsed by large-star/small-star.
    2. **Scores are against cluster CANONICAL names** — aliases only aid
       candidate discovery; ``find_best_match`` scores
       ``candidate.canonical_name``.  A form-level score can admit chain
       merges the reference rejects (e.g. "Aperture" scores 0.9 vs alias
       "Aperture LLC" but 0.79̅ vs that cluster's canonical
       "and Aperture Corporation").  Replicated by iterative refinement:
       build components from current edges, re-score every candidate pair
       against the earlier side's component canonical with the later form's
       validated type, re-argmax with the ≥ threshold cut, repeat until the
       edge set is stable (2-3 rounds in practice, at most
       ``CANONICAL_ROUNDS``; round 0 = every form its own canonical, i.e.
       the plain pair scores).

    Resolving against an existing store (streaming/incremental.py):
    ``pairs`` supplies pre-scored :func:`candidate_pairs` output (default:
    the full self-join over ``forms``), and ``prior_edges`` the store's
    accepted (key_a, key_b) edges, which are final.  Pairs whose key_b
    already has a prior edge are anti-joined out BEFORE the argmax, so a
    replayed batch can never give a form a second parent (the unique-parent
    invariant :func:`_forest_roots` depends on) and replay is idempotent.
    Refinement roots are taken over prior ∪ new edges, and only the NEW
    edges are returned.  ``forms`` must cover every form a pair's earlier
    side can resolve to (the canonical-name lookup).
    """
    if pairs is None:
        pairs = candidate_pairs(forms, max_block, keyed=keyed)
    if prior_edges is not None:
        pairs = pairs.join(prior_edges.select("key_b"), "key_b", "left_anti")
    return _argmax_rounds(forms, pairs, threshold, None, prior_edges)[0]


def name_band(forms: DataFrame, threshold: float = MATCH_THRESHOLD,
              max_block: int = DEFAULT_MAX_BLOCK, emb_confirm: float = 0.6):
    """The reference's THREE-band name resolution
    (extraction_pipeline.py:646-691): score ≥ 0.9 merges outright; 0.8–0.9
    merges only if the (pluggable, default char-trigram hash) embedding
    cosine between the cluster canonical and the incoming form reaches
    ``emb_confirm``, otherwise the form is QUEUED for review and kept as its
    own entity.  Candidates and refinement rounds are :func:`match_edges`'.

    Returns (edges, queue, winners): the accepted (key_a, key_b) edges; the
    queue (form_key, surface_text, reason, candidates, status), the Spark
    shape of the reference's ``resolution_queue`` table
    (database.py:517-530); and the final-round argmax winners with their
    embedding cosine (key_b, name_b, canon_key, canon_name, score,
    emb_cos), the band input an external oracle re-derives the thresholds
    from.
    """
    edges, winners = _argmax_rounds(
        forms, candidate_pairs(forms, max_block), threshold, emb_confirm)
    winners = winners.withColumn("emb_cos",
                                 _pair_emb_cosine("canon_name", "name_b"))
    queue = (winners
             .filter((F.col("score") < 0.9) & (F.col("emb_cos") < emb_confirm))
             .select(F.col("key_b").alias("form_key"),
                     F.col("name_b").alias("surface_text"),
                     F.lit("ambiguous_band_unconfirmed").alias("reason"),
                     F.array(F.struct(
                         F.col("canon_key").alias("candidate_key"),
                         F.round("score", 4).alias("score")))
                     .alias("candidates"),
                     F.lit("pending").alias("status")))
    return edges, queue, winners.select(
        "key_b", "name_b", "canon_key", "canon_name", "score", "emb_cos")


def _argmax_rounds(forms: DataFrame, pairs: DataFrame, threshold: float,
                   emb_confirm: float | None,
                   prior_edges: DataFrame | None = None):
    """The refinement rounds of :func:`match_edges` over scored ``pairs``;
    with ``emb_confirm`` set, 0.8–0.9 winners merge only when embedding-
    confirmed (:func:`name_band`).  Returns (edges, final-round winners)."""
    pairs = pairs.localCheckpoint()

    def best_candidates(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("key_b").orderBy(F.desc("score"),
                                                F.asc("canon_key"))
        return (scored.filter(F.col("score") >= threshold)
                .withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1))

    def accept(winners: DataFrame) -> DataFrame:
        if emb_confirm is None:
            return winners.select(F.col("canon_key").alias("key_a"), "key_b")
        confirmed = winners.withColumn(
            "emb_cos",
            F.when(F.col("score") >= 0.9, F.lit(1.0))
            .otherwise(_pair_emb_cosine("canon_name", "name_b")))
        return (confirmed
                .filter((F.col("score") >= 0.9)
                        | (F.col("emb_cos") >= emb_confirm))
                .select(F.col("canon_key").alias("key_a"), "key_b"))

    # round 0: canonical(a) = a itself
    winners = best_candidates(pairs
                              .withColumn("canon_key", F.col("key_a"))
                              .withColumn("canon_name", F.col("name_a")))
    edges = accept(winners)
    prev_sig = None
    for _ in range(CANONICAL_ROUNDS):
        edges, sig = _observed_checkpoint(edges)
        if sig == prev_sig:
            break
        prev_sig = sig
        # (form_key, canon_key); exact — the argmax edge set is a functional
        # forest pointing later → earlier
        canon_of = _forest_roots(edges if prior_edges is None
                                 else prior_edges.unionByName(edges))
        canon_names = forms.select(F.col("form_key").alias("canon_key"),
                                   F.col("name").alias("canon_name"))
        relabeled = (pairs
                     .join(canon_of.withColumnRenamed("form_key", "key_a"),
                           "key_a", "left")
                     .withColumn("canon_key",
                                 F.coalesce("canon_key", F.col("key_a")))
                     .join(canon_names, "canon_key"))
        # pairs whose earlier side is its own canonical keep the already-
        # computed form score; ONLY chain members re-score.  Split + union
        # instead of when(): Spark evaluates pandas UDFs on every row
        # regardless of the when() branch, which would re-score the whole
        # pair set each round.
        unchanged = relabeled.filter(F.col("canon_key") == F.col("key_a"))
        chained = (relabeled.filter(F.col("canon_key") != F.col("key_a"))
                   .withColumn("score", _pair_score("canon_name", "name_b",
                                                    "etype_b")))
        rescored = unchanged.unionByName(chained)
        winners = best_candidates(rescored)
        edges = accept(winners)
    return edges.select("key_a", "key_b"), winners


def knn_fallback_edges(forms: DataFrame, resolved_keys: DataFrame,
                       knn_threshold: float = 0.7, dim: int = 64,
                       queue_floor: float = 0.5,
                       emb: DataFrame | None = None):
    """Embedding-kNN candidate source for forms with NO name-based match —
    the reference's vector-store fallback (extraction_pipeline.py:695-727):
    candidates above RESOLUTION_CONFIDENCE_THRESHOLD (0.7, config.py:68) with
    matching type merge when name similarity > 0.6 or cosine > 0.85; failing
    that, candidates above 0.5 queue the form for review.

    Spark shape: banded cosine LSH over the form embeddings replaces the
    FAISS scan — the candidate join is bucket-equi, never all-pairs.
    Returns (edges, queue, scored): ``scored`` is the post-anti-join
    candidate table (id_a, id_b, name_b, type_a, type_b, cosine,
    name_score), the input an external oracle re-derives the kNN
    accept/queue bands from.

    Document forms are excluded on BOTH sides (mirroring candidate_pairs /
    containment_candidates): the reference inserts Document entities
    directly, never through the resolver (extraction_pipeline.py:600-612),
    and machine-generated per-conversation ``Doc_*`` names are near-identical
    under the trigram embedding (cosine ≈ 0.89 > 0.85), so embedding them
    would silently merge distinct conversations' Document entities.
    """
    from .similarity import lsh_cosine_pairs
    forms = forms.filter(F.col("er_type") != "Document")
    if emb is None:
        # ``emb``: precomputed (form_key, embedding) frame — lets a caller
        # that already embedded the vocabulary (or persisted it as a state
        # column) share the one inference pass instead of re-running the
        # UDF here (VERDICT r5 #2 seam)
        emb = forms.select(
            "form_key", "name", "er_type",
            _embed_udf(F.concat_ws(" ", "name", "er_type"))
            .alias("embedding"))
    cand = lsh_cosine_pairs(emb, dim=dim, n_planes=16, bands=4,
                            threshold=queue_floor, id_col="form_key",
                            vec_col="embedding")
    # id_a < id_b = earlier stored form ↔ later incoming form
    fa = forms.select(F.col("form_key").alias("id_a"),
                      F.col("name").alias("name_a"),
                      F.col("er_type").alias("type_a"))
    fb = forms.select(F.col("form_key").alias("id_b"),
                      F.col("name").alias("name_b"),
                      F.col("er_type").alias("type_b"))
    scored = (cand
              .join(resolved_keys.withColumnRenamed("key_b", "id_b"),
                    "id_b", "left_anti")
              .join(fa, "id_a").join(fb, "id_b")
              .withColumn("name_score",
                          _pair_score("name_a", "name_b", "type_b")))
    ok = ((F.col("cosine") > knn_threshold)
          & (F.col("type_a") == F.col("type_b"))
          & ((F.col("name_score") > 0.6) | (F.col("cosine") > 0.85)))
    w = Window.partitionBy("id_b").orderBy(F.desc("cosine"), F.asc("id_a"))
    best = (scored.filter(ok)
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1))
    edges = best.select(F.col("id_a").alias("key_a"),
                        F.col("id_b").alias("key_b"))
    queue = (scored
             .join(edges.select(F.col("key_b").alias("id_b")),
                   "id_b", "left_anti")
             .filter(F.col("cosine") > queue_floor)
             .withColumn("_rk", F.row_number().over(w))
             .filter(F.col("_rk") <= 3)
             .groupBy(F.col("id_b").alias("form_key"),
                      F.col("name_b").alias("surface_text"))
             # best-first, like the reference's resolution_queue candidate
             # ranking (database.py:517-530): score desc, key asc on ties —
             # sort on (-score, key) then strip the sort prefix
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct(
                     (-F.col("cosine")).alias("_neg"),
                     F.col("id_a").alias("candidate_key"),
                     F.round("cosine", 4).alias("score")))),
                 lambda s: F.struct(
                     s.candidate_key.alias("candidate_key"),
                     s.score.alias("score"))).alias("candidates"))
             .select("form_key", "surface_text",
                     F.lit("knn_unconfirmed").alias("reason"), "candidates",
                     F.lit("pending").alias("status")))
    return edges, queue, scored.select("id_a", "id_b", "name_b", "type_a",
                                       "type_b", "cosine", "name_score")


def resolve_with_queue(forms: DataFrame, threshold: float = MATCH_THRESHOLD,
                       max_block: int = DEFAULT_MAX_BLOCK,
                       emb_confirm: float = 0.6,
                       knn_threshold: float = 0.7):
    """Full three-band resolution with the embedding confirmer enabled:
    name-band merges (≥0.9, and 0.8-0.9 embedding-confirmed), kNN-fallback
    merges, and the resolution queue for everything ambiguous.  The default
    pipeline keeps the no-embedding deterministic behavior (reference
    behavior with an empty vector store); this entry point is the
    with-embeddings analogue.

    Returns (match_edges, queue, artifacts); ``artifacts`` is
    ``{"name_winners": ..., "knn_scored": ...}`` — the pre-band scored
    candidate tables, so an external oracle (DuckDB) can re-derive the
    accept/queue thresholds independently of this code.
    """
    name_edges, name_queue, name_winners = name_band(
        forms, threshold=threshold, max_block=max_block,
        emb_confirm=emb_confirm)
    # Forms already merged or queued by the name band never reach the kNN
    # fallback (the reference queues + creates the entity and moves on).
    resolved = (name_edges.select("key_b")
                .unionByName(name_queue.select(F.col("form_key")
                                               .alias("key_b"))))
    knn_edges, knn_queue, knn_scored = knn_fallback_edges(
        forms, resolved, knn_threshold=knn_threshold)
    return (name_edges.unionByName(knn_edges),
            name_queue.unionByName(knn_queue),
            {"name_winners": name_winners, "knn_scored": knn_scored})


def _forest_roots(edges: DataFrame, max_chain: int = 6) -> DataFrame:
    """(form_key → root form_key) for a functional forest where every edge
    points from a later key_b to an earlier key_a (the root is the tree's
    minimum key since every parent precedes its child).  ``edges`` must have
    UNIQUE key_b (the argmax resolvers guarantee ≤1 parent per form).

    Built LAZILY as one plan of ``max_chain`` joins against the ONE-level
    parent map (covers chain depth max_chain+1 = 7; argmax-forest chains are
    2-3 deep in practice): the earlier per-iteration checkpoint +
    convergence-count version cost ~10 scheduler round-trips per ER round, a
    core-count-independent latency tax that capped N→4N scaling efficiency.

    Linear chaining, NOT path doubling, on purpose: a k-level self-join
    doubling tree multiplies Catalyst's sizeInBytes estimate by ~2^k per
    application, and ``localCheckpoint`` PROPAGATES the source plan's stats
    into the checkpointed leaf (LogicalRDD.rewriteStatsAndConstraints) — so
    across canonical rounds the exponent compounds until the planner spends
    MINUTES multiplying million-digit BigIntegers (observed live: jstack
    showed SizeInBytesOnlyStatsPlanVisitor inside BigInteger.multiply for
    8+ min at sf0.001).  Linear steps grow the exponent by +1 per level and
    stay planner-cheap; runtime cost is the same single lazy job either way
    (ReuseExchange dedupes the shared parent scan).

    No-silent-cap guard: a chain deeper than max_chain+1 would silently map
    forms to a NON-root ancestor (wrong canonical, wrong rescoring) — so
    the returned canon_key column carries an ``assert_true`` that the mapped
    ancestor never itself appears as a child (key_b) in the edge set.  The
    check executes inside whatever job first consumes canon_key (zero extra
    scheduler round-trips); consumers must not drop the column unconsumed
    (column pruning would elide the assertion — every current caller joins
    or aggregates on canon_key).
    """
    parent = edges.select(F.col("key_b").alias("canon_key"),
                          F.col("key_a").alias("grand"))
    m = edges.select(F.col("key_b").alias("form_key"),
                     F.col("key_a").alias("canon_key"))
    for _ in range(max_chain):
        m = (m.join(parent, "canon_key", "left")
             .select("form_key", F.coalesce("grand", "canon_key")
                     .alias("canon_key")))
    children = (edges.select(F.col("key_b").alias("canon_key"))
                .withColumn("_is_child", F.lit(True)))
    return (m.join(children, "canon_key", "left")
            .select("form_key",
                    F.when(F.assert_true(
                        F.col("_is_child").isNull(),
                        F.lit("forest_roots: chain deeper than "
                              f"{max_chain + 1} — raise max_chain")
                    ).isNull(), F.col("canon_key")).alias("canon_key")))


def forest_components(matches: DataFrame) -> DataFrame:
    """(node, component) for an argmax-forest match-edge set — the ER
    canonicalization special case of connected components.

    Every accepted edge points later → strictly earlier (key_a < key_b) and
    each key_b has exactly one parent, so components ARE the forest's trees
    and the representative (min key) IS the tree root: one lazy chain-
    resolution plan replaces the general large-star/small-star iteration
    (~8 checkpointed rounds × 2 jobs at 300k-conversation scale — the single
    largest core-count-independent job-count term in the pipeline).  Roots are not
    returned (callers coalesce to the node's own key, same contract as
    ``components.connected_components``).  The general kernel remains for
    arbitrary graphs (analytics.clusters).
    """
    return _forest_roots(matches).select(
        F.col("form_key").alias("node"), F.col("canon_key").alias("component"))
