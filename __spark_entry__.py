"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full extract→resolve→build KG pipeline over a
deterministic synthetic transcript corpus sized from sf0.001, returning the
(subj, pred, obj) triple table.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (+ the training-data ops).  SQL-expressible operators carry a
DuckDB oracle; KG-pipeline and hash-function-dependent operators are
rows-only (documented per entry).
"""
from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# Make the repo importable regardless of the caller's cwd, and ship the
# package to executors (python workers inherit neither the driver's runtime
# sys.path mutations nor its cwd in the general case).
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

_PYFILES_SENT: set = set()


def _ship_package(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if id(sc) in _PYFILES_SENT:
        return
    import glob
    import shutil
    import tempfile
    zip_base = os.path.join(tempfile.gettempdir(), "knowledgegraphsiqidis_spark_pkg")
    zip_path = zip_base + ".zip"
    # Rebuild whenever any package source is newer than the zip — a stale
    # cached zip would otherwise shadow edited modules on executors.
    srcs = glob.glob(os.path.join(_REPO, "knowledgegraphsiqidis_spark",
                                  "**", "*.py"), recursive=True)
    newest = max(os.path.getmtime(p) for p in srcs)
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest:
        shutil.make_archive(zip_base, "zip", root_dir=_REPO,
                            base_dir="knowledgegraphsiqidis_spark")
    sc.addPyFile(zip_path)
    _PYFILES_SENT.add(id(sc))

_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# KG pipeline (memoized per sf_dir — several queries share one build)
# ---------------------------------------------------------------------------

_KG_CACHE: dict = {}

# The kg_* oracles verify the analytics operators with independent DuckDB SQL
# over the pipeline's materialized stage tables: every _kg() build dumps them
# here (per sf basename), and oracle_sql() reads the same dump.  Extraction +
# ER themselves are verified against the reference kernels by pytest
# (tests/test_pipeline_e2e.py), which SQL cannot express.
_KG_DUMP_ROOT = "/tmp/kg_oracle"
_KG_DUMP_TABLES = ("nodes", "edges", "extractions", "aliases")


def _kg(spark: SparkSession, sf_dir: str):
    key = sf_dir
    if key in _KG_CACHE:
        return _KG_CACHE[key]
    _ship_package(spark)
    from knowledgegraphsiqidis_spark.plans.pipeline import run_pipeline
    from knowledgegraphsiqidis_spark.sources.transcripts import transcripts_df
    n_docs = _t(spark, sf_dir, "documents").count()
    n_conv = max(20, n_docs // 2)
    transcripts = transcripts_df(spark, n_conv, seed=42).localCheckpoint()
    result = run_pipeline(spark, transcripts)
    for name in ("extractions", "nodes", "edges"):
        result.tables[name] = result.tables[name].cache()
    dump = os.path.join(_KG_DUMP_ROOT, os.path.basename(sf_dir.rstrip("/")))
    for name in _KG_DUMP_TABLES:
        result.tables[name].write.mode("overwrite").parquet(
            os.path.join(dump, name))
    _KG_CACHE[key] = result
    return result


def _dump_table(df: DataFrame, sf_dir: str, name: str) -> None:
    """Write a query's intermediate artifact (signatures, fingerprints,
    centroids, embedded vectors) under the per-sf oracle dump so the DuckDB
    oracle can re-derive the non-SQL-expressible stage's downstream logic
    from exactly the values the engine used (the resolution-queue
    technique).

    The bench's synthetic 10x-volume dirs (``/tmp/bench10x_*``) have no
    oracle — no oracle_sql() entry ever reads a dump under that basename —
    so dumping there only charged artifact IO to the scale2 operator
    timings (ADVICE r6).  Skipped for those dirs; unchanged everywhere the
    correctness harness runs."""
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("bench10x"):
        return
    dump = os.path.join(_KG_DUMP_ROOT, base)
    df.write.mode("overwrite").parquet(os.path.join(dump, name))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _kg(spark, "/root/testdata/sf0.001").triples()


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_p4_name_search(spark, sf):
    c = _t(spark, sf, "customer")
    return (c.filter(F.lower("c_name").contains("42"))
            .select("c_custkey", "c_name"))


def _q_j2_edge_denorm(spark, sf):
    o, c, n = _t(spark, sf, "orders"), _t(spark, sf, "customer"), _t(spark, sf, "nation")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price")))


def _q_j3_degree_topk(spark, sf):
    o = _t(spark, sf, "orders")
    return (o.groupBy(F.col("o_custkey").alias("id"))
            .agg(F.count("*").alias("connections"))
            .orderBy(F.desc("connections"), F.asc("id"))
            .limit(10))


def _q_j4_induced_subgraph(spark, sf):
    li = _t(spark, sf, "lineitem")
    parts = _t(spark, sf, "part").filter(F.col("p_retailprice") > 950) \
        .select(F.col("p_partkey").alias("l_partkey"))
    supp = _t(spark, sf, "supplier").filter(F.col("s_acctbal") > 5000) \
        .select(F.col("s_suppkey").alias("l_suppkey"))
    return (li.join(F.broadcast(parts), "l_partkey", "left_semi")
            .join(F.broadcast(supp), "l_suppkey", "left_semi")
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("l_extendedprice"), 2).alias("revenue")))


def _q_j10_bidirectional_pairs(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (li.groupBy(F.least("l_suppkey", "l_partkey").alias("a"),
                       F.greatest("l_suppkey", "l_partkey").alias("b"))
            .agg(F.count("*").alias("n_edges"))
            .filter(F.col("n_edges") > 1))


def _q_a1_stats(spark, sf):
    rows = []
    for name in ("orders", "lineitem", "customer", "supplier", "part"):
        rows.append(_t(spark, sf, name).select(
            F.lit(name).alias("tbl"), F.count(F.lit(1)).alias("n")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _q_a3_degree_diversity(spark, sf):
    o = _t(spark, sf, "orders")
    return (o.groupBy(F.col("o_custkey").alias("id"))
            .agg(F.count("*").alias("out_degree"),
                 F.countDistinct("o_orderpriority").alias("rel_diversity"),
                 F.countDistinct("o_orderstatus").alias("status_diversity")))


def _q_a5_pattern_histogram(spark, sf):
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("src_type"),
                     F.col("o_orderpriority").alias("relation_type"))
            .agg(F.count("*").alias("n")))


def _q_a6_dedup_argmax(spark, sf):
    p = _t(spark, sf, "part")
    mx = (p.groupBy(F.col("p_brand").alias("brand"))
          .agg(F.max("p_retailprice").alias("max_price")))
    return (p.join(mx, (p.p_brand == mx.brand)
                   & (p.p_retailprice == mx.max_price))
            .groupBy("brand", "max_price")
            .agg(F.min("p_name").alias("name")))


def _q_w2_best_match(spark, sf):
    from pyspark.sql import Window
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("o_custkey").alias("custkey"),
                    F.col("o_orderkey").alias("latest_order")))


def _q_w3_timeline(spark, sf):
    e = _t(spark, sf, "events")
    return (e.groupBy(F.date_trunc("month", "ts").cast("date").alias("month"),
                      "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value")))


def _q_s4_anti_join_resume(spark, sf):
    o = _t(spark, sf, "orders")
    manifest = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
    return (o.join(manifest, "o_orderkey", "left_anti")
            .groupBy("o_orderstatus").agg(F.count("*").alias("n")))


def _q_u2_union_dedup(spark, sf):
    c = _t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.unionByName(b).dropDuplicates(["c_custkey"])


def _q_u3_orphans(spark, sf):
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return (c.join(o.select(F.col("o_custkey").alias("c_custkey")),
                   "c_custkey", "left_anti")
            .select("c_custkey", "c_name"))


def _q_p8_json_extract(spark, sf):
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (e.select(k.alias("k_val"))
            .groupBy("k_val").agg(F.count("*").alias("n")))


def _q_f13_hash_dedup(spark, sf):
    d = _t(spark, sf, "documents")
    return (d.groupBy("lang")
            .agg(F.countDistinct(F.sha2("text", 256)).alias("n_distinct_texts"),
                 F.count("*").alias("n_docs")))


def _q_tpch_q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("count_order")))


def _q_f8_date_roundtrip(spark, sf):
    o = _t(spark, sf, "orders")
    s = F.date_format("o_orderdate", "MM/dd/yyyy")
    parsed = F.coalesce(F.to_date(s, "MM/dd/yyyy"), F.to_date(s, "yyyy-MM-dd"))
    return (o.select(F.year(parsed).alias("yr"))
            .groupBy("yr").agg(F.count("*").alias("n")))


def _q_f2_doc_classify(spark, sf):
    d = _t(spark, sf, "documents")
    head = F.lower(F.substring("text", 1, 200))
    cls = (F.when(head.contains("spark"), "spark")
           .when(head.contains("join"), "join")
           .when(head.contains("table"), "table")
           .otherwise("other"))
    return d.select(cls.alias("doc_class")).groupBy("doc_class") \
        .agg(F.count("*").alias("n"))


# --- training-data ops -----------------------------------------------------

def _q_dedup_exact_groups(spark, sf):
    d = _t(spark, sf, "documents")
    return (d.select(F.sha2("text", 256).alias("text_hash"), "doc_id")
            .groupBy("text_hash")
            .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id")))


def _q_token_stats(spark, sf):
    from knowledgegraphsiqidis_spark.operators.textanalysis import token_stats
    d = _t(spark, sf, "documents")
    return (token_stats(d)
            .select("doc_id", "n_tokens", "n_chars",
                    F.round("avg_token_len", 4).alias("avg_token_len")))


def _q_quality_score(spark, sf):
    from knowledgegraphsiqidis_spark.operators.textanalysis import quality_score
    return quality_score(_t(spark, sf, "documents"))


def _q_lang_id(spark, sf):
    from knowledgegraphsiqidis_spark.operators.textanalysis import language_id
    return language_id(_t(spark, sf, "documents"))


def _q_ngram_jaccard(spark, sf):
    # max_df caps hot boilerplate shingles (the O(k²) self-join blowup); the
    # DuckDB oracle applies the identical df filter.
    from knowledgegraphsiqidis_spark.operators.dedup import ngram_jaccard_pairs
    d = _t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.2, max_df=100)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _q_minhash_lsh(spark, sf):
    """MinHash banded LSH near-dup pairs — THE 100-TB dedup path.  The
    xxhash64 signatures have no DuckDB equivalent, so the Spark-computed
    signature table is dumped as a pre-band artifact and the oracle
    re-derives banding, candidate pairing and the signature-overlap verify
    in plain SQL over it (_minhash_sql — the resolution-queue oracle
    technique, VERDICT r5 #1).  Recall/precision vs exact Jaccard ground
    truth is additionally pytest-verified (test_dedup_similarity)."""
    from knowledgegraphsiqidis_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_signatures)
    d = _t(spark, sf, "documents")
    sig = minhash_signatures(d, num_hashes=64).localCheckpoint()
    _dump_table(sig, sf, "minhash_sigs")
    return (minhash_lsh_pairs(d, num_hashes=64, bands=16, threshold=0.5,
                              signatures=sig)
            .select("id_a", "id_b", F.round("est_jaccard", 4)
                    .alias("est_jaccard")))


def _q_simhash_pairs(spark, sf):
    """SimHash hamming-band near-dup pairs.  Same artifact-oracle technique
    as minhash_lsh: the xxhash64-voted fingerprints are dumped and the
    4×16-bit banding + hamming verify re-derived in SQL (_simhash_sql —
    DuckDB's >> is arithmetic like Spark's shiftright, and &0xFFFF makes
    the band bucket sign-insensitive)."""
    from knowledgegraphsiqidis_spark.operators.dedup import (
        simhash, simhash_near_pairs)
    d = _t(spark, sf, "documents")
    fp = simhash(d).localCheckpoint()
    _dump_table(fp, sf, "simhash_fps")
    return (simhash_near_pairs(d, max_hamming=3, fingerprints=fp)
            .select("id_a", "id_b",
                    F.col("hamming").cast("long").alias("hamming")))


def _q_ivf_topk(spark, sf):
    """IVF-partitioned ANN top-k (VERDICT r5 #3 — driver-verified this
    round).  The bounded deterministic k-means training is shared state
    (dumped as the tiny centroid table, exactly what a cluster would
    broadcast); cell assignment, probe selection and the in-cell exact
    top-k are re-derived independently in DuckDB SQL over the same
    centroids (_ivf_sql).  Full-probe ≡ brute-force identity is
    pytest-pinned (test_dedup_similarity)."""
    from knowledgegraphsiqidis_spark.operators.similarity import (
        ivf_topk, ivf_train)
    e = _t(spark, sf, "embeddings")
    cents = ivf_train(e, n_centroids=16, seed=7)
    _dump_table(spark.createDataFrame(
        [(int(i), c) for i, c in enumerate(cents)],
        "cid int, cvec array<double>"), sf, "ivf_centroids")
    q = (e.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    return ivf_topk(e, q, k=5, n_centroids=16, n_probe=4, centroids=cents)


def _q_embedding_near_dup(spark, sf):
    """Embedding-cosine near-dup over documents (VERDICT r5 #3), with
    PLANTED near-identical texts (doc_id+500000, one appended token →
    trigram-hash cosine ≈ 1) so the verified pair set is non-empty at
    every sf.  The Python hash-embedding cannot run in DuckDB, so the
    embedded vectors AND the deterministic hyperplane table are dumped;
    the oracle re-derives sign bits, band buckets, candidate pairs and the
    exact cosine verify in SQL (_embdup_sql) — an exact replication of the
    banding, not a probabilistic recall bound."""
    _ship_package(spark)  # _embed_udf runs on executors
    from knowledgegraphsiqidis_spark.operators.dedup import embedding_near_dup
    from knowledgegraphsiqidis_spark.operators.resolve import _embed_udf
    from knowledgegraphsiqidis_spark.operators.similarity import _plane_table
    d = _t(spark, sf, "documents").select("doc_id", "text")
    planted = (d.filter(F.col("doc_id") < 20)
               .select((F.col("doc_id") + 500000).alias("doc_id"),
                       F.concat(F.col("text"), F.lit(" x")).alias("text")))
    alld = d.unionByName(planted)
    # _spread before the UDF: the embedding pass's Python-worker
    # parallelism equals the input partition count, and the small-bytes
    # corpus scan otherwise runs it on 1-4 of the session's cores
    from knowledgegraphsiqidis_spark.operators.dedup import _spread
    emb = (_spread(alld).select(F.col("doc_id").alias("vec_id"),
                                _embed_udf(F.col("text")).alias("embedding"))
           .localCheckpoint())
    _dump_table(emb, sf, "embdup_vecs")
    _dump_table(_plane_table(spark, 64, 16, 4), sf, "embdup_planes")
    return embedding_near_dup(alld, threshold=0.85, emb=emb)


def _q_ann_cosine_topk(spark, sf):
    from knowledgegraphsiqidis_spark.operators.similarity import cosine_topk
    e = _t(spark, sf, "embeddings")
    q = (e.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    return cosine_topk(e, q, k=5)


def _q_multimodal_meta(spark, sf):
    _ship_package(spark)  # mapInPandas closure imports the package on executors
    from knowledgegraphsiqidis_spark.operators.multimodal import (
        extract_features, synth_media)
    d = _t(spark, sf, "documents")
    media = synth_media(spark, d)
    return (extract_features(media)
            .select("media_id", "kind", "n_bytes", "content_hash"))


# --- KG pipeline queries (rows-only: regex extraction + ER are not ANSI SQL) -

def _q_kg_triples(spark, sf):
    return _kg(spark, sf).triples()


def _q_kg_nodes_by_type(spark, sf):
    nodes = _kg(spark, sf).tables["nodes"]
    return nodes.groupBy("type").agg(F.count("*").alias("n"))


def _q_kg_degree_topk(spark, sf):
    from knowledgegraphsiqidis_spark.operators.analytics import top_connected
    r = _kg(spark, sf)
    return top_connected(r.tables["nodes"], r.tables["edges"], k=10)


def _q_kg_pagerank(spark, sf):
    from knowledgegraphsiqidis_spark.operators.analytics import pagerank
    r = _kg(spark, sf)
    pr = pagerank(r.tables["nodes"], r.tables["edges"], iterations=10)
    return (pr.join(r.tables["nodes"], "id")
            .select("canonical_name", F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("canonical_name")).limit(10))


def _q_kg_clusters(spark, sf):
    from knowledgegraphsiqidis_spark.operators.analytics import clusters
    r = _kg(spark, sf)
    cl = clusters(r.tables["nodes"], r.tables["edges"])
    return (cl.groupBy("cluster").agg(F.count("*").alias("size"))
            .groupBy("size").agg(F.count("*").alias("n_clusters")))


def _q_kg_relation_patterns(spark, sf):
    from knowledgegraphsiqidis_spark.operators.analytics import relation_patterns
    r = _kg(spark, sf)
    return relation_patterns(r.tables["nodes"], r.tables["edges"])


def _q_kg_timeline(spark, sf):
    from knowledgegraphsiqidis_spark.operators.analytics import timeline
    r = _kg(spark, sf)
    return (timeline(r.tables["extractions"])
            .groupBy(F.year("date").alias("yr"), "date_type")
            .agg(F.count("*").alias("n")))


def _q_g17_two_hop(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_suppkey") < 20)
    e1 = li.select(F.col("l_suppkey").alias("a"),
                   F.col("l_partkey").alias("b")).distinct()
    e2 = li.select(F.col("l_partkey").alias("b"),
                   F.col("l_orderkey").alias("c")).distinct()
    return (e1.join(e2, "b").select("a", "c").distinct()
            .groupBy("a").agg(F.count("*").alias("n_two_hop")))


def _q_kg_importance(spark, sf):
    from knowledgegraphsiqidis_spark.operators.inference import entity_importance
    r = _kg(spark, sf)
    return (entity_importance(r.tables["nodes"], r.tables["edges"], iterations=10)
            .select("canonical_name", "type", F.round("importance", 5)
                    .alias("importance"))
            .limit(15))


def _q_kg_transitive(spark, sf):
    from knowledgegraphsiqidis_spark.operators.inference import (
        transitive_inference)
    r = _kg(spark, sf)
    return (transitive_inference(r.tables["nodes"], r.tables["edges"])
            .groupBy("inferred_relation").agg(F.count("*").alias("n")))


def _q_kg_common_neighbor(spark, sf):
    from knowledgegraphsiqidis_spark.operators.inference import (
        common_neighbor_inference)
    r = _kg(spark, sf)
    return (common_neighbor_inference(r.tables["nodes"], r.tables["edges"])
            .groupBy("inferred_relation").agg(F.count("*").alias("n")))


def _q_kg_betweenness(spark, sf):
    from knowledgegraphsiqidis_spark.operators.analytics import (
        betweenness_sampled)
    r = _kg(spark, sf)
    bc = betweenness_sampled(r.tables["nodes"], r.tables["edges"], n_sources=6)
    return (bc.join(r.tables["nodes"], "id")
            .select("canonical_name", F.round("betweenness", 4).alias("betweenness"))
            .orderBy(F.desc("betweenness"), F.asc("canonical_name")).limit(10))


def _q_kg_bayes_resolve(spark, sf):
    from knowledgegraphsiqidis_spark.operators.inference import bayesian_resolve
    r = _kg(spark, sf)
    return bayesian_resolve(r.tables["nodes"], r.tables["aliases"],
                            r.tables["edges"], "Gulfstream")


def _kg_endpoints(spark, sf):
    """Deterministic path endpoints: the two highest-degree nodes
    (connections desc, id asc) — same ordering the oracle SQL uses."""
    from knowledgegraphsiqidis_spark.operators.analytics import degree
    r = _kg(spark, sf)
    top = (degree(r.tables["edges"])
           .orderBy(F.desc("connections"), F.asc("id")).limit(2).collect())
    return top[0]["id"], top[1]["id"]


def _q_kg_path_hops(spark, sf):
    """Shortest-path LENGTH between the two hottest nodes — oracled by a
    deduplicating recursive-CTE BFS in DuckDB."""
    from knowledgegraphsiqidis_spark.operators.analytics import shortest_path
    r = _kg(spark, sf)
    s, t = _kg_endpoints(spark, sf)
    return shortest_path(r.tables["edges"], s, t, max_hops=6) \
        .select("src", "dst", "hops")


def _q_kg_shortest_path(spark, sf):
    """Full path reconstruction (G8).  Retired from the registry in round 5
    (the driver checks exactly 50 queries and this rows-only entry crowded
    the oracled ``corroboration`` out of the window — VERDICT r4 #1):
    ``shortest_path`` reconstructs the path on every ``kg_path_hops`` run
    anyway, and the exact path VALUES (lexicographic-min among shortest,
    not tractable in set SQL) stay pytest-verified in tests/test_paths.py.
    Kept callable for direct use."""
    from knowledgegraphsiqidis_spark.operators.analytics import shortest_path
    r = _kg(spark, sf)
    s, t = _kg_endpoints(spark, sf)
    p = shortest_path(r.tables["edges"], s, t, max_hops=6)
    return p.select("src", "dst", "hops",
                    F.array_join("path", " -> ").alias("path"))


def _q_kg_all_paths(spark, sf):
    """Bounded all-simple-paths (G9) between the two hottest nodes, ≤2 hops
    — oracled by direct + common-neighbor join enumeration in DuckDB."""
    from knowledgegraphsiqidis_spark.operators.analytics import all_paths
    r = _kg(spark, sf)
    s, t = _kg_endpoints(spark, sf)
    return (all_paths(r.tables["edges"], s, t, max_hops=2)
            .groupBy("hops").agg(F.count("*").alias("n_paths")))


def _q_kg_disambiguate(spark, sf):
    """F7 disambiguation tiers over the built graph — oracled by an
    independent SQL re-derivation of the tier scores (_kg_disambiguate_sql);
    exact parity vs the reference's _compute_entity_match_score is
    additionally pytest-verified (test_f7_match.py)."""
    from knowledgegraphsiqidis_spark.operators.nlquery import disambiguate
    r = _kg(spark, sf)
    return disambiguate("gulfstream", r.tables["nodes"], r.tables["aliases"],
                        k=10)


_KG_QUEUE_CACHE: dict = {}


def _kg_queue(spark, sf):
    """Memoized three-band resolution build (shared by the queue + rate
    queries — it is the expensive embedding-confirmed ER).  Dumps the
    pre-band scored-candidate artifacts (er_forms, er_winners, knn_scored)
    so the DuckDB oracles can re-derive the accept/queue band thresholds
    (extraction_pipeline.py:646-727) independently of the engine."""
    if sf in _KG_QUEUE_CACHE:
        return _KG_QUEUE_CACHE[sf]
    from knowledgegraphsiqidis_spark.operators.resolve import (
        entity_forms, resolve_with_queue)
    r = _kg(spark, sf)
    forms = entity_forms(r.tables["extractions"]).localCheckpoint()
    edges, queue, art = resolve_with_queue(forms)
    dump = os.path.join(_KG_DUMP_ROOT, os.path.basename(sf.rstrip("/")))
    for name, df in (("er_forms", forms),
                     ("er_winners", art["name_winners"]),
                     ("knn_scored", art["knn_scored"])):
        df.write.mode("overwrite").parquet(os.path.join(dump, name))
    out = (forms, edges.localCheckpoint(), queue.localCheckpoint())
    _KG_QUEUE_CACHE[sf] = out
    return out


def _q_kg_resolution_queue(spark, sf):
    """Three-band ER with the embedding confirmer: ambiguous 0.8-0.9 matches
    that the embedding does not confirm, plus unaccepted kNN candidates,
    land in the resolution queue (reference resolution_queue table,
    database.py:517-530).  Oracled: the band thresholds are re-derived as
    DuckDB SQL over the dumped pre-band artifacts (_kg_queue_sql); band
    semantics are additionally pytest-verified (test_resolution_queue.py)."""
    _, _, queue = _kg_queue(spark, sf)
    return (queue.select("form_key", "surface_text", "reason",
                         F.explode("candidates").alias("c"), "status")
            .select("form_key", "surface_text", "reason",
                    F.col("c.candidate_key").alias("candidate_key"),
                    F.round("c.score", 4).alias("score"), "status"))


def _q_kg_queue_apply(spark, sf):
    """G5b: the resolution-queue review workflow as one bulk operator
    (operators/queue_review.apply_resolutions; reference pop/resolve,
    database.py:532-573).  Deterministic reviewer policy: for every
    name-band queue item, accept its top candidate when the recorded score
    >= 0.6, else keep-own (NULL decision) — both mark the item resolved;
    kNN items are left un-reviewed (pending).  Oracle: the same policy in
    SQL over the re-derived band queue (_kg_queue_apply_sql)."""
    from knowledgegraphsiqidis_spark.operators import queue_review
    _, _, queue = _kg_queue(spark, sf)
    top = F.element_at("candidates", 1)
    decisions = (queue.filter(F.col("reason") == "ambiguous_band_unconfirmed")
                 .select("form_key",
                         F.when(top["score"] >= 0.6,
                                top["candidate_key"]).alias("entity_id")))
    out = queue_review.apply_resolutions(queue, decisions)
    linked = decisions.withColumnRenamed("entity_id", "linked_entity")
    return (out["queue"]
            .join(F.broadcast(linked), "form_key", "left")
            .select("form_key", "surface_text", "reason", "status",
                    "linked_entity")
            .orderBy("form_key"))


def _q_kg_resolution_rate(spark, sf):
    """A9: resolution success rate (server.py:2145 analogue) — fraction of
    surface forms resolved without queueing under the three-band resolver.
    Oracled over the same dumped artifacts (_kg_rate_sql)."""
    forms, edges, queue = _kg_queue(spark, sf)
    n_forms = forms.count()
    n_merged = edges.select("key_b").distinct().count()
    n_queued = queue.select("form_key").distinct().count()
    rate = round(1.0 - n_queued / max(n_forms, 1), 6)
    return spark.createDataFrame(
        [(n_forms, n_merged, n_queued, rate)],
        "n_forms long, n_merged long, n_queued long, resolution_rate double")


def _q_corroboration(spark, sf):
    from knowledgegraphsiqidis_spark.operators.inference import (
        TOKEN_DF_CAP, fact_corroboration)
    d = _t(spark, sf, "documents")
    facts = d.select(F.col("doc_id").cast("string").alias("fact_id"),
                     F.substring("text", 1, 120).alias("text"),
                     F.when(F.col("lang") == "en", "finding")
                     .otherwise("allegation").alias("fact_type"))
    sources = d.select(F.col("doc_id").cast("string").alias("fact_id"),
                       F.col("source").alias("source_doc"))
    # scale cap passed EXPLICITLY (operator default is reference-exact
    # uncapped, per round-3 advice); the DuckDB oracle mirrors this cap
    return fact_corroboration(facts, sources, max_df=TOKEN_DF_CAP)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries (the driver's check window) — ALL hash-oracled
    as of round 6: the former rows-only trio gained artifact-table /
    unrolled-SQL oracles (_minhash_sql/_simhash_sql/_betweenness_sql), and
    ``ivf_topk`` + ``embedding_near_dup`` joined the window (VERDICT r5
    #1/#3).  Retired to make room: ``tpch_q3ish`` (demo query, not a
    SURVEY operator) and ``lsh_cosine`` (its banded hyperplane-LSH kernel
    is now exactly oracled through ``embedding_near_dup``, which calls the
    same ``lsh_cosine_pairs``); ``kg_shortest_path`` retired earlier (r4).
    """
    return {
        "p4_name_search": _q_p4_name_search,
        "j2_edge_denorm": _q_j2_edge_denorm,
        "j3_degree_topk": _q_j3_degree_topk,
        "j4_induced_subgraph": _q_j4_induced_subgraph,
        "j10_bidirectional_pairs": _q_j10_bidirectional_pairs,
        "a1_stats": _q_a1_stats,
        "a3_degree_diversity": _q_a3_degree_diversity,
        "a5_pattern_histogram": _q_a5_pattern_histogram,
        "a6_dedup_argmax": _q_a6_dedup_argmax,
        "w2_best_match": _q_w2_best_match,
        "w3_timeline": _q_w3_timeline,
        "s4_anti_join_resume": _q_s4_anti_join_resume,
        "u2_union_dedup": _q_u2_union_dedup,
        "u3_orphans": _q_u3_orphans,
        "p8_json_extract": _q_p8_json_extract,
        "f13_hash_dedup": _q_f13_hash_dedup,
        "tpch_q1": _q_tpch_q1,
        "f8_date_roundtrip": _q_f8_date_roundtrip,
        "f2_doc_classify": _q_f2_doc_classify,
        "dedup_exact_groups": _q_dedup_exact_groups,
        "token_stats": _q_token_stats,
        "quality_score": _q_quality_score,
        "lang_id": _q_lang_id,
        "ngram_jaccard": _q_ngram_jaccard,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ivf_topk": _q_ivf_topk,
        "embedding_near_dup": _q_embedding_near_dup,
        "multimodal_meta": _q_multimodal_meta,
        "kg_triples": _q_kg_triples,
        "kg_nodes_by_type": _q_kg_nodes_by_type,
        "kg_degree_topk": _q_kg_degree_topk,
        "kg_pagerank": _q_kg_pagerank,
        "kg_clusters": _q_kg_clusters,
        "kg_relation_patterns": _q_kg_relation_patterns,
        "kg_timeline": _q_kg_timeline,
        "g17_two_hop": _q_g17_two_hop,
        "kg_importance": _q_kg_importance,
        "kg_transitive": _q_kg_transitive,
        "kg_common_neighbor": _q_kg_common_neighbor,
        "kg_bayes_resolve": _q_kg_bayes_resolve,
        "kg_path_hops": _q_kg_path_hops,
        "kg_all_paths": _q_kg_all_paths,
        "kg_disambiguate": _q_kg_disambiguate,
        "kg_resolution_queue": _q_kg_resolution_queue,
        "kg_queue_apply": _q_kg_queue_apply,
        "kg_resolution_rate": _q_kg_resolution_rate,
        "corroboration": _q_corroboration,
        "minhash_lsh": _q_minhash_lsh,
        "simhash_pairs": _q_simhash_pairs,
        "kg_betweenness": _q_kg_betweenness,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_STOPWORDS_EN = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]
_LANG_WORDS = {
    "en": _STOPWORDS_EN,
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "en", "un", "por"],
}


def _lang_score_sql(lang: str) -> str:
    toks = "string_split_regex(lower(text), '\\s+')"
    hits = " + ".join(
        f"(CASE WHEN list_contains({toks}, '{w}') THEN 1 ELSE 0 END)"
        for w in _LANG_WORDS[lang])
    return f"({hits})"


# --- kg_* oracles: independent DuckDB SQL over the _kg() stage-table dump ---

def _kg_rp(table: str) -> str:
    sfb = os.environ.get("KG_ORACLE_SF", "sf0.01")
    return f"read_parquet('{_KG_DUMP_ROOT}/{sfb}/{table}/*.parquet')"


def _case_sql(col: str, table: dict, default: float) -> str:
    whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in table.items())
    return f"(CASE {col} {whens} ELSE {default} END)"


def _pagerank_ctes(iterations: int, prefix: str, damping: float,
                   dangling: bool) -> list[str]:
    """Chained CTEs r0..rN unrolling the power iteration — r0 init is 1.0
    (analytics.pagerank) when dangling redistribution is on, else 1/n
    (inference.pagerank_reference).  Reads go through the materialized nt/et
    base CTEs: DuckDB fails on a query repeating the same read_parquet glob
    >~12 times, and one scan each is the right plan anyway."""
    nodes, edges = "nt", "et"
    init = "1.0" if dangling else "1.0 / (SELECT n FROM nn)"
    # Every iteration CTE is MATERIALIZED: each is referenced up to three
    # times (next rank, dangling mass, contributions) and DuckDB inlines
    # plain CTEs — without materialization the plan recomputes r0 O(3^N)
    # times.
    ctes = [f"{prefix}0 AS MATERIALIZED (SELECT id, {init} AS rank "
            f"FROM {nodes})"]
    for i in range(1, iterations + 1):
        p, c = f"{prefix}{i-1}", f"{prefix}{i}"
        if dangling:
            base = (f"(1.0 - {damping}) + {damping} * "
                    f"(SELECT coalesce(sum(x.rank), 0) FROM {p} x "
                    f"LEFT JOIN od ON x.id = od.src WHERE od.src IS NULL) "
                    f"/ (SELECT n FROM nn)")
        else:
            base = f"(1.0 - {damping}) / (SELECT n FROM nn)"
        ctes.append(
            f"{c} AS MATERIALIZED (SELECT r.id, {base} + {damping} * "
            f"coalesce(c.contrib, 0) AS rank FROM {p} r LEFT JOIN "
            f"(SELECT e.dst AS id, sum(pr.rank / od.out_deg) AS contrib "
            f"FROM {edges} e JOIN {p} pr ON e.src = pr.id "
            f"JOIN od ON od.src = e.src GROUP BY e.dst) c ON c.id = r.id)")
    return ctes


def _base_ctes() -> list[str]:
    return [
        "nt AS MATERIALIZED (SELECT id, canonical_name, type, n_mentions "
        f"FROM {_kg_rp('nodes')})",
        "et AS MATERIALIZED (SELECT src, dst, relation_type, confidence "
        f"FROM {_kg_rp('edges')})",
    ]


def _kg_pagerank_sql(iterations: int = 10, damping: float = 0.85) -> str:
    ctes = _base_ctes() + [
        "nn AS (SELECT count(*) AS n FROM nt)",
        "od AS (SELECT src, count(*) AS out_deg FROM et GROUP BY src)"]
    ctes += _pagerank_ctes(iterations, "r", damping, dangling=True)
    return (
        "WITH " + ", ".join(ctes) +
        f" SELECT n.canonical_name, round(r{iterations}.rank, 6) AS rank "
        f"FROM r{iterations} JOIN nt n ON n.id = r{iterations}.id "
        "ORDER BY 2 DESC, 1 ASC LIMIT 10")


def _kg_importance_sql(iterations: int = 10, damping: float = 0.85) -> str:
    from knowledgegraphsiqidis_spark.operators.inference import TYPE_WEIGHTS
    ctes = _base_ctes() + [
        "nn AS (SELECT count(*) AS n FROM nt)",
        "od AS (SELECT src, count(*) AS out_deg FROM et GROUP BY src)"]
    ctes += _pagerank_ctes(iterations, "s", damping, dangling=False)
    ctes += [
        f"pr AS (SELECT id, rank * (SELECT n FROM nn) AS pagerank "
        f"FROM s{iterations})",
        "ind AS (SELECT dst AS id, count(*) AS in_degree FROM et GROUP BY dst)",
        "outd AS (SELECT src AS id, count(*) AS out_degree FROM et "
        "GROUP BY src)",
        "div AS (SELECT id, count(DISTINCT relation_type) AS rel_diversity "
        "FROM (SELECT src AS id, relation_type FROM et UNION ALL "
        "SELECT dst, relation_type FROM et) GROUP BY id)",
        "mm AS (SELECT greatest(max(coalesce(n_mentions, 0)), 1) AS mx "
        "FROM nt)",
        "j AS (SELECT n.canonical_name, n.type, "
        "0.35 * coalesce(pr.pagerank, 0) "
        "+ 0.20 * ln(1 + coalesce(ind.in_degree, 0) "
        "+ coalesce(outd.out_degree, 0)) "
        "+ 0.15 * ln(1 + coalesce(div.rel_diversity, 0)) "
        "+ 0.20 * (coalesce(n.n_mentions, 0) / (SELECT mx FROM mm)) "
        f"+ 0.10 * {_case_sql('n.type', TYPE_WEIGHTS, 1.0)} AS imp "
        "FROM nt n LEFT JOIN pr ON pr.id = n.id "
        "LEFT JOIN ind ON ind.id = n.id LEFT JOIN outd ON outd.id = n.id "
        "LEFT JOIN div ON div.id = n.id)",
        "sel AS (SELECT * FROM j ORDER BY imp DESC, canonical_name LIMIT 15)",
    ]
    return ("WITH " + ", ".join(ctes) +
            " SELECT canonical_name, type, round(imp, 5) AS importance FROM sel")


def _kg_transitive_sql() -> str:
    from knowledgegraphsiqidis_spark.operators.inference import PATH_PATTERNS
    nodes, edges = _kg_rp("nodes"), _kg_rp("edges")
    whens = " ".join(
        f"WHEN a_type = '{st}' AND rel1 = '{r1}' AND rel2 = '{r2}' "
        f"AND c_type = '{tt}' THEN '{out}'"
        for (st, r1, r2, tt), out in PATH_PATTERNS.items())
    return f"""
WITH th AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c,
         e1.relation_type AS rel1, e2.relation_type AS rel2,
         e1.confidence AS conf1, e2.confidence AS conf2
  FROM {edges} e1 JOIN {edges} e2 ON e1.dst = e2.src
  WHERE e1.src != e2.dst),
nf AS (SELECT th.* FROM th WHERE NOT EXISTS
  (SELECT 1 FROM {edges} d WHERE d.src = th.a AND d.dst = th.c)),
best AS (SELECT * FROM (SELECT *, row_number() OVER (
  PARTITION BY a, c ORDER BY rel1, rel2, b, conf1, conf2) AS rn FROM nf)
  WHERE rn = 1),
typed AS (SELECT best.*, na.type AS a_type, nc.type AS c_type FROM best
  JOIN {nodes} na ON na.id = best.a JOIN {nodes} nc ON nc.id = best.c)
SELECT CASE {whens} ELSE 'inferred_' || rel1 || '_then_' || rel2 END
  AS inferred_relation, count(*) AS n
FROM typed GROUP BY 1"""


def _kg_bayes_sql(q: str = "gulfstream", limit: int = 50) -> str:
    nodes, edges, aliases = _kg_rp("nodes"), _kg_rp("edges"), _kg_rp("aliases")
    conf_case = _case_sql("confidence",
                          {"confirmed": 1.0, "extracted": 0.7, "inferred": 0.4},
                          0.5)
    qwords = ", ".join(f"'{w}'" for w in q.split())
    return f"""
WITH ah AS (
  SELECT entity_id AS id,
         max(CASE WHEN lower(trim(alias_text)) = '{q}' THEN 1 ELSE 0 END)
           AS alias_exact_hit
  FROM {aliases}
  WHERE lower(trim(alias_text)) LIKE '%{q}%'
     OR position(lower(trim(alias_text)) IN '{q}') > 0
  GROUP BY entity_id),
cand AS (
  SELECT * FROM {nodes} n
  WHERE lower(trim(canonical_name)) LIKE '%{q}%'
     OR EXISTS (SELECT 1 FROM ah WHERE ah.id = n.id)
  ORDER BY id LIMIT {limit}),
deg AS (SELECT id, count(*) AS deg FROM
  (SELECT src AS id FROM {edges} UNION ALL SELECT dst FROM {edges})
  GROUP BY id),
feat AS (
  SELECT c.id, c.canonical_name, c.type,
    lower(trim(c.canonical_name)) AS nl,
    string_split_regex(lower(trim(c.canonical_name)), '\\s+') AS nw,
    coalesce(ah.alias_exact_hit, 0) AS aeh,
    coalesce(deg.deg, 0) AS deg, coalesce(c.n_mentions, 0) AS mc,
    {conf_case} AS conf_prior
  FROM cand c LEFT JOIN ah ON ah.id = c.id LEFT JOIN deg ON deg.id = c.id),
scored AS (
  SELECT id, canonical_name, type,
    1.0 / (1.0 + exp(-(
      2.0 * (CASE WHEN nl = '{q}' THEN 1.0 ELSE 0.0 END)
      + 1.2 * (CASE WHEN nl != '{q}' AND (nl LIKE '%{q}%'
               OR position(nl IN '{q}') > 0) THEN 0.7 ELSE 0.0 END)
      + 1.0 * (CASE WHEN nl != '{q}' AND NOT (nl LIKE '%{q}%'
               OR position(nl IN '{q}') > 0)
               THEN len(list_intersect(nw, [{qwords}]))
                    / greatest(len(list_distinct(
                        list_concat(nw, [{qwords}]))), 1)
               ELSE 0.0 END)
      + 1.5 * (CASE WHEN aeh = 1 THEN 0.9 ELSE 0.0 END)
      + 0.4 * (ln(1 + mc) / 10) + 0.3 * (ln(1 + deg) / 20)
      + 0.5 * conf_prior))) AS raw_p
  FROM feat)
SELECT id, canonical_name, type,
       round(raw_p / sum(raw_p) OVER (), 6) AS probability
FROM scored"""


def _kg_disambiguate_sql(q: str = "gulfstream", k: int = 10) -> str:
    """F7 disambiguation tiers (nl_query.py:298-349) as pure DuckDB SQL over
    the nodes+aliases dump — independent re-derivation of
    nlquery.entity_match_score: exact 1.0 > suffix-normalized 0.95 >
    [acronym 0.9 — never fires for a lowercase query like {q!r}] >
    substring coverage (0.7 q-in-name / 0.6 name-in-q, elif) maxed with
    word overlap (0.5) and alias tiers (exact 0.85 / containment 0.6).
    """
    from knowledgegraphsiqidis_spark.operators.nlquery import _F7_SUFFIXES
    nodes, aliases = _kg_rp("nodes"), _kg_rp("aliases")

    def norm(expr: str) -> str:
        out = expr
        for suf in _F7_SUFFIXES:
            out = f"replace({out}, '{suf}', '')"
        return f"trim({out})"

    qn = norm(f"'{q}'")
    qw = ", ".join(f"'{w}'" for w in q.lower().split())
    contains = (f"(en LIKE '%{q}%' OR position(en IN '{q}') > 0)")
    sub_score = (
        f"CASE WHEN en LIKE '%{q}%' THEN {len(q)}.0 / len(en) * 0.7 "
        f"WHEN position(en IN '{q}') > 0 THEN len(en) / {len(q)}.0 * 0.6 "
        f"ELSE 0.0 END")
    # Python uses word SETS (set(name.split())) — dedup both sides
    ew = "list_distinct(string_split_regex(en, '\\s+'))"
    overlap = f"len(list_intersect({ew}, [{qw}]))"
    ov_score = (f"CASE WHEN {overlap} > 0 THEN {overlap} * 0.5 / "
                f"greatest(len({ew}), {len(set(q.split()))}) "
                f"ELSE 0.0 END")
    alias_score = (
        "coalesce(list_max(list_transform(als, a -> "
        f"CASE WHEN lower(a) = '{q}' THEN 0.85 "
        f"WHEN lower(a) LIKE '%{q}%' OR position(lower(a) IN '{q}') > 0 "
        "THEN 0.6 ELSE 0.0 END)), 0.0)")
    return f"""
WITH al AS (
  SELECT entity_id AS id, list(alias_text) AS als FROM {aliases} GROUP BY 1),
cand AS (
  SELECT n.id, n.canonical_name, n.type,
         lower(n.canonical_name) AS en, coalesce(al.als, []) AS als
  FROM {nodes} n LEFT JOIN al ON al.id = n.id
  WHERE lower(n.canonical_name) LIKE '%{q}%'
     OR position(lower(n.canonical_name) IN '{q}') > 0
     OR len(list_filter(coalesce(al.als, []), a ->
          lower(a) LIKE '%{q}%' OR position(lower(a) IN '{q}') > 0)) > 0),
scored AS (
  SELECT id, canonical_name, type,
    CASE WHEN en = '{q}' THEN 1.0
         WHEN {norm('en')} = {qn} THEN 0.95
         ELSE greatest({sub_score}, {ov_score}, {alias_score})
    END AS match_score
  FROM cand)
SELECT id, canonical_name, type, round(match_score, 6) AS match_score
FROM scored ORDER BY match_score DESC, id LIMIT {k}"""


def _kg_band_ctes(emb_confirm: float = 0.6, knn_threshold: float = 0.7,
                  queue_floor: float = 0.5) -> str:
    """Shared CTEs re-deriving the three-band accept/queue decisions
    (extraction_pipeline.py:646-727) from the dumped pre-band artifacts:
    er_winners (final-round name-band winners with embedding cosine) and
    knn_scored (post-anti-join kNN candidates)."""
    nw, ks = _kg_rp("er_winners"), _kg_rp("knn_scored")
    return f"""
nw AS MATERIALIZED (SELECT * FROM {nw}),
ks AS MATERIALIZED (SELECT * FROM {ks}),
name_acc AS (SELECT key_b FROM nw
  WHERE score >= 0.9 OR emb_cos >= {emb_confirm}),
name_q AS (
  SELECT key_b AS form_key, name_b AS surface_text,
         'ambiguous_band_unconfirmed' AS reason,
         canon_key AS candidate_key, round(score, 4) AS score,
         'pending' AS status
  FROM nw WHERE score < 0.9 AND emb_cos < {emb_confirm}),
knn_acc AS (SELECT id_b FROM (
  SELECT id_b, row_number() OVER (PARTITION BY id_b
         ORDER BY cosine DESC, id_a) AS rn
  FROM ks WHERE cosine > {knn_threshold} AND type_a = type_b
    AND (name_score > 0.6 OR cosine > 0.85)) WHERE rn = 1),
knn_q AS (
  SELECT id_b AS form_key, name_b AS surface_text,
         'knn_unconfirmed' AS reason, id_a AS candidate_key,
         round(cosine, 4) AS score, 'pending' AS status
  FROM (SELECT ks.*, row_number() OVER (PARTITION BY id_b
               ORDER BY cosine DESC, id_a) AS rn
        FROM ks WHERE cosine > {queue_floor}
          AND id_b NOT IN (SELECT id_b FROM knn_acc))
  WHERE rn <= 3)"""


def _kg_queue_sql() -> str:
    return ("WITH " + _kg_band_ctes()
            + " SELECT * FROM name_q UNION ALL SELECT * FROM knn_q")


def _kg_queue_apply_sql() -> str:
    # reviewer policy mirrored from _q_kg_queue_apply: name-band items are
    # reviewed (accept top candidate at rounded score >= 0.6, else
    # keep-own; both resolved), kNN items stay pending.  knn_q is reduced
    # to its best-candidate row (one row per queue item, like the engine's
    # unexploded queue).
    return ("WITH " + _kg_band_ctes() + """,
items AS (
  SELECT form_key, surface_text, reason, candidate_key, score FROM name_q
  UNION ALL
  SELECT form_key, surface_text, reason, candidate_key, score FROM (
    SELECT *, row_number() OVER (PARTITION BY form_key
           ORDER BY score DESC, candidate_key) AS rn2 FROM knn_q)
  WHERE rn2 = 1)
SELECT form_key, surface_text, reason,
  CASE WHEN reason = 'ambiguous_band_unconfirmed'
       THEN 'resolved' ELSE 'pending' END AS status,
  CASE WHEN reason = 'ambiguous_band_unconfirmed' AND score >= 0.6
       THEN candidate_key END AS linked_entity
FROM items ORDER BY form_key""")


def _kg_rate_sql() -> str:
    forms = _kg_rp("er_forms")
    return ("WITH " + _kg_band_ctes() + f""",
nf AS (SELECT count(*) AS n_forms FROM {forms}),
merged AS (SELECT count(DISTINCT key_b) AS n_merged FROM
  (SELECT key_b FROM name_acc UNION ALL SELECT id_b FROM knn_acc)),
queued AS (SELECT count(DISTINCT form_key) AS n_queued FROM
  (SELECT form_key FROM name_q UNION ALL SELECT form_key FROM knn_q))
SELECT CAST(nf.n_forms AS BIGINT) AS n_forms,
       CAST(merged.n_merged AS BIGINT) AS n_merged,
       CAST(queued.n_queued AS BIGINT) AS n_queued,
       round(1.0 - queued.n_queued / nf.n_forms, 6) AS resolution_rate
FROM nf, merged, queued""")


_NEG_PAIRS_SQL = [
    ("did", "did not"), ("was", "was not"), ("is", "is not"),
    ("has", "has not"), ("failed", "succeeded"), ("correct", "incorrect"),
    ("true", "false"), ("confirmed", "denied"),
]


def _corroboration_sql() -> str:
    neg = " OR ".join(
        f"(txt_a LIKE '%{p}%' AND txt_b LIKE '%{n}%') "
        f"OR (txt_a LIKE '%{n}%' AND txt_b LIKE '%{p}%')"
        for p, n in _NEG_PAIRS_SQL)
    num_re = r"\$[\d,]+|\d{4}|\d+%"
    priors = _case_sql("fact_type",
                       {"finding": 0.9, "obligation": 0.95, "allegation": 0.6,
                        "key_term": 0.85, "deadline": 0.9}, 0.7)
    return f"""
WITH facts AS (
  SELECT CAST(doc_id AS VARCHAR) AS fact_id, substring(text, 1, 120) AS text,
         CASE WHEN lang = 'en' THEN 'finding' ELSE 'allegation' END AS fact_type
  FROM documents),
f AS (SELECT fact_id AS id, lower(text) AS txt FROM facts),
words0 AS (SELECT id, unnest(list_distinct(
  string_split_regex(txt, '\\s+'))) AS w FROM f),
-- mirror the engine's token df cap (inference.contradictions max_df=100):
-- tokens shared by >100 facts are dropped from the inverted index
words AS (SELECT words0.* FROM words0 WHERE w IN
  (SELECT w FROM words0 GROUP BY w HAVING count(*) <= 100)),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS overlap
  FROM words a JOIN words b ON a.w = b.w AND a.id < b.id
  GROUP BY 1, 2 HAVING count(*) >= 5),
pt AS (SELECT p.*, fa.txt AS txt_a, fb.txt AS txt_b FROM pairs p
  JOIN f fa ON fa.id = p.id_a JOIN f fb ON fb.id = p.id_b),
contra AS (
  SELECT id_a, id_b FROM pt
  WHERE ({neg})
     OR (overlap > 10
         AND len(list_sort(list_distinct(
             regexp_extract_all(txt_a, '{num_re}')))) > 0
         AND len(list_sort(list_distinct(
             regexp_extract_all(txt_b, '{num_re}')))) > 0
         AND list_sort(list_distinct(regexp_extract_all(txt_a, '{num_re}')))
             != list_sort(list_distinct(
                regexp_extract_all(txt_b, '{num_re}'))))),
cc AS (SELECT id, count(*) AS contradiction_count FROM
  (SELECT id_a AS id FROM contra UNION ALL SELECT id_b FROM contra)
  GROUP BY id),
sc AS (SELECT CAST(doc_id AS VARCHAR) AS fact_id,
       count(DISTINCT source) AS source_count FROM documents GROUP BY 1)
SELECT fa.fact_id, fa.fact_type,
       coalesce(sc.source_count, 0) AS source_count,
       coalesce(cc.contradiction_count, 0) AS contradiction_count,
       round((1.0 - exp(-0.5 * coalesce(sc.source_count, 0)))
             * exp(-0.3 * coalesce(cc.contradiction_count, 0))
             * {priors}, 6) AS corroboration_score
FROM facts fa LEFT JOIN sc ON sc.fact_id = fa.fact_id
LEFT JOIN cc ON cc.id = fa.fact_id"""


def _minhash_sql() -> str:
    """Banding + candidate pairing + signature-overlap verify re-derived in
    SQL over the dumped Spark-computed signature table (the xxhash64
    signatures themselves have no DuckDB equivalent).  Band b = signature
    positions b*4+1..b*4+4 (1-based DuckDB slicing = Spark's
    sig[b*4+r], r=0..3); bucket equality on the value tuple is what
    Spark's xxhash64-of-concat bucket hashes (collision-free up to
    2^-64)."""
    sig = _kg_rp("minhash_sigs")
    return (
        f"WITH sigs AS MATERIALIZED (SELECT id, sig FROM {sig}), "
        "banded AS MATERIALIZED (SELECT s.id, b.band, "
        "array_to_string(s.sig[b.band*4+1 : b.band*4+4], ',') AS bucket "
        "FROM sigs s CROSS JOIN (SELECT unnest(range(16)) AS band) b), "
        "cand AS MATERIALIZED (SELECT DISTINCT a.id AS id_a, b.id AS id_b "
        "FROM banded a JOIN banded b ON a.band = b.band "
        "AND a.bucket = b.bucket WHERE a.id < b.id), "
        "scored AS MATERIALIZED (SELECT c.id_a, c.id_b, "
        "list_sum(list_transform(range(1, 65), i -> "
        "CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 64.0 AS est "
        "FROM cand c JOIN sigs sa ON sa.id = c.id_a "
        "JOIN sigs sb ON sb.id = c.id_b) "
        "SELECT id_a, id_b, round(est, 4) AS est_jaccard FROM scored "
        "WHERE est >= 0.5")


def _simhash_sql() -> str:
    """4×16-bit banding + hamming verify over the dumped fingerprints.
    DuckDB's ``>>`` on BIGINT is arithmetic (sign-extending) like Spark's
    shiftright; ``& 65535`` keeps the low 16 bits either way, so band
    buckets agree on negative fingerprints (verified against Spark)."""
    fps = _kg_rp("simhash_fps")
    return (
        f"WITH fps AS MATERIALIZED (SELECT id, simhash FROM {fps}), "
        "banded AS MATERIALIZED (SELECT id, simhash, b.band, "
        "(simhash >> (b.band * 16)) & 65535 AS bucket "
        "FROM fps CROSS JOIN (SELECT unnest(range(4)) AS band) b) "
        "SELECT DISTINCT a.id AS id_a, b.id AS id_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
        "FROM banded a JOIN banded b ON a.band = b.band "
        "AND a.bucket = b.bucket "
        "WHERE a.id < b.id AND bit_count(xor(a.simhash, b.simhash)) <= 3")


_COS_SQL = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) "
            "* sqrt(list_dot_product({b}, {b})))")


def _ivf_sql(n_probe: int = 4, k: int = 5) -> str:
    """IVF assignment + probe + in-cell exact top-k re-derived in SQL over
    the dumped centroid table: every vector argmax-assigns to one cell
    (ties → smallest cid, like the engine's row_number window), each query
    probes its n_probe nearest cells, exact cosine only inside probed
    cells."""
    cents = _kg_rp("ivf_centroids")
    cos_vc = _COS_SQL.format(a="b.v", b="c.cvec")
    cos_qc = _COS_SQL.format(a="q.qv", b="c.cvec")
    cos_vq = _COS_SQL.format(a="a.v", b="p.qv")
    return (
        f"WITH cents AS MATERIALIZED (SELECT cid, cvec FROM {cents}), "
        "base AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "q AS MATERIALIZED (SELECT vec_id AS query_id, "
        "embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3), "
        "assign AS MATERIALIZED (SELECT vec_id, v, cid FROM ("
        "SELECT b.vec_id, b.v, c.cid, row_number() OVER ("
        f"PARTITION BY b.vec_id ORDER BY {cos_vc} DESC, c.cid ASC) AS rn "
        "FROM base b CROSS JOIN cents c) WHERE rn = 1), "
        "probes AS MATERIALIZED (SELECT query_id, qv, cid FROM ("
        "SELECT q.query_id, q.qv, c.cid, row_number() OVER ("
        f"PARTITION BY q.query_id ORDER BY {cos_qc} DESC, c.cid ASC) AS rn "
        f"FROM q CROSS JOIN cents c) WHERE rn <= {n_probe}), "
        "sim AS MATERIALIZED (SELECT p.query_id, a.vec_id, "
        f"{cos_vq} AS cosine FROM assign a JOIN probes p USING (cid) "
        "WHERE a.vec_id != p.query_id) "
        "SELECT query_id, vec_id, rank, round(cosine, 4) AS cosine FROM ("
        "SELECT query_id, vec_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank "
        f"FROM sim) WHERE rank <= {k}")


def _embdup_sql(threshold: float = 0.85) -> str:
    """Exact replication of the hyperplane-LSH banding over the dumped
    embedded vectors + plane table: sign bits (plane-ordered, like the
    engine's array_sort(collect_list)), band-bucket candidate join, exact
    cosine verify.  Replication, not a recall bound — the banding itself
    is re-derived, so misses/hits match the engine exactly."""
    vecs, planes = _kg_rp("embdup_vecs"), _kg_rp("embdup_planes")
    cos_ab = _COS_SQL.format(a="va.v", b="vb.v")
    return (
        f"WITH base AS MATERIALIZED (SELECT vec_id, "
        f"embedding::DOUBLE[] AS v FROM {vecs}), "
        f"planes AS MATERIALIZED (SELECT plane, band, pvec FROM {planes}), "
        "signs AS MATERIALIZED (SELECT b.vec_id AS id, p.band, p.plane, "
        "CASE WHEN list_dot_product(b.v, p.pvec) >= 0 THEN 1 ELSE 0 END "
        "AS bit FROM base b CROSS JOIN planes p), "
        "buckets AS MATERIALIZED (SELECT id, band, "
        "string_agg(bit::VARCHAR, '' ORDER BY plane) AS bucket "
        "FROM signs GROUP BY id, band), "
        "cand AS MATERIALIZED (SELECT DISTINCT a.id AS id_a, b.id AS id_b "
        "FROM buckets a JOIN buckets b ON a.band = b.band "
        "AND a.bucket = b.bucket WHERE a.id < b.id), "
        "verified AS MATERIALIZED (SELECT c.id_a, c.id_b, "
        f"{cos_ab} AS cos FROM cand c "
        "JOIN base va ON va.vec_id = c.id_a "
        "JOIN base vb ON vb.vec_id = c.id_b) "
        "SELECT id_a, id_b, round(cos, 4) AS cosine FROM verified "
        f"WHERE cos >= {threshold}")


def _betweenness_sql(depth: int = 6, n_sources: int = 6) -> str:
    """Brandes sampled betweenness unrolled to the engine's fixed
    ``max_depth`` (analytics.betweenness_sampled): forward BFS levels
    l0..l{depth} accumulating sigma, backward dependency chain
    d{depth}..d0, acc = parent levels' deltas (id != source), score =
    sum/2.  A level that is empty in practice contributes zero rows at
    every later step, so the static unroll equals the engine's
    early-break loop.  Rounded to 4 decimals (float accumulation order
    differs between engines below ~1e-12)."""
    e, n = _kg_rp("edges"), _kg_rp("nodes")
    parts = [
        f"WITH sym AS MATERIALIZED (SELECT DISTINCT u, v FROM ("
        f"SELECT src AS u, dst AS v FROM {e} "
        f"UNION ALL SELECT dst AS u, src AS v FROM {e})), "
        f"nn AS MATERIALIZED (SELECT id, canonical_name FROM {n}), "
        f"srcs AS MATERIALIZED (SELECT id AS source FROM nn "
        f"ORDER BY id LIMIT {n_sources}), "
        "l0 AS MATERIALIZED (SELECT source, source AS id, "
        "1.0::DOUBLE AS sigma FROM srcs), "
        "v0 AS MATERIALIZED (SELECT source, id FROM l0), ",
    ]
    for d in range(1, depth + 1):
        parts.append(
            f"l{d} AS MATERIALIZED (SELECT t.source, t.id, t.sigma FROM ("
            f"SELECT f.source, s.v AS id, sum(f.sigma) AS sigma "
            f"FROM l{d-1} f JOIN sym s ON f.id = s.u GROUP BY 1, 2) t "
            f"LEFT JOIN v{d-1} x ON x.source = t.source AND x.id = t.id "
            f"WHERE x.id IS NULL), "
            f"v{d} AS MATERIALIZED (SELECT * FROM v{d-1} "
            f"UNION ALL SELECT source, id FROM l{d}), ")
    parts.append(f"d{depth} AS MATERIALIZED (SELECT source, id, sigma, "
                 f"0.0::DOUBLE AS delta FROM l{depth}), ")
    for d in range(depth, 0, -1):
        parts.append(
            f"c{d} AS MATERIALIZED (SELECT ch.source, s.v AS id, "
            f"sum((1.0 + ch.delta) / ch.sigma) AS ratio FROM d{d} ch "
            f"JOIN sym s ON ch.id = s.u GROUP BY 1, 2), "
            f"d{d-1} AS MATERIALIZED (SELECT l.source, l.id, l.sigma, "
            f"l.sigma * coalesce(c.ratio, 0.0) AS delta FROM l{d-1} l "
            f"LEFT JOIN c{d} c ON c.source = l.source AND c.id = l.id), ")
    accs = " UNION ALL ".join(
        f"SELECT id, delta FROM d{d} WHERE id != source"
        for d in range(depth - 1, -1, -1))
    parts.append(
        f"acc AS MATERIALIZED ({accs}), "
        "scores AS MATERIALIZED (SELECT id, sum(delta) / 2.0 AS bc "
        "FROM acc GROUP BY id) "
        "SELECT nn.canonical_name, round(coalesce(s.bc, 0.0), 4) "
        "AS betweenness FROM nn LEFT JOIN scores s ON s.id = nn.id "
        "ORDER BY betweenness DESC, canonical_name ASC LIMIT 10")
    return "".join(parts)


def _kg_oracles() -> dict[str, str]:
    nodes, edges = _kg_rp("nodes"), _kg_rp("edges")
    extr = _kg_rp("extractions")
    cleaned = (r"regexp_replace(regexp_replace(name, "
               r"'(\d+)(st|nd|rd|th)\s+day\s+of\s+', '\1 ', 'g'), ',', '', 'g')")
    return {
        "kg_triples":
            f"SELECT DISTINCT s.canonical_name AS subj, "
            f"e.relation_type AS pred, o.canonical_name AS obj "
            f"FROM {edges} e JOIN {nodes} s ON e.src = s.id "
            f"JOIN {nodes} o ON e.dst = o.id",
        "kg_nodes_by_type":
            f"SELECT type, count(*) AS n FROM {nodes} GROUP BY type",
        "kg_degree_topk":
            f"WITH deg AS (SELECT id, count(*) AS connections FROM "
            f"(SELECT src AS id FROM {edges} UNION ALL SELECT dst FROM {edges}) "
            f"GROUP BY id) "
            f"SELECT n.canonical_name, n.type, "
            f"coalesce(d.connections, 0) AS connections "
            f"FROM {nodes} n LEFT JOIN deg d ON n.id = d.id "
            f"ORDER BY connections DESC, canonical_name LIMIT 10",
        "kg_relation_patterns":
            f"SELECT s.type AS src_type, e.relation_type, o.type AS dst_type, "
            f"count(*) AS n FROM {edges} e "
            f"JOIN {nodes} s ON e.src = s.id JOIN {nodes} o ON e.dst = o.id "
            f"GROUP BY 1, 2, 3",
        "kg_clusters":
            f"WITH RECURSIVE "
            f"sym(a, b) AS (SELECT src, dst FROM {edges} "
            f"UNION SELECT dst, src FROM {edges}), "
            f"reach(a, b) AS (SELECT a, b FROM sym "
            f"UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a), "
            f"comp AS (SELECT a AS node, least(a, min(b)) AS component "
            f"FROM reach GROUP BY a), "
            f"cl AS (SELECT n.id, coalesce(c.component, n.id) AS cluster "
            f"FROM {nodes} n LEFT JOIN comp c ON n.id = c.node), "
            f"sizes AS (SELECT cluster, count(*) AS size FROM cl GROUP BY 1) "
            f"SELECT size, count(*) AS n_clusters FROM sizes GROUP BY size",
        "kg_timeline":
            f"SELECT year(coalesce("
            f"try_strptime(cleaned, '%B %-d %Y'), "
            f"try_strptime(cleaned, '%-m/%-d/%Y'), "
            f"try_strptime(cleaned, '%Y-%m-%d'), "
            f"try_strptime(cleaned, '%-d %B %Y'))) AS yr, date_type, "
            f"count(*) AS n FROM (SELECT date_type, {cleaned} AS cleaned "
            f"FROM {extr} WHERE kind = 'date') GROUP BY 1, 2",
        "kg_common_neighbor":
            f"WITH p AS (SELECT DISTINCT e1.src AS a, e2.src AS b, e1.dst AS x "
            f"FROM {edges} e1 JOIN {edges} e2 ON e1.dst = e2.dst "
            f"WHERE e1.src < e2.src), "
            f"nf AS (SELECT p.* FROM p WHERE NOT EXISTS "
            f"(SELECT 1 FROM {edges} d WHERE (d.src = p.a AND d.dst = p.b) "
            f"OR (d.src = p.b AND d.dst = p.a))) "
            f"SELECT 'related_via_' || lower(n.type) AS inferred_relation, "
            f"count(*) AS n FROM nf JOIN {nodes} n ON n.id = nf.x GROUP BY 1",
        "kg_path_hops":
            f"WITH RECURSIVE "
            f"et AS MATERIALIZED (SELECT src, dst FROM {edges}), "
            "deg AS (SELECT id, count(*) AS connections FROM "
            "(SELECT src AS id FROM et UNION ALL SELECT dst FROM et) "
            "GROUP BY id), "
            "rk AS (SELECT id, row_number() OVER "
            "(ORDER BY connections DESC, id) AS rn FROM deg), "
            "sym AS (SELECT src AS a, dst AS b FROM et "
            "UNION SELECT dst, src FROM et), "
            "walk(id, hops) AS (SELECT id, 0 FROM rk WHERE rn = 1 "
            "UNION SELECT sym.b, w.hops + 1 FROM walk w "
            "JOIN sym ON sym.a = w.id WHERE w.hops < 6) "
            "SELECT (SELECT id FROM rk WHERE rn = 1) AS src, "
            "(SELECT id FROM rk WHERE rn = 2) AS dst, min(hops) AS hops "
            "FROM walk WHERE id = (SELECT id FROM rk WHERE rn = 2) "
            "HAVING min(hops) IS NOT NULL",
        "kg_all_paths":
            f"WITH et AS MATERIALIZED (SELECT src, dst FROM {edges}), "
            "deg AS (SELECT id, count(*) AS connections FROM "
            "(SELECT src AS id FROM et UNION ALL SELECT dst FROM et) "
            "GROUP BY id), "
            "rk AS (SELECT id, row_number() OVER "
            "(ORDER BY connections DESC, id) AS rn FROM deg), "
            "sym AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b "
            "FROM et UNION ALL SELECT dst, src FROM et)), "
            "s AS (SELECT id FROM rk WHERE rn = 1), "
            "t AS (SELECT id FROM rk WHERE rn = 2), "
            "h1 AS (SELECT 1 AS hops FROM sym "
            "WHERE a = (SELECT id FROM s) AND b = (SELECT id FROM t)), "
            "h2 AS (SELECT 2 AS hops FROM sym x JOIN sym y ON x.b = y.a "
            "WHERE x.a = (SELECT id FROM s) AND y.b = (SELECT id FROM t) "
            "AND x.b != (SELECT id FROM s) AND x.b != (SELECT id FROM t)) "
            "SELECT hops, count(*) AS n_paths FROM "
            "(SELECT * FROM h1 UNION ALL SELECT * FROM h2) GROUP BY hops",
        "kg_transitive": _kg_transitive_sql(),
        "kg_disambiguate": _kg_disambiguate_sql(),
        "kg_resolution_queue": _kg_queue_sql(),
        "kg_queue_apply": _kg_queue_apply_sql(),
        "kg_resolution_rate": _kg_rate_sql(),
        "kg_pagerank": _kg_pagerank_sql(),
        "kg_importance": _kg_importance_sql(),
        "kg_bayes_resolve": _kg_bayes_sql(),
        "kg_betweenness": _betweenness_sql(),
        "corroboration": _corroboration_sql(),
    }


def oracle_sql() -> dict[str, str]:
    langs = list(_LANG_WORDS)
    lang_scores = ", ".join(f"{_lang_score_sql(l)} AS s_{l}" for l in langs)
    best = f"greatest({', '.join('s_' + l for l in langs)})"
    lang_case = ("CASE WHEN " + best + " <= 0 THEN 'und' "
                 + " ".join(f"WHEN s_{l} = {best} THEN '{l}'" for l in langs)
                 + " END")
    en_hits = _lang_score_sql("en")

    return {
        "p4_name_search":
            "SELECT c_custkey, c_name FROM customer "
            "WHERE lower(c_name) LIKE '%42%'",
        "j2_edge_denorm":
            "SELECT n.n_name AS nation, count(*) AS n_orders, "
            "round(sum(o.o_totalprice), 2) AS total_price "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name",
        "j3_degree_topk":
            "SELECT o_custkey AS id, count(*) AS connections FROM orders "
            "GROUP BY o_custkey ORDER BY connections DESC, id LIMIT 10",
        "j4_induced_subgraph":
            "SELECT l_returnflag, count(*) AS n, "
            "round(sum(l_extendedprice), 2) AS revenue FROM lineitem "
            "WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_retailprice > 950) "
            "AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000) "
            "GROUP BY l_returnflag",
        "j10_bidirectional_pairs":
            "SELECT least(l_suppkey, l_partkey) AS a, "
            "greatest(l_suppkey, l_partkey) AS b, count(*) AS n_edges "
            "FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1",
        "a1_stats":
            "SELECT 'orders' AS tbl, count(*) AS n FROM orders UNION ALL "
            "SELECT 'lineitem', count(*) FROM lineitem UNION ALL "
            "SELECT 'customer', count(*) FROM customer UNION ALL "
            "SELECT 'supplier', count(*) FROM supplier UNION ALL "
            "SELECT 'part', count(*) FROM part",
        "a3_degree_diversity":
            "SELECT o_custkey AS id, count(*) AS out_degree, "
            "count(DISTINCT o_orderpriority) AS rel_diversity, "
            "count(DISTINCT o_orderstatus) AS status_diversity "
            "FROM orders GROUP BY o_custkey",
        "a5_pattern_histogram":
            "SELECT c_mktsegment AS src_type, o_orderpriority AS relation_type, "
            "count(*) AS n FROM orders o JOIN customer c "
            "ON o.o_custkey = c.c_custkey GROUP BY 1, 2",
        "a6_dedup_argmax":
            "WITH mx AS (SELECT p_brand, max(p_retailprice) AS max_price "
            "FROM part GROUP BY p_brand) "
            "SELECT mx.p_brand AS brand, mx.max_price, min(p.p_name) AS name "
            "FROM part p JOIN mx ON p.p_brand = mx.p_brand "
            "AND p.p_retailprice = mx.max_price GROUP BY 1, 2",
        "w2_best_match":
            "SELECT o_custkey AS custkey, o_orderkey AS latest_order FROM ("
            "SELECT o_custkey, o_orderkey, row_number() OVER ("
            "PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC"
            ") AS rn FROM orders) WHERE rn = 1",
        "w3_timeline":
            "SELECT date_trunc('month', ts) AS month, event_type, "
            "count(*) AS n, round(sum(value), 2) AS total_value "
            "FROM events GROUP BY 1, 2",
        "s4_anti_join_resume":
            "SELECT o_orderstatus, count(*) AS n FROM orders o "
            "WHERE NOT EXISTS (SELECT 1 FROM orders m "
            "WHERE m.o_orderkey % 2 = 0 AND m.o_orderkey = o.o_orderkey) "
            "GROUP BY o_orderstatus",
        "u2_union_dedup":
            "SELECT DISTINCT c_custkey FROM ("
            "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
            "UNION ALL SELECT c_custkey FROM customer WHERE c_acctbal > 5000)",
        "u3_orphans":
            "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
        "p8_json_extract":
            "SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val, "
            "count(*) AS n FROM events GROUP BY 1",
        "f13_hash_dedup":
            "SELECT lang, count(DISTINCT sha256(text)) AS n_distinct_texts, "
            "count(*) AS n_docs FROM documents GROUP BY lang",
        "tpch_q1":
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
            "round(avg(l_quantity), 4) AS avg_qty, "
            "count(*) AS count_order FROM lineitem "
            "WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus",
        "f8_date_roundtrip":
            "SELECT year(strptime(strftime(o_orderdate, '%m/%d/%Y'), "
            "'%m/%d/%Y')) AS yr, count(*) AS n FROM orders GROUP BY 1",
        "f2_doc_classify":
            "SELECT CASE "
            "WHEN lower(substring(text, 1, 200)) LIKE '%spark%' THEN 'spark' "
            "WHEN lower(substring(text, 1, 200)) LIKE '%join%' THEN 'join' "
            "WHEN lower(substring(text, 1, 200)) LIKE '%table%' THEN 'table' "
            "ELSE 'other' END AS doc_class, count(*) AS n "
            "FROM documents GROUP BY 1",
        "dedup_exact_groups":
            "SELECT sha256(text) AS text_hash, count(*) AS n_docs, "
            "min(doc_id) AS min_doc_id FROM documents GROUP BY 1",
        "token_stats":
            "SELECT doc_id, "
            "len(string_split_regex(text, '\\s+')) AS n_tokens, "
            "length(text) AS n_chars, "
            "round(length(text) / len(string_split_regex(text, '\\s+')), 4) "
            "AS avg_token_len FROM documents",
        "quality_score":
            "SELECT doc_id, round("
            "0.4 * (CASE WHEN length(text) BETWEEN 50 AND 100000 "
            "THEN 1.0 ELSE 0.3 END) "
            "+ 0.4 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) "
            "/ greatest(length(text), 1)) "
            f"+ 0.2 * least({en_hits} / 5.0, 1.0), 4) AS quality "
            "FROM documents",
        "lang_id":
            f"SELECT doc_id, {lang_case} AS pred_lang FROM "
            f"(SELECT doc_id, {lang_scores} FROM documents)",
        "ngram_jaccard":
            "WITH t AS (SELECT doc_id, "
            "string_split_regex(lower(text), '\\s+') AS toks FROM documents), "
            "sh0 AS (SELECT DISTINCT doc_id, "
            "array_to_string(toks[i + 1:i + 3], ' ') AS shingle "
            "FROM t, UNNEST(range(len(toks) - 2)) AS u(i) WHERE len(toks) >= 3), "
            "sh AS (SELECT sh0.* FROM sh0 WHERE shingle IN "
            "(SELECT shingle FROM sh0 GROUP BY shingle "
            "HAVING count(*) <= 100)), "
            "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "count(*) AS inter FROM sh a JOIN sh b ON a.shingle = b.shingle "
            "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT id_a, id_b, round(inter / (sa.sz + sb.sz - inter), 4) "
            "AS jaccard FROM inter "
            "JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b "
            "WHERE inter / (sa.sz + sb.sz - inter) >= 0.2",
        "ann_cosine_topk":
            "WITH q AS (SELECT vec_id AS query_id, "
            "embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3), "
            "s AS (SELECT q.query_id, e.vec_id, "
            "list_dot_product(e.embedding::DOUBLE[], q.qv) / "
            "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) "
            "* sqrt(list_dot_product(q.qv, q.qv))) AS cosine "
            "FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id) "
            "SELECT query_id, vec_id, rank, round(cosine, 4) AS cosine FROM ("
            "SELECT query_id, vec_id, cosine, row_number() OVER ("
            "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank FROM s) "
            "WHERE rank <= 5",
        "ivf_topk": _ivf_sql(),
        "embedding_near_dup": _embdup_sql(),
        "minhash_lsh": _minhash_sql(),
        "simhash_pairs": _simhash_sql(),
        "g17_two_hop":
            "WITH e1 AS (SELECT DISTINCT l_suppkey AS a, l_partkey AS b "
            "FROM lineitem WHERE l_suppkey < 20), "
            "e2 AS (SELECT DISTINCT l_partkey AS b, l_orderkey AS c "
            "FROM lineitem WHERE l_suppkey < 20) "
            "SELECT a, count(*) AS n_two_hop FROM "
            "(SELECT DISTINCT a, c FROM e1 JOIN e2 USING (b)) GROUP BY a",
        "multimodal_meta":
            "SELECT 'm-' || doc_id AS media_id, "
            "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
            "ELSE 'video' END AS kind, "
            "octet_length(encode(text)) AS n_bytes, sha256(text) AS content_hash "
            "FROM documents",
        # kg_* oracles run over the _kg() stage-table parquet dump — they
        # independently verify the downstream graph analytics (CC via
        # recursive CTE, PageRank via unrolled iteration, Brandes
        # betweenness via a depth-6 unrolled BFS+dependency chain, joins/
        # aggs in plain SQL).  Extraction + ER are verified against the
        # reference kernels by pytest (not SQL-expressible).
        **_kg_oracles(),
    }
