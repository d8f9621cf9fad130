"""Cross-batch incremental entity resolution for streaming ingest.

The reference resolves every new document against the continuously growing
store (extraction_pipeline.py:615-733).  This module is that semantics at
micro-batch granularity: each batch's NEW surface forms are resolved against
the cumulative form vocabulary (old forms as stored candidates, exactly like
the SQLite store) and the results append to ONE graph — not per-batch
``batch=<id>`` islands.

Every ER and materialization step is the batch engine's own function, called
with the store's state as arguments: ``resolve.candidate_pairs`` (the
persisted index as ``keyed``, the new forms as ``later``),
``resolve.match_edges`` (those pairs, with the committed edges as
``prior_edges``), ``materialize.form_components``,
``materialize.entity_nodes``, ``materialize.occurrence_map``,
``infer.raw_triples`` and ``materialize.graph_edges``.  This module keeps only
the state: what is stored, what a batch reads of it, and the commit.

O(batch) per monotonic micro-batch — the state store
----------------------------------------------------
Per-batch work is proportional to the BATCH, not the cumulative store (a
late batch is the exception — see out-of-order arrival below): the
form vocabulary, its capped blocking-key index, and per-block statistics are
persisted state tables, so candidate generation keys only the batch's new
forms and joins them against the stored index — the restriction to
new-later-side pairs happens BEFORE the scoring UDF, and the node table is
updated from per-component mention deltas instead of rebuilt.  Per-batch
scored-pair counts (recorded in the state's ``batch_metrics``) stay flat as
the store grows; the only O(store) terms left are key-only joins and state
IO (no text rescoring), which an Iceberg catalog turns into metadata-level
appends/MERGEs.

State layout under ``out_dir``:

* ``extractions/batch=N`` — the immutable per-batch archive (idempotent
  overwrite on replay; the replay dedup and the out-of-order rebuild read
  it);
* generation-scoped append tables, one directory per batch under
  ``table/g=G/batch=N``: ``matches``, ``block_index``, ``form_component``
  and ``edges`` (rows carry a ``src_batch`` column; edges are read only
  through the committed view below).
  The generation is bumped by out-of-order rebuilds AND by
  :meth:`IncrementalKG.compact` — a committed directory is NEVER
  overwritten in place: every rewrite lands under a fresh ``g=G+1`` and
  becomes visible only at the commit point;
* snapshot tables, one directory per version: ``forms/v=N``,
  ``block_stats/v=N``, ``nodes/v=N``;
* ``_incremental_state.json`` — THE commit point, written atomically
  (tmp + rename) after all of a batch's tables.  Readers resolve every
  table through the committed state (append reads filter
  ``batch < n_batches`` under the committed generation; snapshot reads
  open ``v=n_batches``), so a crash anywhere mid-batch — including mid
  out-of-order rewrite — leaves only unreferenced directories and
  Structured Streaming's batch replay recomputes them byte-identically
  (all writes are deterministic overwrites of uncommitted paths).  This is
  the parquet stand-in for an Iceberg transaction; the snapshot pointer
  plays the role of the catalog's current-snapshot-id.
* GC retention: directories superseded by a commit are only RECORDED in
  the state (``pending_gc``) and deleted by the NEXT commit, so a lazy
  DataFrame obtained from :meth:`nodes`/:meth:`matches`/:meth:`triples`
  under the previous committed state survives one further commit; handles
  older than two commits must be re-fetched.

The edges table is a committed VIEW from batch 0 (``edges_sources`` in
the state — the parquet analogue of an Iceberg manifest list): a list of
directory references ``{"path", "batches", "exclude"}``, each contributing
one committed directory (holding the ``src_batch`` ids in ``batches``)
minus the ids in ``exclude``.  Each monotonic batch appends its own
directory; an out-of-order rebuild and a compaction each replace the view
with ONE directory holding every batch.  Neither writes an ``exclude``
list any more, but readers still honour one, so a store whose view
references superseded batches of older directories reads unchanged.  GC
keys off view membership: a directory lives exactly as long as some
committed view references it.  A state file without the view is rejected.

Small-file growth is bounded by :meth:`IncrementalKG.compact`: it
consolidates each table's committed per-batch directories into ONE
directory under a bumped generation — same layout, same readers, same
atomic pointer semantics — and the superseded generation is GC'd one
commit later.  (An Iceberg catalog would make this a metadata-level
rewrite_data_files.)

Equivalence guarantee (tested in test_resume_and_streaming): a corpus split
into micro-batches produces the IDENTICAL triple set as a single batch run,
PROVIDED no blocking cap boundary moves between batch boundaries — i.e. no
block's cumulative document frequency crosses ``GRAM_DF_CAP`` or
``max_block`` mid-stream (surface with resolve.blocked_overflow / the
``purged`` flags in ``block_stats``).  The caps are applied FORWARD against
the persisted per-block statistics: a gram block that crosses
``GRAM_DF_CAP`` stops generating new candidates (its index rows are masked)
but pairs it generated earlier keep their accepted edges, whereas a
from-scratch rerun drops the block entirely — the same documented
cap-divergence contract as inference.contradictions' token cap.  Within the
cap-stable regime, incrementality is exact because:

* form keys are global ``conv_id#seq`` strings: with monotonic batches new
  forms sort strictly after old forms, so the capped block membership
  (earliest ``max_block`` forms per block) grows append-only;
* the accepted match-edge set is an argmax forest pointing later → earlier,
  so old forms never re-resolve when new forms arrive — prior edges are
  final, and cluster canonicals (earliest member) never change;
* per-conversation occurrence re-resolution (materialize.occurrence_map)
  only consults clusters stored BEFORE an occurrence (avail_key < occ_key),
  so later batches cannot rewrite earlier conversations' resolutions.

Out-of-order arrival
--------------------
The reference accepts documents in ANY order (its store is just "what has
been inserted so far"); this engine's semantics are conv_id-deterministic,
so a late batch with conv_ids below the high-water mark
(``out_of_order="resolve"``, the default) rebuilds ER from the extraction
archive: forms, blocking keys and caps, candidate pairs, matches,
components and nodes are recomputed over every archived batch — the
blocked self-join over the whole collection that SparkER runs — and the
edges of every archived conversation are re-materialized into one
directory.  Every table lands under a bumped generation and becomes
visible at the commit, so the store equals a single run over the same
conversations.  ``out_of_order="strict"`` raises on such a batch instead.

Out-of-order cost is O(store): a late batch pays one build's ER and
materialization over the archive plus the rewrite of every
generation-scoped table.  A targeted re-resolution (re-scoring only the
late forms' block neighbours and the closure over components whose
canonical name changed) does not pay here: on generated transcript
corpora, with late batches of 4–33% of the conversations, that closure
reached 68–85% of the forms, so it fell back to this rebuild every time.
Monotonic batches stay O(batch) in scored pairs.
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import extract, infer, materialize
from ..operators.resolve import (DEFAULT_MAX_BLOCK, GRAM_DF_CAP,
                                 MATCH_THRESHOLD, _block_keys, _keyed_rows,
                                 candidate_pairs, entity_forms, match_edges)

_STATE = "_incremental_state.json"

_FORMS_DDL = ("er_type string, name string, norm_name string, "
              "form_key string, n_mentions bigint")
_STATS_DDL = "block string, df bigint, n_admitted bigint, purged boolean"
_INDEX_DDL = ("form_key string, er_type string, name string, "
              "norm_name string, block string, _gram boolean")
_MATCH_DDL = "key_a string, key_b string"
_FC_DDL = "form_key string, component string"
_NODES_DDL = ("id string, type string, canonical_name string, "
              "confidence string, status string, n_mentions bigint")


def _conv_range(df: DataFrame):
    """(rows, min conv_id, max conv_id) of ``df`` in one job."""
    return df.agg(F.count(F.lit(1)), F.min("conv_id"), F.max("conv_id")).first()


class IncrementalKG:
    """Streaming-state KG builder: one graph, batch-incremental ER with a
    persisted form/block-key state store (module docstring)."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 threshold: float = MATCH_THRESHOLD,
                 max_block: int = DEFAULT_MAX_BLOCK,
                 out_of_order: str = "resolve"):
        if out_of_order not in ("resolve", "strict"):
            raise ValueError("out_of_order must be 'resolve' or 'strict', "
                             f"not {out_of_order!r}")
        self.spark = spark
        self.out_dir = out_dir
        self.threshold = threshold
        self.max_block = max_block
        self.out_of_order = out_of_order
        os.makedirs(out_dir, exist_ok=True)

    # -- state ------------------------------------------------------------
    def _state(self) -> dict:
        p = os.path.join(self.out_dir, _STATE)
        if not os.path.exists(p):
            return {"n_batches": 0, "max_conv_id": "", "gen": 0,
                    "last_stream_batch": -1, "batch_metrics": [],
                    "pending_gc": [], "edges_sources": []}
        with open(p) as f:
            st = json.load(f)
        if "edges_sources" not in st:
            raise ValueError(f"incremental store {self.out_dir!r} has no "
                             "edges_sources view; rebuild it from its input")
        return st

    def _commit(self, st: dict) -> None:
        """Atomic commit: every table this batch produced is already on
        disk; the state write is the single switch that makes them
        visible.  GC runs with ONE-COMMIT RETENTION: directories this
        commit supersedes are only recorded in ``pending_gc``; what the
        PREVIOUS commit recorded is deleted now (crash-safe: the current
        version/generation is never touched, and a lazy reader handle
        obtained under the previous committed state survives this commit —
        module docstring)."""
        old_pending = st.get("pending_gc", [])
        pending: list[str] = []
        for snap in ("forms", "block_stats", "nodes"):
            keep = os.path.join(self.out_dir, snap, f"v={st['n_batches']}")
            pending += [d for d in
                        glob.glob(os.path.join(self.out_dir, snap, "v=*"))
                        if d != keep]
        for table in ("matches", "block_index", "form_component"):
            keep = os.path.join(self.out_dir, table, f"g={st['gen']}")
            pending += [d for d in
                        glob.glob(os.path.join(self.out_dir, table, "g=*"))
                        if d != keep]
        # an edges directory lives exactly as long as the view references
        # it — generation membership is irrelevant (a view may reference
        # an older generation's dirs).  A generation dir none of
        # whose leaves is referenced is pended WHOLE, so superseded
        # generations don't linger as empty g= parents.
        referenced = {self._path(e["path"]) for e in st["edges_sources"]}
        ref_parents = {os.path.dirname(p) for p in referenced}
        for gdir in glob.glob(self._path("edges", "g=*")):
            if gdir not in ref_parents:
                pending.append(gdir)
            else:
                pending += [d for d in
                            glob.glob(os.path.join(gdir, "batch=*"))
                            if d not in referenced]
        st["pending_gc"] = sorted(set(pending) - set(old_pending))
        p = os.path.join(self.out_dir, _STATE)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.rename(tmp, p)
        for d in old_pending:
            shutil.rmtree(d, ignore_errors=True)

    def _path(self, *parts: str) -> str:
        return os.path.join(self.out_dir, *parts)

    # -- readers (always through the committed/processing watermark) ------
    def _empty(self, ddl: str) -> DataFrame:
        return self.spark.createDataFrame([], ddl)

    def _parts(self, table: str, upto: int, ddl: str,
               gen: int) -> DataFrame:
        """Committed rows of an append table (``batch <= upto`` under the
        given generation)."""
        base = self._path(table, f"g={gen}")
        if not glob.glob(os.path.join(base, "batch=*")):
            return self._empty(ddl)
        return (self.spark.read.option("basePath", base).parquet(base)
                .filter(F.col("batch") <= upto).drop("batch"))

    def _edges(self, st: dict) -> DataFrame:
        """Committed edges rows: every directory of the state's
        ``edges_sources`` view minus its excluded ``src_batch`` ids."""
        parts = []
        for ent in st["edges_sources"]:
            df = self.spark.read.parquet(self._path(ent["path"]))
            if ent["exclude"]:
                df = df.filter(~F.col("src_batch").isin(ent["exclude"]))
            parts.append(df)
        if not parts:
            raise FileNotFoundError(self._path("edges"))
        return reduce(DataFrame.unionByName, parts)

    def _snap(self, table: str, v: int, ddl: str) -> DataFrame:
        p = self._path(table, f"v={v}")
        if v <= 0 or not os.path.exists(p):
            return self._empty(ddl)
        return self.spark.read.parquet(p)

    def _write_part(self, df: DataFrame, table: str, bid: int,
                    gen: int | None = None) -> DataFrame:
        p = (self._path(table, f"batch={bid}") if gen is None
             else self._path(table, f"g={gen}", f"batch={bid}"))
        df.write.mode("overwrite").parquet(p)
        return self.spark.read.parquet(p)

    def _write_snap(self, df: DataFrame, table: str, v: int) -> DataFrame:
        p = self._path(table, f"v={v}")
        df.write.mode("overwrite").parquet(p)
        return self.spark.read.parquet(p)

    def _index(self, upto: int, gen: int, stats: DataFrame) -> DataFrame:
        """The committed block index with over-cap gram blocks masked out
        (forward purge — module docstring).  The purged-block list is tiny
        (hot grams only), hence the broadcast."""
        idx = self._parts("block_index", upto, _INDEX_DDL, gen=gen)
        purged = stats.filter("purged").select("block") \
            .withColumn("_p", F.lit(True))
        return (idx.join(F.broadcast(purged), "block", "left")
                .filter(~(F.col("_gram") & F.coalesce("_p", F.lit(False))))
                .drop("_p"))

    # -- per-batch ingest --------------------------------------------------
    def process_batch(self, batch_df: DataFrame,
                      batch_id: int | None = None) -> None:
        st = self._state()
        n, lo, hi = _conv_range(batch_df)
        if not n:
            return
        t0 = time.time()
        bid = st["n_batches"]

        if st["max_conv_id"] and lo is not None and lo <= st["max_conv_id"]:
            # Conversation-level idempotence FIRST: a replayed (already
            # committed) batch dedups to empty and is a no-op in EVERY mode
            # — replay detection by stream batch-id alone would be a
            # data-loss footgun (a new checkpoint dir restarts ids at 0).
            # COMMITTED batches only — a crashed attempt's stray batch dir
            # must not count as "known" or its convs would be dropped
            # forever on replay instead of reprocessed.
            base = self._path("extractions")
            known = (self.spark.read.option("basePath", base).parquet(base)
                     .filter(F.col("batch") < bid)
                     .select("conv_id").distinct())
            fresh = batch_df.join(known, "conv_id", "left_anti") \
                .localCheckpoint()
            n, lo, hi = _conv_range(fresh)
            if not n:
                return
            if lo <= st["max_conv_id"] and self.out_of_order == "strict":
                raise ValueError(
                    f"non-monotonic batch: new conv_id {lo!r} <= already-"
                    f"processed {st['max_conv_id']!r} — strict mode requires "
                    "arrival in conv_id order (duplicate re-delivery is "
                    "deduped and fine; this batch carries genuinely new "
                    "earlier conversations)")
            ext_b = self._write_part(extract.extract_stage(fresh),
                                     "extractions", bid)
            if lo <= st["max_conv_id"]:
                return self._process_out_of_order(bid, hi, batch_id, st, t0)
            # else: monotonic after the dedup — fall through
        else:
            ext_b = self._write_part(extract.extract_stage(batch_df),
                                     "extractions", bid)

        # ---- forms state merge (key-only groupBy, no text scoring) ------
        bforms = entity_forms(ext_b).localCheckpoint()
        prior_forms = self._snap("forms", bid, _FORMS_DDL)
        merged = (prior_forms.unionByName(bforms)
                  .groupBy("er_type", "name", "norm_name")
                  .agg(F.min("form_key").alias("form_key"),
                       F.sum("n_mentions").alias("n_mentions")))
        merged = self._write_snap(merged, "forms", bid + 1)
        new_forms = (bforms.join(prior_forms.select("er_type", "name",
                                                    "norm_name"),
                                 ["er_type", "name", "norm_name"],
                                 "left_anti")
                     .localCheckpoint())

        # ---- block index update: key ONLY the new forms -----------------
        keyed_new = _keyed_rows(
            new_forms.filter(F.col("er_type") != "Document")) \
            .localCheckpoint()
        n_keyed = keyed_new.count()  # cheap: pinned above
        prior_stats = self._snap("block_stats", bid, _STATS_DDL)
        newc = keyed_new.groupBy("block").agg(F.count("*").alias("_n_new"))
        stats = (prior_stats.join(newc, "block", "full")
                 .select("block",
                         (F.coalesce("df", F.lit(0))
                          + F.coalesce("_n_new", F.lit(0))).alias("df"),
                         F.coalesce("n_admitted", F.lit(0))
                         .alias("n_admitted"),
                         F.coalesce("purged", F.lit(False)).alias("purged")))
        stats = stats.withColumn(
            "purged", F.col("purged") | (F.col("df") > GRAM_DF_CAP))
        w = Window.partitionBy("block").orderBy("form_key")
        admitted_new = (keyed_new
                        .join(stats.select("block", "purged", "n_admitted"),
                              "block")
                        .filter(~F.col("_gram") | ~F.col("purged"))
                        .withColumn("_rn", F.row_number().over(w))
                        .filter(F.col("n_admitted") + F.col("_rn")
                                <= self.max_block)
                        .select("form_key", "er_type", "name", "norm_name",
                                "block", "_gram"))
        admitted_new = self._write_part(admitted_new, "block_index", bid,
                                        gen=st["gen"])
        adm_c = admitted_new.groupBy("block").agg(
            F.count("*").alias("_n_adm"))
        stats = stats.join(adm_c, "block", "left").select(
            "block", "df",
            (F.col("n_admitted")
             + F.coalesce("_n_adm", F.lit(0))).alias("n_admitted"),
            "purged")
        stats = self._write_snap(stats, "block_stats", bid + 1)
        # NOT localCheckpoint'd: index/edges/forms_c are parquet-backed
        # lazy plans — pinning them would materialize O(store) state in
        # executor memory every micro-batch; consumers re-scan the (cheap,
        # UDF-free) files instead.
        index_all = self._index(bid, st["gen"], stats)

        # ---- candidate pairs: new later side ONLY, scored after the
        # restriction (the O(batch) invariant) -----------------------------
        prior_edges = self._parts("matches", bid - 1, _MATCH_DDL,
                                  gen=st["gen"])
        # counted from a pin, not an Observation: Spark completes an
        # Observation with an empty, unreadable row when the executed plan
        # reports no metrics for the observed node, which happens
        # intermittently under adaptive execution here
        pairs = candidate_pairs(merged, keyed=index_all,
                                later=admitted_new).localCheckpoint()
        n_pairs = pairs.count()
        new_edges = match_edges(merged, self.threshold, pairs=pairs,
                                prior_edges=prior_edges)
        new_edges = self._write_part(new_edges, "matches", bid,
                                     gen=st["gen"])
        all_matches = prior_edges.unionByName(new_edges)

        # ---- component assignment for new forms (roots are final) -------
        new_fc = self._write_part(
            materialize.form_components(new_forms.select("form_key"),
                                        all_matches),
            "form_component", bid, gen=st["gen"])
        fc_all = self._parts("form_component", bid, _FC_DDL, gen=st["gen"])

        # ---- node table: per-component mention deltas, not a rebuild ----
        delta = (bforms.select("er_type", "name", "norm_name",
                               F.col("n_mentions").alias("_bm"))
                 .join(merged.select("er_type", "name", "norm_name",
                                     "form_key"),
                       ["er_type", "name", "norm_name"])
                 .join(fc_all, "form_key")
                 .groupBy(F.col("component").alias("id"))
                 .agg(F.sum("_bm").alias("_delta")))
        prior_nodes = self._snap("nodes", bid, _NODES_DDL)
        updated = (prior_nodes.join(delta, "id", "left")
                   .withColumn("n_mentions",
                               F.col("n_mentions")
                               + F.coalesce("_delta", F.lit(0)))
                   .drop("_delta"))
        new_nodes = (materialize.entity_nodes(new_forms.join(new_fc,
                                                             "form_key"))
                     .join(prior_nodes.select("id"), "id", "left_anti"))
        nodes = self._write_snap(
            updated.unionByName(new_nodes)
            .unionByName(materialize.fact_nodes(ext_b)), "nodes", bid + 1)

        # ---- this batch's triples ---------------------------------------
        forms_c = (merged.join(fc_all, "form_key", "left")
                   .withColumn("component",
                               F.coalesce("component", "form_key")))
        edges_b = self._materialize_batch(ext_b, merged, forms_c, nodes,
                                          all_matches, index_all)
        # src_batch rides as a data column, which the view's exclude lists
        # filter on; the new dir joins the view and the commit makes it
        # visible
        self._write_part(edges_b.withColumn("src_batch", F.lit(bid)),
                         "edges", bid, gen=st["gen"])
        st["edges_sources"].append(
            {"path": os.path.join("edges", f"g={st['gen']}", f"batch={bid}"),
             "batches": [bid], "exclude": []})

        self._finish(st, "monotonic", bid, hi, batch_id, n_pairs, n_keyed,
                     t0)

    def _finish(self, st: dict, mode: str, bid: int, hi: str | None,
                batch_id: int | None, n_pairs: int, n_keyed: int,
                t0: float) -> None:
        """Advance the state past batch ``bid``, record its cost (one
        record shape for both modes) and commit."""
        st["n_batches"] = bid + 1
        if hi is not None:
            st["max_conv_id"] = max(st["max_conv_id"], hi)
        if batch_id is not None:
            st["last_stream_batch"] = batch_id
        st["batch_metrics"].append({
            "batch": bid, "mode": mode,
            "n_scored_pairs": n_pairs,
            "n_keyed_rows": int(n_keyed),
            "wall_sec": round(time.time() - t0, 2)})
        self._commit(st)

    def _materialize_batch(self, ext_p: DataFrame, merged: DataFrame,
                           forms_c: DataFrame, nodes: DataFrame,
                           all_matches: DataFrame,
                           index_all: DataFrame) -> DataFrame:
        """Edges for ``ext_p``'s conversations (one monotonic batch, or the
        whole archive in an out-of-order rebuild) against the cumulative
        store.  Occurrence re-scoring is scoped to those conversations'
        occurring names and the member side reuses the persisted block
        index — both O(batch) for a monotonic batch."""
        scope = (ext_p.filter(F.col("kind").isin("party", "term", "doc"))
                 .select("er_type", "name").distinct())
        occ = materialize.occurrence_map(
            ext_p, merged, forms_c, nodes, all_matches,
            threshold=self.threshold, max_block=self.max_block,
            query_scope=scope, members_keyed=index_all)
        raw = infer.raw_triples(ext_p).localCheckpoint()
        return materialize.graph_edges(ext_p, raw, forms_c, occ)

    # -- out-of-order arrival ---------------------------------------------
    def _process_out_of_order(self, bid: int, hi: str | None,
                              batch_id: int | None, st: dict,
                              t0: float) -> None:
        """Full ER rebuild from the extraction archive for a late batch
        (module docstring): forms, blocking caps, matches, components and
        nodes are recomputed over every archived batch and written under a
        bumped generation, and the edges of the whole archive land in one
        directory that becomes the entire edges view."""
        gen = st["gen"] + 1
        base = self._path("extractions")
        with_batch = (self.spark.read.option("basePath", base).parquet(base)
                      .filter(F.col("batch") <= bid))
        ext_all = with_batch.drop("batch").localCheckpoint()
        merged = self._write_snap(entity_forms(ext_all), "forms", bid + 1)

        raw_keyed = _keyed_rows(
            merged.filter(F.col("er_type") != "Document")).localCheckpoint()
        n_keyed = raw_keyed.count()
        keyed_all = self._write_part(
            _block_keys(None, self.max_block, keep_gram=True,
                        keyed=raw_keyed)
            .select("form_key", "er_type", "name", "norm_name", "block",
                    "_gram"), "block_index", bid, gen=gen)
        adm = keyed_all.groupBy("block").agg(F.count("*").alias("n_admitted"))
        stats = self._write_snap(
            raw_keyed.groupBy("block").agg(F.count("*").alias("df"))
            .join(adm, "block", "left")
            .select("block", "df",
                    F.coalesce("n_admitted", F.lit(0)).alias("n_admitted"),
                    (F.col("df") > GRAM_DF_CAP).alias("purged")),
            "block_stats", bid + 1)

        pairs = candidate_pairs(merged, keyed=keyed_all).localCheckpoint()
        n_pairs = pairs.count()
        # (key_b, key_a): the column order every out-of-order generation
        # has been written in, which the golden matches digest hashes
        edges_final = self._write_part(
            match_edges(merged, self.threshold, pairs=pairs)
            .select("key_b", "key_a"), "matches", bid, gen=gen)
        forms_c = materialize.form_components(merged,
                                              edges_final).localCheckpoint()
        self._write_part(forms_c.select("form_key", "component"),
                         "form_component", bid, gen=gen)
        nodes = self._write_snap(
            materialize.entity_nodes(forms_c)
            .unionByName(materialize.fact_nodes(ext_all)), "nodes", bid + 1)
        index_all = self._index(bid, gen, stats).localCheckpoint()

        edges = self._materialize_batch(ext_all, merged, forms_c, nodes,
                                        edges_final, index_all)
        src = with_batch.select(F.col("conv_id").alias("provenance_doc_id"),
                                F.col("batch").alias("src_batch")).distinct()
        self._write_part(edges.join(src, "provenance_doc_id")
                         .select(*edges.columns, "src_batch"),
                         "edges", bid, gen=gen)
        st["edges_sources"] = [
            {"path": os.path.join("edges", f"g={gen}", f"batch={bid}"),
             "batches": list(range(bid + 1)), "exclude": []}]

        st["gen"] = gen
        self._finish(st, "out_of_order", bid, hi, batch_id, n_pairs, n_keyed,
                     t0)

    # -- compaction ---------------------------------------------------------
    def compact(self) -> None:
        """Consolidate every append table's committed per-batch directories
        into ONE directory under a bumped generation (bounds the small-file
        / file-listing growth of a long-running stream).

        Same layout, same readers, same atomic pointer semantics: the
        consolidated directories are invisible until the state commit, a
        crash mid-compaction leaves only an unreferenced generation, and
        the superseded generation is GC'd one commit later (one-commit
        retention).  The triple set is unchanged by construction — rows are
        moved, not transformed.  Extraction archive dirs are kept per batch
        (the replay dedup and the out-of-order rebuild filter on their
        batch ids).  With an Iceberg catalog this whole method becomes a
        metadata-level rewrite_data_files call (ICEBERG.md).
        """
        st = self._state()
        bid = st["n_batches"] - 1
        if bid < 0:
            return
        gen = st["gen"] + 1
        for table, ddl in (("matches", _MATCH_DDL),
                           ("block_index", _INDEX_DDL),
                           ("form_component", _FC_DDL)):
            df = self._parts(table, bid, ddl, gen=st["gen"])
            self._write_part(df, table, bid, gen=gen)
        self._write_part(self._edges(st), "edges", bid, gen=gen)
        # the consolidated dir becomes the whole view: every other edges
        # directory is now unreferenced and GC'd with one-commit retention
        live = sorted({b for e in st["edges_sources"] for b in e["batches"]
                       if b not in e["exclude"]})
        st["edges_sources"] = [
            {"path": os.path.join("edges", f"g={gen}", f"batch={bid}"),
             "batches": live, "exclude": []}]
        st["gen"] = gen
        self._commit(st)

    # -- read side ---------------------------------------------------------
    # NOTE (one-commit GC retention, module docstring): a DataFrame handle
    # obtained from any reader below stays valid across ONE subsequent
    # commit; after a second commit its files may be GC'd — re-fetch.
    def batch_metrics(self) -> list[dict]:
        """Per-batch cost counters (scored-pair / keyed-row counts etc.) —
        the flat-per-batch evidence surface."""
        return self._state()["batch_metrics"]

    def nodes(self) -> DataFrame:
        return self._snap("nodes", self._state()["n_batches"], _NODES_DDL)

    def edges(self) -> DataFrame:
        return self._edges(self._state()).drop("src_batch")

    def matches(self) -> DataFrame:
        st = self._state()
        return self._parts("matches", st["n_batches"] - 1, _MATCH_DDL,
                           gen=st["gen"])

    def triples(self) -> DataFrame:
        return materialize.triples_view(self.edges(), self.nodes())
