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

O(batch) per micro-batch — the state store
------------------------------------------
Per-batch work is proportional to the BATCH, not the cumulative store: the
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
  overwrite on replay; out-of-order re-resolution reads it per batch);
* generation-scoped append tables, one directory per batch under
  ``table/g=G/batch=N``: ``matches``, ``block_index``, ``form_component``,
  ``keyed_forms`` (the UNCAPPED identity-keyed blocking rows — see
  out-of-order below) and ``edges`` (rows carry a ``src_batch`` column;
  edges are read only through the committed view below).
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
minus the ids in ``exclude`` that a later rewrite superseded.  Each
monotonic batch appends its own directory; an out-of-order rewrite's
carry-forward of untouched batches is METADATA-ONLY — the old-generation
directories stay in place and the new state simply keeps referencing them
— so edges write IO scales with the dirty batches, not the store.  GC keys
off view membership: a directory lives exactly as long as some committed
view references it.  A state file without the view is rejected.

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
so a late batch with conv_ids below the high-water mark triggers a targeted
re-resolution (``out_of_order="resolve"``, the default): only forms whose
canonical assignment can change — new/key-changed forms, their block
neighbours, and the fixed-point closure over components whose canonical
name changed — are re-scored, and only conversations referencing affected
names are re-materialized.  The blocking caps are recomputed from scratch
for the merged corpus (restoring exact single-run semantics), state tables
are rewritten under a bumped generation, and when the affected fraction
exceeds ``OO_FULL_REBUILD_FRAC`` — checked again each time the
canonical-change closure grows, and forced if the closure has not
converged when the iteration cap is hit — the engine falls back to a full
rebuild from the extraction archive.  ``out_of_order="strict"`` restores
the old raise-on-non-monotonic contract.

Out-of-order cost is O(affected) in TEXT/SCORING work, not O(store): the
uncapped blocking-key rows are persisted per batch in the identity-keyed
``keyed_forms`` table (computed once, when a form is first seen), so a
late batch text-keys ONLY its own new identities; the merged corpus's
current form keys are re-attached by a key-only identity join and the
single-run blocking caps are recomputed by key-only aggregations.  The
remaining O(store) terms are those key-only joins plus the
generation-rewrite IO (which an Iceberg catalog turns into metadata ops).
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
# identity-keyed (NO form_key: keys are derived from the name strings
# alone, so the rows stay valid when a late batch changes a form's key)
_KF_DDL = ("er_type string, name string, norm_name string, "
           "block string, _gram boolean")
_KF_COLS = ("er_type", "name", "norm_name", "block", "_gram")
_NODES_DDL = ("id string, type string, canonical_name string, "
              "confidence string, status string, n_mentions bigint")
# an out-of-order batch whose affected forms exceed this fraction of the
# vocabulary rebuilds ER from the extraction archive instead
OO_FULL_REBUILD_FRAC = 0.5


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
        for table in ("matches", "block_index", "form_component",
                      "keyed_forms"):
            keep = os.path.join(self.out_dir, table, f"g={st['gen']}")
            pending += [d for d in
                        glob.glob(os.path.join(self.out_dir, table, "g=*"))
                        if d != keep]
        # an edges directory lives exactly as long as the view references
        # it — generation membership is irrelevant (old-generation dirs
        # carried by reference MUST survive).  A generation dir none of
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
        if batch_df.isEmpty():
            return
        t0 = time.time()
        bid = st["n_batches"]

        lo, hi = (batch_df.agg(F.min("conv_id"), F.max("conv_id"))
                  .collect()[0])
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
            if fresh.isEmpty():
                return
            lo, hi = (fresh.agg(F.min("conv_id"), F.max("conv_id"))
                      .collect()[0])
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
                return self._process_out_of_order(ext_b, bid, hi, batch_id,
                                                  st, t0)
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
        # persist the UNCAPPED key rows (identity-keyed): a later
        # out-of-order batch re-keys only ITS new identities and reads the
        # rest from here instead of re-keying the whole vocabulary
        self._write_part(keyed_new.select(*_KF_COLS), "keyed_forms", bid,
                         gen=st["gen"])
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
        # src_batch rides as a data column so a generation rewrite (OO /
        # compaction) can carry forward the batches it did not touch; the
        # new dir joins the view and the commit makes it visible
        self._write_part(edges_b.withColumn("src_batch", F.lit(bid)),
                         "edges", bid, gen=st["gen"])
        st["edges_sources"].append(
            {"path": os.path.join("edges", f"g={st['gen']}", f"batch={bid}"),
             "batches": [bid], "exclude": []})

        st["n_batches"] = bid + 1
        if hi is not None:
            st["max_conv_id"] = max(st["max_conv_id"], hi)
        if batch_id is not None:
            st["last_stream_batch"] = batch_id
        st["batch_metrics"].append({
            "batch": bid, "mode": "monotonic",
            "n_scored_pairs": n_pairs,
            "n_keyed_rows": int(n_keyed),
            "wall_sec": round(time.time() - t0, 2)})
        self._commit(st)

    def _materialize_batch(self, ext_p: DataFrame, merged: DataFrame,
                           forms_c: DataFrame, nodes: DataFrame,
                           all_matches: DataFrame,
                           index_all: DataFrame) -> DataFrame:
        """Edges for one batch's conversations against the cumulative store.
        Occurrence re-scoring is scoped to the batch's occurring names and
        the member side reuses the persisted block index — both O(batch)."""
        scope = (ext_p.filter(F.col("kind").isin("party", "term", "doc"))
                 .select("er_type", "name").distinct())
        occ = materialize.occurrence_map(
            ext_p, merged, forms_c, nodes, all_matches,
            threshold=self.threshold, max_block=self.max_block,
            query_scope=scope, members_keyed=index_all)
        raw = infer.raw_triples(ext_p).localCheckpoint()
        return materialize.graph_edges(ext_p, raw, forms_c, occ)

    # -- out-of-order arrival ---------------------------------------------
    def _process_out_of_order(self, ext_b: DataFrame, bid: int,
                              hi: str | None, batch_id: int | None,
                              st: dict, t0: float) -> None:
        """Targeted re-resolution for a late batch (module docstring).

        The affected set starts at new/key-changed forms plus their block
        neighbours and closes over components whose canonical name changes
        (refinement scores pairs against canonicals, so a canonical change
        can re-score edges whose endpoints never met the new batch).  Only
        affected pairs are re-scored and only conversations referencing
        affected names are re-materialized; blocking caps are recomputed
        from scratch (single-run semantics) and state is rewritten under a
        bumped generation.
        """
        gen = st["gen"] + 1
        base = self._path("extractions")
        ext_all = (self.spark.read.option("basePath", base).parquet(base)
                   .filter(F.col("batch") <= bid).drop("batch"))
        merged = entity_forms(ext_all).localCheckpoint()
        prior_forms = self._snap("forms", bid, _FORMS_DDL)
        n_forms = merged.count()

        ident = ["er_type", "name", "norm_name"]
        changed = (merged.join(prior_forms.select(*ident, F.col("form_key")
                                                  .alias("_old_key")), ident)
                   .filter(F.col("form_key") != F.col("_old_key"))
                   .localCheckpoint())
        new_f = (merged.join(prior_forms.select(*ident), ident, "left_anti")
                 .localCheckpoint())
        seed = (changed.select("form_key")
                .unionByName(new_f.select("form_key")).distinct())

        # ---- key material: text-key ONLY this batch's new identities; the
        # store's key rows come from the persisted keyed_forms table and
        # get CURRENT form keys re-attached by a key-only identity join
        # (O(affected) text work — module docstring) ----------------------
        keyed_batch = _keyed_rows(
            new_f.filter(F.col("er_type") != "Document")).localCheckpoint()
        n_keyed = keyed_batch.count()
        kf_all = (self._parts("keyed_forms", bid - 1, _KF_DDL, gen=st["gen"])
                  .unionByName(keyed_batch.select(*_KF_COLS)))
        raw_keyed = kf_all.join(merged.select(*ident, "form_key"), ident) \
            .localCheckpoint()
        # full-cap recomputation: out-of-order restores single-run caps
        # (key-only window/agg over the persisted rows, no re-keying)
        keyed_all = _block_keys(None, self.max_block, GRAM_DF_CAP,
                                keep_gram=True,
                                keyed=raw_keyed).localCheckpoint()
        stats = raw_keyed.groupBy("block").agg(F.count("*").alias("df"))
        adm = keyed_all.groupBy("block").agg(F.count("*").alias("n_admitted"))
        stats = (stats.join(adm, "block", "left")
                 .select("block", "df",
                         F.coalesce("n_admitted", F.lit(0))
                         .alias("n_admitted"),
                         (F.col("df") > GRAM_DF_CAP).alias("purged")))

        # block neighbours of the seed: forms whose candidate set gains or
        # reorders a member (key-only join, no scoring)
        seed_blocks = keyed_all.join(seed, "form_key", "left_semi") \
            .select("block").distinct()
        neighbours = (keyed_all.join(seed_blocks, "block", "left_semi")
                      .select("form_key").distinct())
        affected = seed.unionByName(neighbours).distinct().localCheckpoint()
        n_aff = affected.count()

        all_forms = merged.select("form_key").distinct()
        full_rebuild = n_aff > OO_FULL_REBUILD_FRAC * max(n_forms, 1)
        if full_rebuild:
            affected = all_forms.localCheckpoint()

        # prior edges, re-keyed through the form-identity map; edges whose
        # direction inverts under the new keys go back into the affected set
        keymap = changed.select(F.col("_old_key").alias("_k"), "form_key")
        prior_edges = self._parts("matches", bid - 1, _MATCH_DDL,
                                  gen=st["gen"])
        rekeyed = prior_edges
        for side in ("key_a", "key_b"):
            rekeyed = (rekeyed
                       .join(keymap.withColumnRenamed("_k", side), side,
                             "left")
                       .withColumn(side, F.coalesce("form_key", F.col(side)))
                       .drop("form_key"))
        inverted = rekeyed.filter(F.col("key_a") >= F.col("key_b"))
        affected = (affected.unionByName(inverted.select(F.col("key_b")
                                                         .alias("form_key")))
                    .distinct().localCheckpoint())
        rekeyed = rekeyed.filter(F.col("key_a") < F.col("key_b")) \
            .localCheckpoint()

        prior_nodes = self._snap("nodes", bid, _NODES_DDL)
        prev_canon = prior_nodes.select(F.col("id").alias("component"),
                                        F.col("canonical_name").alias("_pc"))

        def rescore(aff: DataFrame) -> DataFrame:
            kept = rekeyed.join(aff.withColumnRenamed("form_key", "key_b"),
                                "key_b", "left_anti").localCheckpoint()
            pairs = candidate_pairs(
                merged, keyed=keyed_all,
                later=keyed_all.join(aff, "form_key", "left_semi"))
            new_e = match_edges(merged, self.threshold, pairs=pairs,
                                prior_edges=kept)
            return kept.unionByName(new_e).localCheckpoint()

        edges_final = rescore(affected)
        # when affected == all forms, kept is empty and rescore() IS the
        # full single-run rebuild — no cascade can exist outside it
        converged = full_rebuild
        for _ in range(5):
            if converged:
                break
            # cascade: components whose canonical name changed re-score any
            # edge pointing into them plus any block neighbour of a member
            fc = materialize.form_components(merged, edges_final)
            canon_now = materialize.entity_nodes(fc).select(
                F.col("id").alias("component"),
                F.col("canonical_name").alias("_nc"))
            changed_comps = (canon_now.join(prev_canon, "component", "left")
                             .filter(F.col("_pc").isNull()
                                     | (F.col("_pc") != F.col("_nc")))
                             .select("component"))
            members = fc.join(changed_comps, "component", "left_semi") \
                .select("form_key")
            nb_blocks = keyed_all.join(members, "form_key", "left_semi") \
                .select("block").distinct()
            nbs = keyed_all.join(nb_blocks, "block", "left_semi") \
                .select("form_key").distinct()
            in_edges = edges_final.join(
                fc.join(changed_comps, "component", "left_semi")
                .withColumnRenamed("form_key", "key_a"), "key_a",
                "left_semi").select(F.col("key_b").alias("form_key"))
            want = members.unionByName(nbs).unionByName(in_edges).distinct()
            extra = want.join(affected, "form_key", "left_anti")
            if extra.isEmpty():
                converged = True
                break
            affected = affected.unionByName(extra).distinct() \
                .localCheckpoint()
            # re-evaluate the rebuild fraction as the closure grows — a
            # cascade that balloons past the threshold costs more than the
            # rebuild it was avoiding
            if affected.count() > OO_FULL_REBUILD_FRAC * max(n_forms, 1):
                affected = all_forms.localCheckpoint()
                full_rebuild = converged = True
            edges_final = rescore(affected)
        if not converged:
            # the closure did not settle within the iteration cap: the last
            # discovered affected forms are unscored, so the targeted path
            # cannot guarantee the single-run-identical triple set — fall
            # back to the full rebuild
            affected = all_forms.localCheckpoint()
            full_rebuild = True
            edges_final = rescore(affected)

        # rewrite state under the new generation (committed directories are
        # never touched in place — a crash before _commit leaves the old
        # generation fully readable and the replay recomputes this one)
        merged = self._write_snap(merged, "forms", bid + 1)
        self._write_snap(stats.select("block", "df", "n_admitted", "purged"),
                         "block_stats", bid + 1)
        self._write_part(kf_all.select(*_KF_COLS), "keyed_forms", bid,
                         gen=gen)
        self._write_part(keyed_all.select("form_key", "er_type", "name",
                                          "norm_name", "block", "_gram"),
                         "block_index", bid, gen=gen)
        edges_final = self._write_part(edges_final, "matches", bid, gen=gen)
        forms_c = materialize.form_components(merged,
                                              edges_final).localCheckpoint()
        fc = self._write_part(forms_c.select("form_key", "component"),
                              "form_component", bid, gen=gen)
        nodes = self._write_snap(
            materialize.entity_nodes(forms_c)
            .unionByName(materialize.fact_nodes(ext_all)), "nodes", bid + 1)
        index_all = self._index(bid, gen, stats).localCheckpoint()

        # re-materialize: this batch + every prior batch referencing an
        # affected name (component-id or resolution could change there)
        prior_fc = self._parts("form_component", bid - 1, _FC_DDL,
                               gen=st["gen"])
        km = keymap.select(F.col("_k").alias("form_key"),
                           F.col("form_key").alias("_new_key"))
        rekeyed_fc = (prior_fc.join(km, "form_key", "left")
                      .select(F.coalesce("_new_key", F.col("form_key"))
                              .alias("form_key"), "component"))
        fc_diff = (fc.join(rekeyed_fc.withColumnRenamed("component", "_oc"),
                           "form_key", "left")
                   .filter(F.col("_oc").isNull()
                           | (F.col("_oc") != F.col("component")))
                   .select("form_key"))
        dirty_forms = affected.unionByName(fc_diff).distinct()
        dirty_names = merged.join(dirty_forms, "form_key", "left_semi") \
            .select("er_type", "name")
        with_batch = (self.spark.read
                      .option("basePath", self._path("extractions"))
                      .parquet(self._path("extractions"))
                      .filter(F.col("batch") <= bid))
        dirty_batches = sorted(
            r["batch"] for r in
            (with_batch.filter(F.col("kind").isin("party", "term", "doc"))
             .join(dirty_names, ["er_type", "name"], "left_semi")
             .select("batch").distinct().collect()))
        if bid not in dirty_batches:
            dirty_batches.append(bid)
        # carry-forward is METADATA-ONLY (the parquet analogue of Iceberg
        # manifest reuse): untouched batches stay in their committed
        # old-generation directories and the new state's edges view keeps
        # REFERENCING them (with the dirty src_batch ids excluded); only the
        # dirty batches are re-materialized, each into its own dir under the
        # new generation.  Write IO therefore scales with the dirty batches,
        # not the store — pinned by the n_edges_dirs_* /
        # edges_bytes_written batch metrics.
        dirty = set(dirty_batches)
        view = []
        for ent in st["edges_sources"]:
            held = set(ent["batches"])
            ex = set(ent["exclude"]) | (dirty & held)
            # a fully superseded dir drops out of the view and is GC'd
            if held <= ex:
                continue
            view.append({**ent, "exclude": sorted(ex)})
        edges_bytes = 0
        for b in sorted(dirty_batches):
            ext_p = with_batch.filter(F.col("batch") == b).drop("batch") \
                .localCheckpoint()
            edges_p = self._materialize_batch(ext_p, merged, forms_c, nodes,
                                              edges_final, index_all)
            self._write_part(edges_p.withColumn("src_batch", F.lit(b)),
                             "edges", b, gen=gen)
            d = self._path("edges", f"g={gen}", f"batch={b}")
            edges_bytes += sum(os.path.getsize(os.path.join(r, f))
                               for r, _, fs in os.walk(d) for f in fs)
            view.append({"path": os.path.relpath(d, self.out_dir),
                         "batches": [b], "exclude": []})
        n_carried = len(view) - len(dirty_batches)

        st["n_batches"] = bid + 1
        st["gen"] = gen
        st["edges_sources"] = view
        if hi is not None:
            st["max_conv_id"] = max(st["max_conv_id"], hi)
        if batch_id is not None:
            st["last_stream_batch"] = batch_id
        st["batch_metrics"].append({
            "batch": bid, "mode": "out_of_order",
            "n_affected_forms": int(n_aff), "n_forms": int(n_forms),
            "n_keyed_rows": int(n_keyed),
            "full_rebuild": bool(full_rebuild),
            "n_rematerialized_batches": len(dirty_batches),
            "n_edges_dirs_carried": n_carried,
            "edges_bytes_written": edges_bytes,
            "wall_sec": round(time.time() - t0, 2)})
        self._commit(st)

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
        (out-of-order re-resolution addresses them individually).  With an
        Iceberg catalog this whole method becomes a metadata-level
        rewrite_data_files call (ICEBERG.md).
        """
        st = self._state()
        bid = st["n_batches"] - 1
        if bid < 0:
            return
        gen = st["gen"] + 1
        for table, ddl in (("matches", _MATCH_DDL),
                           ("block_index", _INDEX_DDL),
                           ("form_component", _FC_DDL),
                           ("keyed_forms", _KF_DDL)):
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
