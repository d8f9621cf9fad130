"""Stage 1 — per-conversation structural extraction.

Each conversation's turns are assembled (stable ``turn_idx`` order,
newline-joined — the reference fed one whole document string per source file
to ``StructuralExtractor.extract``; for transcripts the conversation IS the
document) and pushed through the deterministic kernels in
``functions.textops``.  Runs as ``groupBy(conv_id).applyInPandas`` — one
shuffle on conv_id, then pure Arrow-batched pandas on executors; no
driver-side work and no per-row Python.

Span offsets into the concatenated document are mapped back to
(turn_idx, in-turn offset) with a searchsorted over cumulative turn lengths,
preserving the reference's character-level provenance spans
(structural_extractor.py:155-161, 222-228) while keeping per-turn
addressability (input_hint: per-turn text equality under stable ordering).
"""
from __future__ import annotations

from typing import List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import textops
from ..schemas import EXTRACTIONS

_COLS = [f.name for f in EXTRACTIONS.fields]


def extract_conversation(pdf: pd.DataFrame) -> pd.DataFrame:
    """Structural extraction for one conversation (pandas in/out).

    Group iteration is one ``np.lexsort`` over the whole batch + boundary
    slicing, not ``pdf.groupby`` + per-group ``sort_values``/``fillna``:
    at ~16 turns per conversation the per-group pandas machinery was ~15%
    of the kernel (profiled).  Record CONTENT is unchanged; only the
    conversation iteration order becomes conv_id-ascending, which no
    consumer observes (every downstream op is relational and the lineage
    checksum is order-insensitive).
    """
    out: List[dict] = []
    if not len(pdf):
        return pd.DataFrame({c: pd.Series(dtype=object) for c in _COLS})
    conv_arr = pdf["conv_id"].to_numpy()
    tidx_arr = pdf["turn_idx"].to_numpy()
    text_arr = pdf["text"].to_numpy()
    order = np.lexsort((tidx_arr, conv_arr))
    conv_arr, tidx_arr = conv_arr[order], tidx_arr[order]
    text_arr = text_arr[order]
    bounds = np.flatnonzero(
        np.r_[True, conv_arr[1:] != conv_arr[:-1]]).tolist() + [len(conv_arr)]
    for b0, b1 in zip(bounds, bounds[1:]):
        conv_id = conv_arr[b0]
        texts = ["" if t is None or t != t else t for t in text_arr[b0:b1]]
        turn_ids = tidx_arr[b0:b1]
        doc = "\n".join(texts)
        # starts[i] = offset of turn i in doc
        lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
        starts = np.zeros(len(texts), dtype=np.int64)
        if len(texts) > 1:
            starts[1:] = np.cumsum(lens[:-1] + 1)

        def turn_of(span_start: int) -> int:
            i = int(np.searchsorted(starts, span_start, side="right") - 1)
            return int(turn_ids[max(i, 0)])

        res = textops.extract_structural(doc)
        seq = 0
        base = dict.fromkeys(_COLS)
        for p in res["parties"]:
            # entity_type: corporate-marker rule, what inference sees
            # (extraction_pipeline.py:548, inference precedes resolution);
            # er_type: validate_entity_type-corrected, what resolution uses
            # (extraction_pipeline.py:628).
            etype = textops.classify_party_type(p["name"])
            er_type = textops.validate_entity_type(p["name"], etype)
            out.append({**base, "conv_id": conv_id, "seq": seq, "kind": "party",
                        "name": p["name"], "entity_type": etype, "er_type": er_type,
                        "norm_name": textops.normalize_name(p["name"], er_type),
                        "role": p["role"], "aliases": p["aliases"],
                        "turn_idx": turn_of(p["span_start"]),
                        "span_start": p["span_start"], "span_end": p["span_end"]})
            seq += 1
        for t in res["defined_terms"]:
            er_type = textops.validate_entity_type(t["term"], "Reference")
            out.append({**base, "conv_id": conv_id, "seq": seq, "kind": "term",
                        "name": t["term"], "entity_type": "Reference",
                        "er_type": er_type,
                        "norm_name": textops.normalize_name(t["term"], er_type),
                        "definition": t["definition"], "aliases": t["aliases"],
                        "turn_idx": turn_of(t["span_start"]),
                        "span_start": t["span_start"], "span_end": t["span_end"]})
            seq += 1
        for pr in textops.extract_entity_props(doc):
            # role-property persons (G4 rules 3/5 input): same ER path as
            # caption parties — the reference resolves LLM-extracted
            # entities through the same loop (extraction_pipeline.py:615).
            # Ordering matters: after terms, mirroring the oracle's entity
            # list (parties + terms + prop persons).
            er_type = textops.validate_entity_type(pr["name"], "Person")
            out.append({**base, "conv_id": conv_id, "seq": seq, "kind": "party",
                        "name": pr["name"], "entity_type": "Person",
                        "er_type": er_type,
                        "norm_name": textops.normalize_name(pr["name"], er_type),
                        "role": pr["role"], "hint": pr["hint"], "aliases": [],
                        "turn_idx": turn_of(pr["span_start"]),
                        "span_start": pr["span_start"],
                        "span_end": pr["span_end"]})
            seq += 1
        for d in res["key_dates"]:
            out.append({**base, "conv_id": conv_id, "seq": seq, "kind": "date",
                        "name": d["date"], "entity_type": "Date", "er_type": "Date",
                        "norm_name": d["date"], "date_type": d["type"],
                        "turn_idx": turn_of(d["span_start"]),
                        "span_start": d["span_start"], "span_end": d["span_end"]})
            seq += 1
        if res["document_type"] != "unknown":
            out.append({**base, "conv_id": conv_id, "seq": seq, "kind": "doc",
                        "name": f"Doc_{conv_id}", "entity_type": "Document",
                        "er_type": "Document", "norm_name": f"Doc_{conv_id}",
                        "doc_type": res["document_type"],
                        "case_number": res["case_number"], "court": res["court"]})
            seq += 1
        for fct in textops.extract_facts(doc):
            # name = the reference's Fact canonical shape,
            # extraction_pipeline.py:813: f"{fact_type}: {text[:50]}..."
            out.append({**base, "conv_id": conv_id, "seq": seq, "kind": "fact",
                        "name": f"{fct['fact_type']}: {fct['text'][:50]}...",
                        "entity_type": "Fact", "er_type": "Fact",
                        "norm_name": fct['text'],
                        "definition": fct['text'],
                        "fact_type": fct['fact_type'],
                        "related": fct['related'],
                        "turn_idx": turn_of(fct['span_start']),
                        "span_start": fct['span_start']})
            seq += 1
    return pd.DataFrame(out, columns=_COLS) if out else pd.DataFrame(
        {c: pd.Series(dtype=object) for c in _COLS})


def extract_stage(transcripts: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """transcripts → long-format extraction records (one shuffle on conv_id).

    Physical design, deliberately NOT ``groupBy.applyInPandas``:

    * ``repartition(N, conv_id)`` — explicit and sized by cores, not left to
      AQE: the extraction kernel is compute-bound (~10 ms/conversation) on
      ~150 B/turn input, so AQE's size-based coalescing would collapse the
      shuffle to one task and serialize the stage.  Hash partitioning on
      conv_id guarantees every conversation lands whole in one partition.
    * ``mapInPandas`` over whole partitions — applyInPandas pays per-GROUP
      Arrow/pandas overhead (~ms per conversation, dominating the kernel at
      ~16 turns/group); mapInPandas amortizes it per PARTITION.  The kernel
      groups and turn-orders conversations internally, so batch fragmentation
      inside a partition is repaired with one concat.  Memory bound = one
      partition of turns in pandas, controlled by N.
    """
    if n_partitions is None:
        sc = transcripts.sparkSession.sparkContext
        n_partitions = sc.defaultParallelism * 4

    def run_partition(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        if len(pdf):
            yield extract_conversation(pdf)

    return (transcripts
            .select("conv_id", "turn_idx", "text")
            .repartition(n_partitions, "conv_id")
            .mapInPandas(run_partition, schema=EXTRACTIONS))

