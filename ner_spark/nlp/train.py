"""Distributed structured-perceptron training for the emission model
(Collins 2002; distributed batch form per McDonald et al. 2010's
parameter-mixing family) — closes the train→score loop: the reference
family of NER pipelines *trains* its CRF/maxent tagger, while this repo's
model fixture is generated (ner_spark/nlp/model.py); this module learns
the SAME (D, L) weight layout the production scorer broadcasts, from a
distributed gold-tagged CoNLL corpus, so trained weights drop straight
into ``detect_mentions``-style stages.

Spark-first shape (scales to a 10^9-token corpus):

- Per iteration, ONE ``mapInPandas`` pass over the sentence table decodes
  every sentence with the current broadcast weights (the existing
  vectorized tokenize → featurize → Viterbi kernel) and emits the
  perceptron update SPARSE: only mistaken tokens contribute (feat, label,
  ±1) rows, so the per-iteration shuffle shrinks as the model fits — by
  the last iterations it is near-empty. A dense-gradient design would
  shuffle D·L floats per partition per iteration (37 MB each) regardless
  of fit.
- The update aggregate is ``groupBy(i, j).sum(d)`` over INTEGER counts —
  exact, so training is bit-deterministic for ANY partitioning of the
  corpus (batch perceptron: decode against fixed weights, apply the
  summed update once per iteration). Verified by
  tests/test_train.py::test_training_is_partitioning_invariant.
- Weights broadcast once per iteration (Spark torrent broadcast, ~38 MB
  at D=2^20) and are destroyed after the pass; the collected update is
  bounded by the mistake count, not the corpus.

Transitions stay structural (BIO legality from the spec constants) — the
standard CRF-decoding practice of constraining transitions while training
emissions discriminatively.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_spark import spec
from ner_spark.nlp import vectorized as V

_L = spec.L


def structural_transitions() -> tuple[np.ndarray, np.ndarray]:
    """Noise-free BIO-legality transition/start scores (the fixture's
    structural part without its seeded noise — training starts from zero
    knowledge). Single-sourced via model.apply_structural."""
    from ner_spark.nlp.model import apply_structural

    T = np.zeros((spec.L, spec.L), dtype=np.float32)
    start = np.zeros(spec.L, dtype=np.float32)
    apply_structural(T, start)
    return T, start


def sentences_from_conll(conll: DataFrame) -> DataFrame:
    """CoNLL token rows → one row per block: ordered token/gold arrays.

    (file, doc_idx, sent_idx) is the block key emitted by
    sources/conll.py; array_sort on (tok_idx, …) structs restores token
    order without a window sort."""
    return (
        conll.groupBy("file", "doc_idx", "sent_idx")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("tok_idx", "token", "gold"))
            ).alias("ts")
        )
        .select(
            "file",
            "doc_idx",
            "sent_idx",
            F.col("ts.token").alias("tokens"),
            F.col("ts.gold").alias("golds"),
        )
    )


def _batch_arrays(b: pd.DataFrame):
    """One pandas batch of sentence rows → (tok dict, attrs, inv, gold ids).

    Each CoNLL block is taken AS the sequence unit (the standard CoNLL
    convention): tokens are used verbatim — no text re-join and no
    re-tokenization, so labels align 1:1 by construction. Re-joining
    tokens with spaces and re-running SENT_SPLIT_RE would manufacture
    phantom sentence boundaries the original text never had ('good!!'
    tokenizes to '!','!' with no interior split, but 'good ! !' splits
    after the first '!'), silently shifting prev/next BOS/EOS features;
    block-as-unit is exact and deterministic instead."""
    counts = np.asarray([len(ts) for ts in b["tokens"]], dtype=np.int64)
    gold = np.asarray(
        [spec.LABEL_IDX[g] for gs in b["golds"] for g in gs], dtype=np.int64
    )
    row = np.repeat(np.arange(len(b), dtype=np.int64), counts)
    # hard-split over-long blocks at MAX_SENT_LEN, same as the production
    # tokenizer's chunking, so Viterbi padding stays bounded
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    chunk = (np.arange(len(row)) - starts) // spec.MAX_SENT_LEN
    _, sent = np.unique(row * (1 << 20) + chunk, return_inverse=True)
    tok = {
        "row": row,
        "sent": sent,
        "text": np.asarray(
            [t for ts in b["tokens"] for t in ts], dtype=object
        ),
    }
    uniq, inv = np.unique(tok["text"], return_inverse=True)
    attrs = V.unique_token_attrs(uniq)
    return tok, attrs, inv, gold


def _decode(tok, attrs, inv, WT, T, start, gaz):
    h_lower_tok = attrs["h_lower"][inv]
    gaz_code, gaz_bi = V.gaz_tag_batch(tok, h_lower_tok, gaz)
    fidx = V.feature_indices_for_batch(tok, attrs, inv, gaz_code, gaz_bi)
    em = V.emissions_from_indices(fidx, WT)
    pred = V.viterbi_batch(em, tok["sent"], T, start)
    return fidx, pred


def train_perceptron(
    spark: SparkSession,
    sents: DataFrame,
    gazetteer_pdf: pd.DataFrame,
    iters: int = 12,
    lr: float = 0.1,
    mode: str = "batch",
    mix_chunk: int = 32,
) -> tuple[np.ndarray, list[dict]]:
    """Fit emission weights on gold-tagged sentences; returns (WT, history).

    WT is (D, L) float32 — the exact layout emissions_for_batch consumes,
    so ``{"WT": WT, "T": T, "start": start}`` swaps into the production
    broadcast. history has per-iteration {n_tok, n_mis, nnz_update}.
    ``gazetteer_pdf`` may also be a prebuilt GazMatcher (reused by
    evaluate_tagger callers).

    ``mode`` selects the distributed-perceptron family member
    (Collins 2002; McDonald et al. 2010):

    - ``"batch"`` — decode the WHOLE corpus against fixed weights, apply
      the summed integer update once per pass. Bit-deterministic for ANY
      partitioning (exact integer sums; the invariance test's scope).
    - ``"ipm"`` — iterative parameter mixing: each partition runs a
      LOCAL perceptron for the pass (decode a ``mix_chunk``-sentence
      chunk with its CURRENT local weights, apply the update locally,
      continue), then the pass mixes the per-partition deltas uniformly
      (McDonald et al.'s μ = 1/S). Each executor update sees the effect
      of earlier local updates within the pass, so fewer passes reach a
      given fit than batch — the McDonald result — at the cost of
      bit-determinism across REpartitionings (within a fixed
      partitioning it is still deterministic). The shuffle stays
      mistake-sparse like batch; the mixing divide makes the weight
      lattice finer (lr/S steps), not denser.
    """
    if mode not in ("batch", "ipm"):
        raise ValueError(f"unknown training mode {mode!r}")
    sc = spark.sparkContext
    T, start = structural_transitions()
    bc_gaz = sc.broadcast(_matcher(gazetteer_pdf))
    WT = np.zeros((spec.D, spec.L), dtype=np.float32)
    # persist: every iteration re-executes this plan (file read, CoNLL
    # parse, groupBy, array_sort) without it
    data = sents.select("tokens", "golds").persist()
    history: list[dict] = []
    try:
        for _ in range(iters):
            bc_w = sc.broadcast(WT)
            step = (
                _step_fn(bc_w, bc_gaz, T, start)
                if mode != "ipm"
                else _ipm_step_fn(bc_w, bc_gaz, T, start, lr, mix_chunk)
            )
            try:
                upd = (
                    data.mapInPandas(step, schema="i long, j int, d long")
                    .groupBy("i", "j")
                    .agg(F.sum("d").alias("d"))
                    .collect()
                )
            finally:
                bc_w.destroy()
            stats = {"n_tok": 0, "n_mis": 0, "nnz_update": 0}
            n_shards = 0
            pend = []
            for r in upd:
                if r["i"] == -1:
                    stats["n_tok" if r["j"] == 0 else "n_mis"] = int(r["d"])
                elif r["i"] == -2:
                    n_shards = int(r["d"])
                elif r["d"]:
                    pend.append(r)
            WT = WT.copy()
            # batch applies the summed update at lr; ipm applies
            # the UNIFORM MIX of the per-shard local deltas — each shard
            # emitted its integer update counts, so the mixed delta is
            # lr * sum / n_shards
            scale = lr if mode != "ipm" else lr / max(1, n_shards)
            for r in pend:
                WT[r["i"], r["j"]] += scale * r["d"]
                stats["nnz_update"] += 1
            history.append(stats)
            if stats["n_mis"] == 0:
                break
    finally:
        bc_gaz.destroy()
        data.unpersist()
    return WT, history


def _matcher(gaz) -> "V.GazMatcher":
    return gaz if isinstance(gaz, V.GazMatcher) else V.GazMatcher(gaz)


def _step_fn(bc_w, bc_gaz, T, start):
    """One training iteration's executor function: decode with the
    broadcast weights, emit the sparse perceptron update plus the
    (i=-1) token/mistake sentinel rows."""

    def step(batches):
        acc: dict = {}
        n_tok = 0
        n_mis = 0
        for b in batches:
            if not len(b):
                continue
            tok, attrs, inv, gold = _batch_arrays(b)
            fidx, pred = _decode(
                tok, attrs, inv, bc_w.value, T, start, bc_gaz.value
            )
            n_tok += len(gold)
            mis = pred != gold
            n_mis += int(mis.sum())
            if not mis.any():
                continue
            fm = fidx[mis]
            v = (fm >= 0).ravel()
            ii = fm.ravel()[v]
            jg = np.repeat(gold[mis], V.N_FEAT_COLS)[v]
            jp = np.repeat(pred[mis], V.N_FEAT_COLS)[v]
            keys = np.concatenate([ii * _L + jg, ii * _L + jp])
            vals = np.concatenate(
                [
                    np.ones(len(ii), dtype=np.int64),
                    -np.ones(len(ii), dtype=np.int64),
                ]
            )
            uk, uinv = np.unique(keys, return_inverse=True)
            sums = np.bincount(uinv, weights=vals).astype(np.int64)
            for k, s in zip(uk.tolist(), sums.tolist()):
                if s:
                    acc[k] = acc.get(k, 0) + s
        rows = [(int(k) // _L, int(k) % _L, int(s)) for k, s in acc.items()]
        rows.append((-1, 0, n_tok))
        rows.append((-1, 1, n_mis))
        yield pd.DataFrame(rows, columns=["i", "j", "d"])

    return step


def _ipm_step_fn(bc_w, bc_gaz, T, start, lr, mix_chunk):
    """One IPM pass's executor function: run a LOCAL perceptron over the
    partition — decode each mix_chunk-sentence chunk with the CURRENT
    local weights, apply its summed update to them immediately — and emit
    the partition's accumulated INTEGER update counts plus an (i=-2)
    shard sentinel, so the driver can mix the local deltas uniformly
    (local_delta = lr * counts; mixed = mean over shards). Local weights
    copy-on-write only the rows a chunk touches (WT is 37 MB; a full
    partition copy per task would dominate small passes)."""

    def step(batches):
        # full local copy of the broadcast weights (37 MB float32, ~10 ms
        # — one per task per pass, negligible next to the decode work):
        # local updates then go through the SAME _decode/
        # emissions_from_indices path production uses, no overlay scorer
        W = None
        acc: dict = {}
        n_tok = 0
        n_mis = 0
        for b in batches:
            for s0 in range(0, len(b), mix_chunk):
                c = b.iloc[s0:s0 + mix_chunk]
                if not len(c):
                    continue
                if W is None:
                    W = bc_w.value.copy()
                tok, attrs, inv, gold = _batch_arrays(c)
                fidx, pred = _decode(
                    tok, attrs, inv, W, T, start, bc_gaz.value
                )
                n_tok += len(gold)
                mis = pred != gold
                n_mis += int(mis.sum())
                if not mis.any():
                    continue
                fm = fidx[mis]
                vv = (fm >= 0).ravel()
                ii = fm.ravel()[vv]
                jg = np.repeat(gold[mis], V.N_FEAT_COLS)[vv]
                jp = np.repeat(pred[mis], V.N_FEAT_COLS)[vv]
                keys = np.concatenate([ii * _L + jg, ii * _L + jp])
                vals = np.concatenate(
                    [
                        np.ones(len(ii), dtype=np.int64),
                        -np.ones(len(ii), dtype=np.int64),
                    ]
                )
                uk, uinv = np.unique(keys, return_inverse=True)
                sums = np.bincount(uinv, weights=vals).astype(np.int64)
                nz = sums != 0
                for k, s in zip(uk[nz].tolist(), sums[nz].tolist()):
                    acc[k] = acc.get(k, 0) + s
                # apply this chunk's update to the LOCAL weights so the
                # next chunk decodes against them — the sequential step
                # that makes IPM converge in fewer passes than batch
                W[uk[nz] // _L, uk[nz] % _L] += (lr * sums[nz]).astype(
                    np.float32
                )
        rows = [(int(k) // _L, int(k) % _L, int(s)) for k, s in acc.items()]
        rows.append((-1, 0, n_tok))
        rows.append((-1, 1, n_mis))
        if n_tok:
            # shard sentinel: only shards that SAW tokens enter the mix
            # denominator — empty input partitions would otherwise dilute
            # every mixed update (McDonald's shards are non-empty by
            # construction)
            rows.append((-2, 0, 1))
        yield pd.DataFrame(rows, columns=["i", "j", "d"])

    return step


def evaluate_tagger(
    spark: SparkSession,
    sents: DataFrame,
    WT: np.ndarray,
    gazetteer_pdf: pd.DataFrame,
) -> dict:
    """Decode sentences with WT; token accuracy + span-level P/R/F1 vs the
    gold BIO tags, aggregated distributively (per-partition counts, one
    tiny collect)."""
    sc = spark.sparkContext
    T, start = structural_transitions()
    bc_w = sc.broadcast(WT)
    bc_gaz = sc.broadcast(_matcher(gazetteer_pdf))

    def step(batches, _w=bc_w, _g=bc_gaz):
        n_tok = n_ok = n_gold = n_pred = n_match = 0
        for b in batches:
            if not len(b):
                continue
            tok, attrs, inv, gold = _batch_arrays(b)
            fidx, pred = _decode(tok, attrs, inv, _w.value, T, start, _g.value)
            n_tok += len(gold)
            n_ok += int((pred == gold).sum())
            gs = _bio_spans(gold, tok["sent"])
            ps = _bio_spans(pred, tok["sent"])
            n_gold += len(gs)
            n_pred += len(ps)
            n_match += len(gs & ps)
        yield pd.DataFrame(
            [[n_tok, n_ok, n_gold, n_pred, n_match]],
            columns=["n_tok", "n_ok", "n_gold", "n_pred", "n_match"],
        )

    schema = "n_tok long, n_ok long, n_gold long, n_pred long, n_match long"
    try:
        tot = (
            sents.select("tokens", "golds")
            .mapInPandas(step, schema=schema)
            .groupBy()
            .sum()
            .collect()[0]
        )
    finally:
        bc_w.destroy()
        bc_gaz.destroy()
    n_tok, n_ok, n_gold, n_pred, n_match = (tot[i] for i in range(5))
    p = n_match / n_pred if n_pred else 0.0
    r = n_match / n_gold if n_gold else 0.0
    return {
        "token_acc": n_ok / n_tok if n_tok else 0.0,
        "precision": p,
        "recall": r,
        "f1": 2 * p * r / (p + r) if p + r else 0.0,
        "n_tok": n_tok,
        "n_gold_spans": n_gold,
    }


def _bio_spans(labels: np.ndarray, sent: np.ndarray) -> set:
    """Vectorized BIO span extraction: {(sent, start, end, type_idx)} for
    every maximal span run (the numpy run-boundary pattern from
    decode_mentions — no per-token python loop). In the label alphabet
    B-X ids are odd, the matching I-X id is B+1, O is 0.

    Convention (conlleval/seqeval, round-4 ADVICE): an orphan I-X — an
    I-X at sentence start, after O, or after a different type — STARTS a
    span, exactly as the CoNLL eval script treats it. Well-formed BIO
    (gold, and Viterbi output under the trained transition scores) never
    emits orphans, so this only affects degenerate predictions — but it
    keeps the reported F1 comparable to seqeval-scored systems."""
    n = len(labels)
    if n == 0:
        return set()
    is_b = labels % 2 == 1
    is_i = (labels > 0) & (labels % 2 == 0)
    exp = labels + (labels % 2)  # B-X -> its I-X id; I-X -> itself; O -> 0
    cont = np.zeros(n, dtype=bool)
    cont[1:] = (
        (labels[1:] > 0)
        & (labels[1:] % 2 == 0)
        & (labels[1:] == exp[:-1])
        & (sent[1:] == sent[:-1])
    )
    brk = np.flatnonzero(~cont)
    # span starts: every B-X, plus every orphan I-X (an I that does not
    # continue the previous token's span)
    starts = np.flatnonzero(is_b | (is_i & ~cont))
    ends = np.append(brk, n)[np.searchsorted(brk, starts, side="right")]
    return {
        (int(sent[s]), int(s), int(e), int((labels[s] - 1) // 2))
        for s, e in zip(starts, ends)
    }
