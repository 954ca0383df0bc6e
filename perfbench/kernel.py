"""In-process timing of the fused NLP kernel, step by step.

The steps are the public functions ``nlp.vectorized.nlp_batch`` chains;
JVM metrics miss Python-worker time, so the kernel gets its own clock. The
texts are cut into batches of ``spark.sql.execution.arrow.maxRecordsPerBatch``
turns, the size the Spark stage hands the kernel.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from functools import partial

import numpy as np
import pandas as pd

from ner_spark.nlp import vectorized as V
from ner_spark.nlp.model import build_model

from perfbench.layers import KERNEL_STEPS

BATCH_TURNS = 4096
REPEATS = 3  # per-step medians over full passes


def _steps(texts, gaz, WT, T, start, clock) -> tuple[int, int, int]:
    """One batch through the kernel's steps; returns (tokens, unique
    tokens, mentions)."""
    with clock("tokenize"):
        tok = V.tokenize_batch(texts)
    if len(tok["row"]) == 0:
        return 0, 0, 0
    with clock("factorize"):
        inv, uniq = pd.factorize(tok["text"], use_na_sentinel=False)
        inv = inv.astype(np.int64, copy=False)
        attrs = V.unique_token_attrs(np.asarray(uniq, dtype=object))
        h_lower_tok = attrs["h_lower"][inv]
    with clock("gaz_tag"):
        g_code, g_isb = V.gaz_tag_batch(tok, h_lower_tok, gaz)
    with clock("emissions"):
        em = V.emissions_for_batch(tok, attrs, inv, g_code, g_isb, WT)
    with clock("viterbi"):
        labels = V.viterbi_batch(em, tok["sent"], T, start)
    with clock("decode"):
        men = V.decode_mentions(tok, labels, em, texts)
    with clock("ctx_emb"):
        men["ctx"] = V.ctx_embeddings(tok, h_lower_tok)[men.pop("tok_sent")]
    return len(tok["row"]), len(uniq), len(men["row"])


def time_kernel(texts: np.ndarray, gazetteer: pd.DataFrame, tracer, run: str) -> dict:
    """Per-step seconds (median over REPEATS passes), token, unique-token
    and mention counts, and whether the steps found the mentions
    nlp_batch finds."""
    gaz = V.GazMatcher(gazetteer)
    m = build_model()
    WT, T, start = np.ascontiguousarray(m["W"].T), m["T"], m["start"]
    batches = [texts[i:i + BATCH_TURNS] for i in range(0, len(texts), BATCH_TURNS)]
    per_step: dict[str, list[float]] = {s: [] for s in KERNEL_STEPS}
    counts = (0, 0, 0)
    with tracer.span("nlp.vectorized", run):
        for _ in range(REPEATS):
            acc = dict.fromkeys(KERNEL_STEPS, 0.0)
            clock = partial(_clock, tracer, run, acc)
            counts = (0, 0, 0)
            for b in batches:
                c = _steps(b, gaz, WT, T, start, clock)
                counts = tuple(x + y for x, y in zip(counts, c))
            n_mentions = 0
            for b in batches:
                with clock("nlp_batch"):
                    men, _ = V.nlp_batch(b, gaz, WT, T, start)
                n_mentions += len(men["row"])
            for s in KERNEL_STEPS:
                per_step[s].append(acc[s])
    tokens, uniq, mentions = counts
    out = {f"{s}_s": float(np.median(v)) for s, v in per_step.items()}
    out.update(
        tokens=tokens,
        unique_token_ratio=uniq / tokens if tokens else 0.0,
        mentions=mentions,
        steps_match_nlp_batch=mentions == n_mentions,
    )
    return out


@contextmanager
def _clock(tracer, run: str, acc: dict, step: str):
    with tracer.span(f"nlp.vectorized.{step}", run):
        t = time.perf_counter()
        yield
        acc[step] += time.perf_counter() - t
