"""The shared link scorer (operators.linking.score_candidates) and the
vectorized rounding it relies on — no Spark needed."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from ner_spark import spec
from ner_spark.operators.linking import score_candidates


def _packed(v: np.ndarray) -> bytes:
    return np.asarray(v, "<f8").tobytes()


def test_score_candidates_null_embeddings_score_zero_cosine():
    """A missing entity embedding arrives as None (Arrow null, batch join)
    or float NaN (pandas left merge, streaming); both score cos = 0.0,
    and a present embedding scores exactly as spec.cosine64."""
    rng = np.random.default_rng(7)
    ctx = rng.normal(size=(3, spec.EMB_DIM))
    ent = rng.normal(size=spec.EMB_DIM).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c0", "c1"],
            "turn_idx": np.array([0, 1, 2], dtype=np.int32),
            "start": np.array([0, 4, 8], dtype=np.int32),
            "end": np.array([3, 7, 11], dtype=np.int32),
            "sent_idx": np.array([0, 0, 1], dtype=np.int32),
            "norm_surface": ["a", "b", "c"],
            "ner_type": ["ORG", "ORG", "PER"],
            "entity_id": ["E1", "E2", "E3"],
            "ctx_emb": [_packed(r) for r in ctx],
            "emb_bin": np.array([_packed(ent), None, float("nan")], dtype=object),
        },
        index=[10, 11, 12],
    )
    out = score_candidates(pdf)

    assert list(out.index) == [10, 11, 12]
    assert list(out.columns) == [
        "conv_id", "turn_idx", "start", "end", "sent_idx",
        "norm_surface", "ner_type", "entity_id", "link_score",
    ]
    exact = round(
        spec.LINK_W_GAZ * spec.GAZ_SCORE_EXACT
        + spec.LINK_W_EMB * spec.cosine64(ctx[0], ent),
        spec.SCORE_NDIGITS,
    )
    assert out["link_score"].tolist() == [
        exact, round(0.5 + 0.5 * 0.0, 6), round(0.5 + 0.5 * 0.0, 6)
    ]


def _near_tie(k: int, ulps: int) -> float:
    """(k + 0.5) * 1e-6 stepped ``ulps`` representable doubles away."""
    x = (2 * k + 1) / 2e6
    step = np.inf if ulps > 0 else -np.inf
    for _ in range(abs(ulps)):
        x = float(np.nextafter(x, step))
    return x


_finite = st.floats(allow_nan=False, allow_infinity=False)
_ties = st.builds(
    _near_tie, st.integers(-(10**12), 10**12), st.integers(-4, 4)
)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(_finite, _ties), max_size=40))
def test_round_half_even_batch_matches_python_round(xs):
    got = spec.round_half_even_batch(np.array(xs, dtype=np.float64), 6)
    assert got.tolist() == [round(float(v), 6) for v in xs]
