"""Distributed structured-perceptron training (ner_spark/nlp/train.py):
feature-path lockstep, partitioning-invariance, and a held-out quality
floor on the tiny CoNLL fixture."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def conll_sents(spark):
    from ner_spark.nlp.train import sentences_from_conll
    from ner_spark.sources.conll import ensure_conll_fixture, read_conll

    return sentences_from_conll(read_conll(spark, ensure_conll_fixture("tiny")))


@pytest.fixture(scope="module")
def gaz_pdf():
    import pyarrow.parquet as pq

    from fixtures.gen import ensure_fixture_dir

    d = ensure_fixture_dir("tiny")
    return pq.read_table(f"{d}/gazetteer.parquet").to_pandas()


def test_feature_indices_match_emissions(gaz_pdf):
    """The training path's explicit feature-index extraction must score
    identically to the fused production scorer (emissions_for_batch) —
    the lockstep gate that lets the two implementations coexist."""
    from ner_spark.nlp import vectorized as V
    from ner_spark.nlp.model import build_model

    texts = np.asarray(
        [
            "Alice Smith visited Paris. ACME Corp hired her!",
            "Dr. Bob and the IMF met in New York City on 2024-01-02.",
            "",
            "lowercase only sentence without entities .",
        ],
        dtype=object,
    )
    tok = V.tokenize_batch(texts)
    uniq, inv = np.unique(tok["text"], return_inverse=True)
    attrs = V.unique_token_attrs(uniq)
    h_lower_tok = attrs["h_lower"][inv]
    gaz = V.GazMatcher(gaz_pdf)
    gaz_code, gaz_bi = V.gaz_tag_batch(tok, h_lower_tok, gaz)
    WT = np.ascontiguousarray(build_model()["W"].T)
    want = V.emissions_for_batch(tok, attrs, inv, gaz_code, gaz_bi, WT)
    fidx = V.feature_indices_for_batch(tok, attrs, inv, gaz_code, gaz_bi)
    got = V.emissions_from_indices(fidx, WT)
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-6)


def test_training_is_partitioning_invariant(spark, conll_sents, gaz_pdf):
    """Batch-perceptron updates are exact integer sums, so two different
    partitionings of the same corpus must train to bit-identical
    weights."""
    from ner_spark.nlp.train import train_perceptron

    w_a, h_a = train_perceptron(
        spark, conll_sents.repartition(3), gaz_pdf, iters=2
    )
    w_b, h_b = train_perceptron(
        spark, conll_sents.repartition(17), gaz_pdf, iters=2
    )
    assert h_a == h_b
    assert np.array_equal(w_a, w_b)


def test_training_modes(spark, conll_sents, gaz_pdf):
    """The mode flag's contracts: ipm is deterministic for a FIXED
    partitioning (the invariance that survives local sequential updates)
    and shares the mistake-curve bookkeeping; unknown modes fail fast."""
    import pytest as _pytest

    from ner_spark.nlp.train import train_perceptron

    data = conll_sents.repartition(5)
    w_b, h_b = train_perceptron(spark, data, gaz_pdf, iters=2, mode="batch")

    w_i1, h_i1 = train_perceptron(spark, data, gaz_pdf, iters=2, mode="ipm")
    w_i2, h_i2 = train_perceptron(spark, data, gaz_pdf, iters=2, mode="ipm")
    assert h_i1 == h_i2
    assert np.array_equal(w_i1, w_i2)
    # the local sequential updates actually changed the trajectory
    assert h_i1[0]["n_tok"] == h_b[0]["n_tok"]
    assert not np.array_equal(w_i1, w_b)

    with _pytest.raises(ValueError):
        train_perceptron(spark, data, gaz_pdf, iters=1, mode="sgd")


def test_trained_tagger_beats_floor(spark, conll_sents, gaz_pdf):
    """Training from ZERO weights on 80% of the tiny corpus must converge
    (mistakes drop below 1% of tokens) and tag the held-out 20% above the
    north rule's bar: span F1 >= 0.95, token accuracy >= 0.98.
    (Measured at authoring time: train 2901 -> 7 mistakes over 12
    iterations; held-out F1 0.977, token acc 0.997.)"""
    from ner_spark.nlp.train import evaluate_tagger, train_perceptron

    key = F.xxhash64("file", "doc_idx", "sent_idx")
    train = conll_sents.where(F.pmod(key, F.lit(10)) < 8)
    held = conll_sents.where(F.pmod(key, F.lit(10)) >= 8)
    WT, hist = train_perceptron(spark, train, gaz_pdf, iters=12, lr=0.1)
    assert hist[-1]["n_mis"] < 0.01 * hist[-1]["n_tok"]
    assert hist[-1]["n_mis"] < 0.05 * hist[0]["n_mis"]
    m = evaluate_tagger(spark, held, WT, gaz_pdf)
    assert m["n_gold_spans"] > 20  # non-vacuous held-out set
    assert m["token_acc"] >= 0.98
    assert m["f1"] >= 0.95


def test_trained_weights_drive_production_stage(spark, conll_sents, gaz_pdf):
    """The north-rule P/R bar with TRAINED weights: perceptron weights
    (same (D, L) layout) swap into the production detect_mentions stage
    via the model override, and the emitted mention spans reach
    P >= 0.95 AND R >= 0.95 against the oracle gold on the tiny fixture
    (measured at authoring time: P 0.984, R 0.989, F1 0.987)."""
    from fixtures.gen import ensure_fixture_dir
    from ner_spark.nlp.stage import detect_mentions
    from ner_spark.nlp.train import structural_transitions, train_perceptron
    from ner_spark.operators.evaluate import span_prf
    from oracle.ref_pipeline import run_on_dir

    d = ensure_fixture_dir("tiny")
    WT, _ = train_perceptron(spark, conll_sents, gaz_pdf, iters=12, lr=0.1)
    T, start = structural_transitions()
    pred = detect_mentions(
        spark.read.parquet(f"{d}/transcripts.parquet"),
        gaz_pdf,
        spark,
        model={"WT": WT, "T": T, "start": start},
    )
    gold = spark.createDataFrame(
        run_on_dir(d)["mentions"][
            ["conv_id", "turn_idx", "start", "end", "ner_type"]
        ]
    )
    row = {
        r["ner_type"]: r for r in span_prf(pred, gold).collect()
    }["__all__"]
    assert row["precision"] >= 0.95
    assert row["recall"] >= 0.95


def test_build_kg_with_trained_weights(spark, conll_sents, gaz_pdf, tmp_path):
    """The production entry point end-to-end on LEARNED weights (round-4
    VERDICT item 7): build_kg's model override runs the trained
    perceptron through the FULL staged pipeline (salting, stage commits,
    lineage included), and the materialized mentions stage still clears
    the P/R >= 0.95 bar vs the oracle gold — the same floor as the
    direct detect_mentions test, but through the whole production
    surface."""
    from fixtures.gen import ensure_fixture_dir
    from ner_spark.nlp.train import structural_transitions, train_perceptron
    from ner_spark.operators.evaluate import span_prf
    from ner_spark.plans.kg import build_kg
    from oracle.ref_pipeline import run_on_dir

    d = ensure_fixture_dir("tiny")
    WT, _ = train_perceptron(spark, conll_sents, gaz_pdf, iters=12, lr=0.1)
    T, start = structural_transitions()
    out = build_kg(
        spark,
        spark.read.parquet(f"{d}/transcripts.parquet"),
        gaz_pdf,
        spark.read.parquet(f"{d}/entity_embeddings.parquet"),
        warehouse=str(tmp_path / "wh"),
        run_id="trained",
        resume=False,
        n_partitions=8,
        model={"WT": WT, "T": T, "start": start},
    )
    gold = spark.createDataFrame(
        run_on_dir(d)["mentions"][
            ["conv_id", "turn_idx", "start", "end", "ner_type"]
        ]
    )
    row = {
        r["ner_type"]: r for r in span_prf(out["mentions"], gold).collect()
    }["__all__"]
    assert row["precision"] >= 0.95
    assert row["recall"] >= 0.95
    # the downstream stages actually ran on the trained mentions
    assert out["triples"].count() > 0
    assert out["entities"].count() > 0
