#!/usr/bin/env python
"""A/B the distributed-perceptron training modes (batch vs iterative
parameter mixing) on the tiny CoNLL corpus: per-pass mistake curve,
passes-to-fit, held-out span F1 at several pass budgets. Appends the table to BENCH/BASELINE.md — the evidence
behind the production default (round-4 VERDICT item 3).

    python tools/train_ab.py [--iters 12] [--budgets 2,4,8,12]
"""
import argparse
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--iters", type=int, default=12)
    ap.add_argument("--budgets", default="2,4,8,12")
    a = ap.parse_args()
    budgets = [int(x) for x in a.budgets.split(",")]

    import pandas as pd
    from pyspark.sql import functions as F

    from fixtures.gen import ensure_fixture_dir
    from ner_spark.nlp.train import (
        evaluate_tagger,
        sentences_from_conll,
        train_perceptron,
    )
    from ner_spark.session import get_spark
    from ner_spark.sources.conll import ensure_conll_fixture, read_conll

    spark = get_spark(app="train-ab")
    path = ensure_conll_fixture("tiny")
    d = ensure_fixture_dir("tiny")
    gaz = pd.read_parquet(f"{d}/gazetteer.parquet")
    sents = sentences_from_conll(read_conll(spark, path))
    key = F.xxhash64("file", "doc_idx", "sent_idx")
    train = sents.where(F.pmod(key, F.lit(10)) < 8)
    held = sents.where(F.pmod(key, F.lit(10)) >= 8)

    rows = []
    curves = {}
    for mode in ("batch", "ipm"):
        for budget in budgets:
            t0 = time.time()
            WT, hist = train_perceptron(
                spark, train, gaz, iters=budget, lr=0.1, mode=mode
            )
            m = evaluate_tagger(spark, held, WT, gaz)
            rows.append(
                {
                    "mode": mode,
                    "budget": budget,
                    "passes": len(hist),
                    "train_mis_last": hist[-1]["n_mis"],
                    "f1": round(m["f1"], 4),
                    "token_acc": round(m["token_acc"], 4),
                    "sec": round(time.time() - t0, 1),
                }
            )
            print(rows[-1], flush=True)
            if budget == max(budgets):
                curves[mode] = [h["n_mis"] for h in hist]

    md = os.path.join(_ROOT, "BENCH", "BASELINE.md")
    with open(md, "a") as f:
        f.write(
            "\n## Perceptron training-mode A/B ({}, tiny CoNLL corpus, "
            "80/20 hash split)\n\n"
            "| mode | pass budget | train mistakes (last pass) | "
            "held-out span F1 | token acc | wall (s) |\n"
            "| --- | --- | --- | --- | --- | --- |\n".format(
                time.strftime("%Y-%m-%d %H:%M:%S")
            )
        )
        for r in rows:
            f.write(
                "| {mode} | {budget} | {train_mis_last} | {f1} "
                "| {token_acc} | {sec} |\n".format(**r)
            )
        f.write("\nMistake curves at the full budget:\n\n")
        for mode, c in curves.items():
            f.write(f"- {mode}: {c}\n")
    spark.stop()


if __name__ == "__main__":
    main()
