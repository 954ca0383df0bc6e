"""Entity linking (SURVEY.md §2.4 B1/B2, §2.7 B13).

B1  gazetteer candidate join — broadcast hash join (small build side).
B2  link-score join against entity embeddings — the skew hot spot: AQE
    skew-join handles hot entities (spark.sql.adaptive.skewJoin.enabled is
    set by ner_spark.session); no manual salting needed because the
    embedding side is keyed by unique entity_id (no key explosion on the
    build side) and AQE splits oversized candidate partitions.
B13 deterministic top-1 per mention: max link_score, ties → min entity_id.

Physical choices, each measured at ~10M candidates (3.6M-turn fixture):

- Embedding payloads stay PACKED BINARY end to end: the mention side
  carries ctx as float64 bytes (one memcpy per row at the NLP stage), the
  entity side is packed once by a tiny pandas UDF. array<double> through
  JVM ``aggregate(zip_with(...))`` was ~10x slower — higher-order
  expressions are interpreted, not codegen'd, and the arrays triple the
  join payload.
- Scoring runs in ``mapInPandas`` (one np.frombuffer per Arrow batch +
  spec.cosine64_batch, the binding sequential-fold arithmetic, + python
  round — correctly-rounded half-even, where Spark's F.round decimal
  HALF_UP can disagree on the last digit). A scalar pandas UDF computing
  the same thing cost ~4x more inside ArrowEvalPython; a per-row np.dot
  loop ~10x.
- Top-1 per mention is a ``min_by`` hash aggregate over a
  struct((-link_score, entity_id)) ordering key — exactly the window's
  (desc score, asc entity_id) tiebreak, but with map-side partial
  aggregation and no sort: the row_number window formulation paid a full
  sort + exchange of every candidate row.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from ner_spark import spec

_EMB_BYTES = 8 * spec.EMB_DIM

_LINK_COLS = [
    "conv_id", "turn_idx", "start", "end", "sent_idx",
    "norm_surface", "ner_type",
]
_SCORED_SCHEMA = (
    "conv_id string, turn_idx int, start int, end int, sent_idx int, "
    "norm_surface string, ner_type string, entity_id string, "
    "link_score double"
)


def pack64(emb: pd.Series) -> pd.Series:
    """array<float> → packed little-endian float64 bytes; None stays None.
    The entity-side packing of both the batch join and the streaming
    candidate frame."""
    return pd.Series(
        [None if v is None else np.asarray(v, "<f8").tobytes() for v in emb],
        index=emb.index,
        dtype=object,
    )


# a type instance, not a DDL string (that would need an active session at
# import time); runs once over the small embedding table, distributed-safe
_pack64 = pandas_udf(pack64, BinaryType())


def score_candidates(pdf: pd.DataFrame) -> pd.DataFrame:
    """Candidate rows carrying packed ``ctx_emb`` and ``emb_bin`` →
    _LINK_COLS + entity_id + link_score, on the same index. The one link
    scorer of the batch and streaming paths.

    A null ``emb_bin`` — an Arrow null from the batch left join or a
    float NaN from a pandas left merge — scores cos = 0.0."""
    n = len(pdf)
    A = np.frombuffer(b"".join(pdf["ctx_emb"].to_numpy()), "<f8").reshape(
        n, spec.EMB_DIM
    )
    null = pdf["emb_bin"].isna().to_numpy()
    bv = pdf["emb_bin"].to_numpy(copy=True)
    bv[null] = b"\x00" * _EMB_BYTES
    B = np.frombuffer(b"".join(bv), "<f8").reshape(n, spec.EMB_DIM)
    cos = spec.cosine64_batch(A, B)
    cos[null] = 0.0
    out = pdf[_LINK_COLS + ["entity_id"]].copy()
    # vectorized correctly-rounded half-even — elementwise equal to
    # python round (the binding semantics), 60x the per-row listcomp
    out["link_score"] = pd.Series(
        spec.round_half_even_batch(
            spec.LINK_W_GAZ * spec.GAZ_SCORE_EXACT + spec.LINK_W_EMB * cos,
            spec.SCORE_NDIGITS,
        ),
        index=pdf.index,
        dtype="float64",
    )
    return out


def _score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if len(pdf):
            yield score_candidates(pdf)


def gazetteer_norm_pdf(gazetteer_pdf: pd.DataFrame) -> pd.DataFrame:
    """Gazetteer with python-casefold norm_surface, distinct candidate rows."""
    g = gazetteer_pdf.copy()
    g["norm_surface"] = [spec.norm_surface(s) for s in g["surface_form"]]
    return g[["norm_surface", "entity_id", "ner_type"]].drop_duplicates()


def gazetteer_norm(spark: SparkSession, gazetteer_pdf: pd.DataFrame) -> DataFrame:
    """``gazetteer_norm_pdf`` as a Spark DataFrame (the broadcast side of
    the candidate join)."""
    return spark.createDataFrame(gazetteer_norm_pdf(gazetteer_pdf))


def link_mentions(
    mentions: DataFrame,
    gaz_norm: DataFrame,
    entity_embeddings: DataFrame,
) -> DataFrame:
    """mentions → links (one best entity per linked mention).

    Output: conv_id, turn_idx, mention start/end/sent_idx, norm_surface,
    ner_type, entity_id, link_score.
    """
    cands = mentions.join(
        F.broadcast(gaz_norm), on=["norm_surface", "ner_type"], how="inner"
    )
    emb_bin = entity_embeddings.select(
        "entity_id", _pack64("embedding").alias("emb_bin")
    )
    scored = cands.join(emb_bin, on="entity_id", how="left").mapInPandas(
        _score_batches, _SCORED_SCHEMA
    )
    # B13: min of struct(-link_score, entity_id) == (max score, tie → min
    # entity_id); hash aggregate with partial (map-side) combine
    best = F.min_by(
        F.struct("entity_id", "link_score"),
        F.struct((-F.col("link_score")).alias("o1"), F.col("entity_id").alias("o2")),
    ).alias("best")
    return (
        scored.groupBy(*_LINK_COLS)
        .agg(best)
        .select(
            *_LINK_COLS,
            F.col("best.entity_id").alias("entity_id"),
            F.col("best.link_score").alias("link_score"),
        )
    )
