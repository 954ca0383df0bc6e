"""Seeded inputs and the oracle sample check.

Every input is a pure function of the seed. The entity catalog, gazetteer
and embeddings are the graph's reference data and stay those of the
fixture seed (42); the transcripts, with their planted hot conversations
and hot entities, come from ``fixtures.gen`` under the run's seed. A
catalog drawn per seed moved the build's op time by its coreference graph
alone (33 to 46 connected-component jobs across seeds). The
single-process oracle (``oracle.ref_pipeline``) runs at about 500 turns/s,
so it covers a seeded sample of conversations, not the whole input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.gen import (
    entity_catalog,
    entity_embeddings_df,
    gazetteer_df,
    transcripts_df,
)
from oracle.ref_pipeline import run_pipeline

MENTION_COLS = [
    "conv_id", "turn_idx", "sent_idx", "start", "end", "surface", "ner_type",
    "score",
]
LINK_COLS = [
    "conv_id", "turn_idx", "start", "end", "sent_idx", "norm_surface",
    "entity_id", "link_score",
]
TRIPLE_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx", "confidence"]

# the transcripts schema, pinned so that a slice whose ``tool`` column is
# all null still writes it as a string column
TRANSCRIPTS = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])

SAMPLE_CONVS = 40
# hot conversations stay out of the sample: one of them alone would cost
# the oracle seconds
SAMPLE_MAX_TURNS = 100


CATALOG_SEED = 42


def catalog() -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """(catalog, gazetteer, entity embeddings)."""
    cat = entity_catalog(CATALOG_SEED)
    return cat, gazetteer_df(cat, CATALOG_SEED), entity_embeddings_df(cat)


def transcripts(cat: pd.DataFrame, seed: int, n_convs: int, n_hot: int,
                hot_turns: int) -> pd.DataFrame:
    return transcripts_df(
        cat, seed, n_convs=n_convs, median_turns=8, n_hot=n_hot,
        hot_turns=hot_turns,
    )


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    schema = TRANSCRIPTS if list(pdf.columns) == TRANSCRIPTS.names else None
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path
    )


def conv_sizes(tx: pd.DataFrame) -> pd.Series:
    return tx.groupby("conv_id").size().sort_index()


def sample_convs(tx: pd.DataFrame, seed: int, exclude=()) -> list[str]:
    exclude = set(exclude)
    pool = [
        c for c, n in conv_sizes(tx).items()
        if n <= SAMPLE_MAX_TURNS and c not in exclude
    ]
    rng = np.random.default_rng(seed + 101)
    k = min(SAMPLE_CONVS, len(pool))
    return sorted(rng.choice(pool, size=k, replace=False).tolist())


def oracle(tx: pd.DataFrame, gaz: pd.DataFrame, emb: pd.DataFrame,
           convs: list[str]) -> dict[str, pd.DataFrame]:
    return run_pipeline(tx[tx.conv_id.isin(convs)], gaz, emb)


def normalized(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """``cols`` of ``df``, integers widened to int64, rows sorted."""
    out = df[cols].copy()
    for c in out.columns:
        if out[c].dtype.kind in "iu":
            out[c] = out[c].astype("int64")
    return out.sort_values(cols, kind="mergesort").reset_index(drop=True)


def same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> bool:
    return normalized(got, cols).equals(normalized(want, cols))


def canon_ok(canon: dict[str, str]) -> bool:
    """Canonical ids are component minima: the map is idempotent and
    canonical <= entity in string order."""
    return all(canon.get(v, v) == v for v in canon.values()) and all(
        v <= k for k, v in canon.items()
    )


def triples_match(got: pd.DataFrame, want: pd.DataFrame,
                  canon: dict[str, str]) -> bool:
    """The oracle's canonical ids come from the sample's components, which
    the run's components contain, so mapping them through the run's
    canonical map gives the run's ids. Keys that merge under the run's
    map keep their highest confidence, as the run's dedup does."""
    want = want.copy()
    want["subj"] = [canon.get(s, s) for s in want["subj"]]
    want["obj"] = [canon.get(o, o) for o in want["obj"]]
    want = want.groupby(TRIPLE_COLS[:-1], as_index=False)["confidence"].max()
    return same_rows(got, want, TRIPLE_COLS)
