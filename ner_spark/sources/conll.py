"""A2 — CoNLL corpus ingest (SURVEY.md §2.1).

CoNLL column text: one token per line (whitespace-separated columns,
first = token, last = gold BIO tag), blank line = sentence boundary,
``-DOCSTART-`` line = document boundary. The block structure spans line
boundaries, so the parse unit is a FILE: ``spark.read.text(wholetext)``
yields one row per file and a mapInPandas stage parses each file's blocks
(files are the parallelism grain, as in the reference CLI whose unit of
work is an input corpus file).

Also provides ``write_conll_fixture`` — a deterministic corpus generator
(gold tags derived from the oracle NLP pipeline over the transcript
fixture) used by tests and the eval-join operator (B6).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONLL_SCHEMA = (
    "file string, doc_idx int, sent_idx int, tok_idx int, "
    "token string, gold string"
)


def read_conll(spark: SparkSession, path: str) -> DataFrame:
    """Parse a CoNLL file/directory into one row per token."""
    files = spark.read.text(path, wholetext=True).withColumn(
        "file", F.input_file_name()
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fname, text in zip(pdf["file"], pdf["value"]):
                rows.extend(parse_conll_text(fname, text))
            yield pd.DataFrame(
                rows,
                columns=["file", "doc_idx", "sent_idx", "tok_idx", "token", "gold"],
            )

    return files.mapInPandas(parse, CONLL_SCHEMA)


def parse_conll_text(fname: str, text: str) -> list[tuple]:
    """One file's CoNLL blocks → (file, doc_idx, sent_idx, tok_idx, token,
    gold) tuples — the single parse implementation behind both the
    mapInPandas reader (read_conll) and the registered Python DataSource
    (ConllDataSource), so the two ingest paths cannot drift."""
    rows: list[tuple] = []
    doc, sent, tok = -1, 0, 0
    started = False
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("-DOCSTART-"):
            doc, sent, tok, started = doc + 1, 0, 0, False
            continue
        if not line:
            if started:
                sent, tok, started = sent + 1, 0, False
            continue
        cols = line.split()
        rows.append((fname, max(doc, 0), sent, tok, cols[0], cols[-1]))
        tok, started = tok + 1, True
    return rows


def ensure_conll_fixture(size: str = "tiny") -> str:
    """Idempotent materialize-on-demand of the CoNLL eval corpus; the
    single owner of its on-disk location (shared by conll_ingest,
    nlp_train_eval, tests, and the golden generator)."""
    from fixtures.gen import DATA_ROOT

    path = os.path.join(DATA_ROOT, size, "conll", "eval.conll")
    if not os.path.exists(path):
        write_conll_fixture(path, size)
    return path


def write_conll_fixture(out_path: str, size: str = "small") -> str:
    """Deterministic CoNLL eval corpus from the oracle pipeline's gold
    mentions over the transcript fixture: one document per conversation,
    blank line per turn, BIO tags from oracle mention spans."""
    from fixtures.gen import ensure_fixture_dir
    from oracle.ref_pipeline import run_on_dir

    d = ensure_fixture_dir(size)
    out = run_on_dir(d)
    tokens = out["tokens"]
    mentions = out["mentions"]
    by_turn: dict[tuple, list] = {}
    for r in mentions.itertuples(index=False):
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(r)

    lines: list[str] = []
    for t in tokens.sort_values(
        ["conv_id", "turn_idx"], kind="mergesort"
    ).itertuples(index=False):
        if t.turn_idx == 0:
            lines.append("-DOCSTART- -X- -X- O")
            lines.append("")
        for tk in t.tokens:
            tag = "O"
            for m in by_turn.get((t.conv_id, t.turn_idx), []):
                if tk["start"] == m.start:
                    tag = f"B-{m.ner_type}"
                    break
                if m.start < tk["start"] < m.end:
                    tag = f"I-{m.ner_type}"
                    break
            lines.append(f"{tk['text']} -X- -X- {tag}")
        lines.append("")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return out_path


# -- Spark 4 Python DataSource: spark.read.format("conll") -------------------
# The connector-API form of the same ingest (§2.1): after
# spark.dataSource.register(ConllDataSource), any session reads CoNLL
# corpora like a built-in format. Files are the input partitions (the
# reference CLI's unit of work), so a directory of N corpus files scans
# N-way parallel; rows ship to the JVM as Arrow batches. Python-side
# parsing here is source I/O (the same work read_conll does in its
# mapInPandas stage), not a per-row transformation UDF.

try:  # pyspark >= 4 only; import-gated like the other optional surfaces
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class ConllDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "conll"

        def schema(self) -> str:
            return CONLL_SCHEMA

        def reader(self, schema):
            return _ConllReader(self.options)

    class _ConllReader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("conll source requires a load(path)")

        def partitions(self):
            import glob

            if os.path.isdir(self.path):
                files = sorted(
                    f
                    for f in glob.glob(
                        os.path.join(self.path, "**"), recursive=True
                    )
                    if os.path.isfile(f)
                )
            else:
                files = [self.path]
            if not files:
                raise FileNotFoundError(self.path)
            return [InputPartition(f) for f in files]

        def read(self, partition):
            fname = partition.value
            with open(fname, encoding="utf-8") as fh:
                text = fh.read()
            yield from parse_conll_text(fname, text)

except ImportError:  # pragma: no cover — pyspark < 4
    ConllDataSource = None
