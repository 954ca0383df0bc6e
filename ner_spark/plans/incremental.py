"""Incremental KG maintenance over Iceberg snapshots (SURVEY.md §3.2/§4.5).

The north-rule production loop: transcript batches land as APPEND
snapshots on an Iceberg table; each maintenance tick processes only the
appended turns through the expensive per-turn stages and merges the
results — no full rebuild. The split follows the stages' algebra:

- ``detect_mentions`` / ``link_mentions`` are per-turn / per-mention
  (no cross-conversation state), so a turn-delta produces exactly the
  rows a full run would — appended to the mentions/links tables, the
  accumulated state is byte-equal to a from-scratch build (pinned by
  tests/test_incremental_kg.py).
- canonicalization (coref edges → connected components) and the entity
  rollup are global by nature — a new mention can merge two old
  entities — so they recompute from the ACCUMULATED links table each
  tick. They are the cheap tail of the pipeline (CC ≈ 10% of wall at
  bench scale); the NLP+linking ~70% is what incrementality saves.
  Triples share the same recompute-from-state shape and are left to the
  batch pipeline (plans/kg.py) by the same cost argument.

CDC repair: when the tick range carries merge-on-read row deltas
(transcript corrections via ``merge_upsert_iceberg_mor(key='conv_id')``,
GDPR erasures via ``delete_iceberg_where``), the pure append-delta can't
express them, so the tick switches to conversation-granular repair:
``changed_keys_iceberg`` recovers every touched conv_id from the range's
change files (O(changed files)), the per-turn stages re-run over those
conversations' CURRENT turns only, and each derived table replaces those
conv groups in ONE atomic MOR commit (``mor_replace_keys`` — equality-
delete the group, append its recomputed rows; a conversation erased at
the source is tombstoned in the derived tables the same way). End state
is pinned byte-equal to a from-scratch run (test_incremental_kg.py).

Exactly-once consumption: each append to the mentions table stamps the
SOURCE snapshot id it covers into its snapshot summary
(``source-snapshot-id``); a tick that finds the stamp already at the
current source snapshot is a no-op, so a crashed-and-rerun tick cannot
double-ingest a batch — the same idempotent-commit protocol as
iceberg_sink, driven from table metadata instead of a side checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_spark.iceberg.spark_io import (
    changed_keys_iceberg,
    mor_replace_keys,
    read_iceberg,
    read_iceberg_incremental,
    write_iceberg,
)
from ner_spark.iceberg.table import IcebergLocalTable
from ner_spark.nlp.stage import detect_mentions
from ner_spark.operators.coref import canonical_map, coref_edges, entity_rollup
from ner_spark.operators.linking import gazetteer_norm, link_mentions


def _last_source_snapshot(mentions_loc: str) -> int | None:
    t = IcebergLocalTable(mentions_loc)
    if not t.exists():
        return None
    snap = t.current_snapshot()
    if snap is None:
        return None
    v = snap["summary"].get("source-snapshot-id")
    return int(v) if v is not None else None


def incremental_kg_update(
    spark: SparkSession,
    transcripts_loc: str,
    warehouse: str,
    gazetteer_pdf,
    entity_embeddings: DataFrame,
) -> dict:
    """One maintenance tick: ingest appended transcripts, refresh entities.

    Returns {"processed_rows", "from_snapshot", "to_snapshot", "entities",
    "mentions", "links"} — DataFrames are the post-tick table states.
    """
    src = IcebergLocalTable(transcripts_loc)
    cur_snap = src.current_snapshot()
    if cur_snap is None:
        raise ValueError(f"no snapshots at {transcripts_loc}")
    to_id = cur_snap["snapshot-id"]
    mentions_loc = f"{warehouse}/mentions"
    links_loc = f"{warehouse}/links"
    from_id = _last_source_snapshot(mentions_loc)

    repair_keys = None  # non-None → CDC repair tick (corrections/deletes)
    if from_id == to_id:
        delta = None  # tick already applied (idempotent re-run)
    elif from_id is None:
        delta = read_iceberg(spark, transcripts_loc)  # first tick: full
    else:
        ops = src.operations_between(from_id, to_id)
        if "delete" in ops:
            # the range carries MOR row deltas (corrected conversations,
            # GDPR erasures) — a pure append-delta cannot express them.
            # Repair at conversation granularity: every conv_id touched
            # by the range (added rows, position-deleted rows, equality
            # keys) is re-derived from its CURRENT turns, and the derived
            # tables replace those conv groups atomically (equality-
            # delete the group + append its recomputed rows in ONE MOR
            # commit). Cost is O(changed conversations), not O(table).
            repair_keys = changed_keys_iceberg(
                spark, transcripts_loc, from_id, "conv_id", to_id
            )
            # O(changed conversations) by construction, so the key list
            # is collectable — and as a pushed-down IN predicate it
            # prunes the snapshot scan through the table's partition
            # spec (bucket(N, conv_id) layout → only the touched buckets
            # are read; the repair becomes O(1/N of table) in I/O, not
            # just in compute). Very wide repairs fall back to the
            # broadcast semi-join over the full scan.
            keys = [r["conv_id"] for r in repair_keys.collect()]
            if len(keys) <= 10_000:
                delta = read_iceberg(
                    spark, transcripts_loc, snapshot_id=to_id,
                    filters=[("conv_id", "in", keys)],
                )
            else:
                delta = read_iceberg(
                    spark, transcripts_loc, snapshot_id=to_id
                ).join(F.broadcast(repair_keys), "conv_id")
        else:
            delta = read_iceberg_incremental(
                spark, transcripts_loc, from_id, to_id
            )

    processed = 0
    if delta is not None:
        men_delta = detect_mentions(delta, gazetteer_pdf, spark)
        gaz_n = gazetteer_norm(spark, gazetteer_pdf)
        links_delta = link_mentions(men_delta, gaz_n, entity_embeddings)
        # crash-safe commit order: links first, mentions (whose stamp
        # DRIVES delta derivation) last. A crash between the two leaves
        # the mentions stamp un-advanced, so the rerun recomputes the
        # same delta — and the links stamp (already at to_id) tells it
        # to skip the links append instead of double-ingesting the batch.
        if repair_keys is not None:
            if _last_source_snapshot(links_loc) != to_id:
                mor_replace_keys(
                    spark, links_loc, repair_keys, links_delta, "conv_id",
                    summary={"source-snapshot-id": to_id},
                )
            mor_replace_keys(
                spark, mentions_loc, repair_keys, men_delta, "conv_id",
                summary={"source-snapshot-id": to_id},
            )
        else:
            if _last_source_snapshot(links_loc) != to_id:
                write_iceberg(
                    links_delta, links_loc, mode="append",
                    summary={"source-snapshot-id": to_id},
                )
            write_iceberg(
                men_delta, mentions_loc, mode="append",
                summary={"source-snapshot-id": to_id},
            )
        processed = delta.count()

    # global refresh from accumulated links (cheap tail)
    links = read_iceberg(spark, links_loc)
    entities = entity_rollup(links, canonical_map(links, coref_edges(links)))
    return {
        "processed_rows": processed,
        "from_snapshot": from_id,
        "to_snapshot": to_id,
        "mentions": read_iceberg(spark, mentions_loc),
        "links": links,
        "entities": entities,
    }
