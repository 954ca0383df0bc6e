"""Metric catalogue: the end-to-end metrics and the per-layer map.

``BENCHMARK.json`` lists the same names; ``run.py`` refuses to report when
the two disagree. Per-layer metrics are named ``<layer>.<stat>``; each run
reports them for its own ``--workload``, so a reading is keyed
``<workload>.<layer>.<stat>``. A layer a workload does not run reports 0
work there, which is the "flat on" column below; the one exception is
kg_tick's layers, which the traced kg_build run measures in a tick pass.
"""

from __future__ import annotations

# The bounded end-to-end metrics. The report line also prints peak_rss_mb,
# op_s_tail, triples_per_s and failed_ops_share: peak RSS swings by a third
# with how many Python workers Spark happens to fork (4 to 8 on 4 cores),
# a tail needs 20 ops, triples exist on kg_build only, and the failed share
# is 0 (attempted and failed are in the result line).
END_TO_END = [
    # (name, unit, better)
    ("setup_s", "s", "lower"),
    ("op_s_p50", "s", "lower"),
    ("turns_per_s", "1/s", "higher"),
]

# Steps of nlp.vectorized.nlp_batch, timed in-process on the workload's
# texts (no Spark): JVM metrics miss Python-worker time, so the kernel
# needs its own clock.
KERNEL_STEPS = [
    "tokenize", "factorize", "gaz_tag", "emissions", "viterbi", "decode",
    "ctx_emb", "nlp_batch",
]

# Layers the traced kg_build calls one by one, each under its own Spark
# job group.
BATCH_LAYERS = [
    "operators.partitioning",
    "nlp.stage",
    "operators.linking",
    "operators.coref.edges",
    "operators.coref.cc",
    "operators.triples",
    "plans.kg.rollup",
    "io.commit",
    "plans.base.lineage",
]
BATCH_STATS = [
    ("wall_s", "s", "lower"),
    ("run_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("jobs", "count", "lower"),
    ("rows_out", "count", "higher"),
]

TICK_LAYERS = ["plans.incremental.ingest", "plans.incremental.refresh"]
TICK_STATS = [
    ("wall_s", "s", "lower"),
    ("run_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("jobs", "count", "lower"),
    ("input_rows", "count", "lower"),
]

# StreamingQueryProgress.durationMs parts, reported as per-batch medians.
STREAM_PARTS = [
    "addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
    "commitOffsets",
]

# layer -> (end-to-end metrics it moves, workloads it moves them on,
# workloads it should leave flat, traced runs that measure it). kg_tick is
# not one of the timed workloads of BENCHMARK.json: a tick run costs about
# what a build run costs, and three such workloads overrun the benchmark's
# time budget on a 4-core host. The traced kg_build run measures its
# layers in a tick pass of its own instead.
LAYER_MAP = {
    "nlp.vectorized": (
        ["turns_per_s"], ["kg_build", "stream_links"], ["kg_tick"],
        ["kg_build", "stream_links", "kg_tick"],
    ),
    **{
        layer: (["op_s_p50"], ["kg_build"], ["stream_links"], ["kg_build"])
        for layer in BATCH_LAYERS
    },
    **{
        layer: (["op_s_p50"], ["kg_tick"], ["kg_build"], ["kg_build", "kg_tick"])
        for layer in TICK_LAYERS
    },
    "streaming.incremental": (
        ["turns_per_s", "op_s_p50"], ["stream_links"], ["kg_build"],
        ["stream_links"],
    ),
}


def per_layer() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in report order."""
    out = [(f"nlp.vectorized.{s}_s", "s", "lower") for s in KERNEL_STEPS]
    out += [
        ("nlp.vectorized.tokens", "count", "higher"),
        ("nlp.vectorized.unique_token_ratio", "ratio", "lower"),
        ("nlp.vectorized.mentions", "count", "higher"),
    ]
    out += [
        (f"{layer}.{stat}", unit, better)
        for layer in BATCH_LAYERS
        for stat, unit, better in BATCH_STATS
    ]
    out += [
        (f"{layer}.{stat}", unit, better)
        for layer in TICK_LAYERS
        for stat, unit, better in TICK_STATS
    ]
    out.append(("plans.incremental.delta_share", "ratio", "higher"))
    out += [
        (f"streaming.incremental.{p}_s", "s", "lower") for p in STREAM_PARTS
    ]
    out += [
        ("streaming.incremental.run_s", "s", "lower"),
        ("streaming.incremental.cpu_s", "s", "lower"),
        ("streaming.incremental.state_rows_max", "count", "lower"),
        ("streaming.incremental.links_per_turn", "ratio", "higher"),
        ("trace.overhead", "ratio", "lower"),
    ]
    return out
