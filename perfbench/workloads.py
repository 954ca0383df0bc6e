"""The three workloads.

Each drives the program only through public functions of ``ner_spark``,
with inputs made by ``perfbench.inputs`` under the run's seed. A workload
makes its pandas inputs and oracle sample in ``prepare`` (no Spark, so it
overlaps the session start), builds its base state in ``setup``, runs its
cold first op in ``cold_op`` and its measured ops in ``measure``;
``traced`` adds the per-layer pass and ``finish`` makes the end-of-run
checks. Time spent on correctness checks after ``prepare`` is kept in
``check_s`` so the runner can leave it out of ``setup_s``; op times never
include it.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass
from statistics import median

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import inputs as I
from perfbench.harness import JobGroups
from perfbench.layers import (
    BATCH_LAYERS,
    BATCH_STATS,
    STREAM_PARTS,
    TICK_LAYERS,
    TICK_STATS,
)


@dataclass
class Op:
    wall_s: float
    turns: int
    ok: bool
    triples: int = 0


def _force(df) -> None:
    """Run the whole plan without bringing rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _digest(df) -> tuple[int, int]:
    """Order-insensitive (row count, xor of row hashes)."""
    r = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).first()
    return int(r[0]), int(r[1] or 0)


class Workload:
    name = ""
    # ops after the cold one that run and are checked but not timed: the
    # JVM is still compiling hot code for the first few
    WARMUP_OPS = 1

    def __init__(self, work: str, seed: int, seconds: int, cores: int):
        self.spark = None  # set by the runner once the session is up
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.check_s = 0.0
        self.warmup: list[Op] = []
        self.ops: list[Op] = []
        self.ops_traced: list[Op] = []  # traced ops, and any embedded pass's
        self.info: dict = {}
        self.kernel_texts: np.ndarray | None = None

    @contextmanager
    def checking(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t

    def _parquet(self, pdf: pd.DataFrame, name: str) -> str:
        path = os.path.join(self.work, "input", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        I.write_parquet(pdf, path)
        return path

    def _read(self, path: str):
        return self.spark.read.parquet(path)

    def setup(self) -> None:
        pass

    def measure(self, seconds: float) -> None:
        """Warm-up ops, then ops for ``seconds``, at least one."""
        while len(self.warmup) < self.WARMUP_OPS:
            self.warmup.append(self._attempt(len(self.warmup) + 1))
        t = time.perf_counter()
        while not self.ops or time.perf_counter() - t < seconds:
            self.ops.append(self._attempt(len(self.warmup) + len(self.ops) + 1))

    def _attempt(self, i: int) -> Op:
        """One op; an op that raises counts as failed, with no turns."""
        t = time.perf_counter()
        try:
            return self.op(i)
        except Exception:
            traceback.print_exc()
            return Op(time.perf_counter() - t, 0, False)

    def finish(self) -> None:
        pass


@contextmanager
def _layer(tracer, groups: JobGroups, run: str, name: str):
    with tracer.span(name, run), groups.group(name):
        yield


def _spark_layer_metrics(tracer, groups, run, layers, stats) -> dict:
    got = groups.stats([groups.group_id(l) for l in layers])
    out = {}
    for layer in layers:
        st = got[groups.group_id(layer)]
        for stat, _unit, _better in stats:
            out[f"{layer}.{stat}"] = (
                tracer.total(layer, run) if stat == "wall_s" else st[stat]
            )
    return out


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------
class KgBuild(Workload):
    """Each op is one staged ``build_kg`` into a fresh parquet warehouse."""

    name = "kg_build"
    N_CONVS, N_HOT, HOT_TURNS = 250, 2, 1200

    def prepare(self) -> None:
        cat, self.gaz, emb = I.catalog()
        tx = I.transcripts(cat, self.seed, self.N_CONVS, self.N_HOT, self.HOT_TURNS)
        self.n_turns = len(tx)
        self.kernel_texts = tx["text"].to_numpy(dtype=object)
        self.sample = I.sample_convs(tx, self.seed)
        self.want = I.oracle(tx, self.gaz, emb, self.sample)
        self.tx_path = self._parquet(tx, "transcripts")
        self.emb_path = self._parquet(emb, "entity_embeddings")
        self.info["input_rows"] = {"transcripts": self.n_turns, "entities": len(emb)}
        self.info["sample_convs"] = len(self.sample)

    def setup(self) -> None:
        self.tx = self._read(self.tx_path)
        self.emb = self._read(self.emb_path)
        # two NLP tasks per core
        self.n_partitions = 2 * self.cores

    def cold_op(self) -> Op:
        return self.op(0)

    def op(self, i: int) -> Op:
        from ner_spark.plans.kg import build_kg

        wh = os.path.join(self.work, f"wh{i}")
        t = time.perf_counter()
        out = build_kg(
            self.spark, self.tx, self.gaz, self.emb, warehouse=wh,
            run_id=f"op{i}", resume=False, n_partitions=self.n_partitions,
        )
        wall = time.perf_counter() - t
        with self.checking():
            ok = self._check(out)
            self.digest = _digest(out["triples"])
        shutil.rmtree(wh, ignore_errors=True)
        return Op(wall, self.n_turns, ok, self.digest[0])

    def _check(self, out: dict) -> bool:
        in_sample = F.col("conv_id").isin(self.sample)
        men = out["mentions"].where(in_sample).toPandas()
        links = out["links"].where(in_sample).toPandas()
        triples = out["triples"].where(in_sample).toPandas()
        canon = dict(
            out["canon"].select("entity_id", "canonical_id").toPandas()
            .itertuples(index=False)
        )
        return (
            I.same_rows(men, self.want["mentions"], I.MENTION_COLS)
            and I.same_rows(links, self.want["links"], I.LINK_COLS)
            and I.canon_ok(canon)
            and I.triples_match(triples, self.want["triples"], canon)
        )

    def traced(self, tracer, p50: float) -> dict:
        """The staged build called layer by layer, in the order
        ``plans.kg.KGPipeline.run`` calls them, each under its own job
        group; the commit of each stage runs in the layer that computes it
        (its plan executes inside the write), the read-back in
        ``io.commit``, and the per-stage lineage on side threads, as in the
        untraced build."""
        from ner_spark import io as nio
        from ner_spark.nlp.stage import detect_mentions
        from ner_spark.operators.coref import canonical_map, coref_edges
        from ner_spark.operators.linking import gazetteer_norm, link_mentions
        from ner_spark.operators.partitioning import salted_repartition
        from ner_spark.operators.triples import (
            canonicalize_triples,
            rel_cooc_triples,
            tool_triples,
        )
        from ner_spark.plans.base import lineage_rows

        spark, run = self.spark, "kg_build.traced"
        groups = JobGroups(spark, run)
        wh = os.path.join(self.work, "wh_traced")
        threads: list[threading.Thread] = []
        errors: list[BaseException] = []

        def lineage(df, stage: str, parent: int) -> None:
            try:
                with tracer.span("plans.base.lineage", run, parent=parent), \
                        groups.group("plans.base.lineage"):
                    lineage_rows(df, run, stage)
            except Exception as e:  # re-raised after the join
                errors.append(e)

        def commit(stage: str, layer: str, build):
            path = os.path.join(wh, stage)
            with _layer(tracer, groups, run, layer):
                nio.write_table(build(), path, run_id=run)
            with _layer(tracer, groups, run, "io.commit"):
                out = nio.read_table(spark, path)
            th = threading.Thread(
                target=lineage, args=(out, stage, root["id"]), daemon=True
            )
            th.start()
            threads.append(th)
            return out

        with tracer.span("op", run) as root:
            t = time.perf_counter()
            with _layer(tracer, groups, run, "operators.partitioning"):
                tx = salted_repartition(self.tx, self.n_partitions)
            men = commit(
                "mentions", "nlp.stage",
                lambda: detect_mentions(tx, self.gaz, spark),
            )
            links = commit(
                "links", "operators.linking",
                lambda: link_mentions(
                    men, gazetteer_norm(spark, self.gaz), self.emb
                ),
            )
            edges = commit(
                "edges", "operators.coref.edges", lambda: coref_edges(links)
            )
            canon = commit(
                "entities_canon", "operators.coref.cc",
                lambda: canonical_map(links, edges),
            )
            triples = commit(
                "triples", "operators.triples",
                lambda: canonicalize_triples(
                    rel_cooc_triples(links, self.tx).unionByName(
                        tool_triples(links, self.tx, self.gaz, spark)
                    ),
                    canon,
                ),
            )
            commit("entities", "plans.kg.rollup", lambda: _rollup(links, canon))
            for th in threads:
                th.join(timeout=600)
            wall = time.perf_counter() - t
        if errors:
            raise errors[0]
        with self.checking():
            digest = _digest(triples)
            ok = digest == self.digest
        self.ops_traced.append(Op(wall, self.n_turns, ok, digest[0]))
        self.info["traced_triples_digest_matches"] = ok
        shutil.rmtree(wh, ignore_errors=True)
        out = _spark_layer_metrics(
            tracer, groups, run, BATCH_LAYERS, BATCH_STATS
        )
        out["trace.overhead"] = wall / p50
        out.update(self._tick_pass(tracer))
        return out

    def _tick_pass(self, tracer) -> dict:
        """The kg_tick layers, measured here because kg_tick is not one of
        the benchmark's timed workloads: its base state, cold first tick
        and traced ticks (one append, one correction plus erasure), with
        its checks; its ops count in this run's attempted and failed."""
        tick = KgTick(os.path.join(self.work, "tick"), self.seed, self.seconds,
                      self.cores)
        tick.spark = self.spark
        tick.prepare()
        tick.setup()
        tick.cold = tick.cold_op()
        out = tick.traced(tracer, None)
        tick.finish()
        self.check_s += tick.check_s
        self.ops_traced += [tick.cold, *tick.ops_traced]
        self.info["tick_pass"] = {
            k: tick.info[k] for k in ("final_sample_check", "ticks")
        }
        return out


def _rollup(links, canon):
    """The entity rollup of ``plans.kg.KGPipeline.run``: one row per
    canonical entity with its sorted aliases, mention count and most
    frequent type."""
    return (
        links.join(F.broadcast(canon), "entity_id")
        .groupBy(F.col("canonical_id").alias("entity_id"))
        .agg(
            F.array_sort(F.collect_set("norm_surface")).alias("aliases"),
            F.count(F.lit(1)).alias("n_mentions"),
            F.mode("ner_type").alias("ner_type"),
        )
    )


# ---------------------------------------------------------------------------
# kg_tick
# ---------------------------------------------------------------------------
class KgTick(Workload):
    """Setup writes a base Iceberg transcript table and runs the first
    ``incremental_kg_update``; each op is one tick after a small append,
    and every CDC_EVERY-th tick instead follows a merge-on-read correction
    plus an erasure."""

    name = "kg_tick"
    BASE_CONVS, TICK_CONVS, MAX_TICKS = 300, 20, 60
    N_HOT, HOT_TURNS = 2, 1200
    CDC_EVERY = 2
    TRACED_TICKS = 2  # so that one append and one correction are traced
    KERNEL_CHUNKS = 4  # delta chunks whose texts the kernel timing uses

    def prepare(self) -> None:
        cat, self.gaz, emb = I.catalog()
        tx = I.transcripts(
            cat, self.seed, self.BASE_CONVS + self.TICK_CONVS * self.MAX_TICKS,
            self.N_HOT, self.HOT_TURNS,
        )
        sizes = I.conv_sizes(tx)
        hot = set(sizes.nlargest(self.N_HOT).index)
        cold = [c for c in sizes.index if c not in hot]
        pool = cold[-self.TICK_CONVS * self.MAX_TICKS:]
        self.chunks = [
            pool[k:k + self.TICK_CONVS] for k in range(0, len(pool), self.TICK_CONVS)
        ]
        base_convs = sorted(set(sizes.index) - set(pool))
        # CDC events: (corrected, donor, erased), distinct base conversations
        rng = np.random.default_rng(self.seed + 202)
        picks = rng.permutation([c for c in base_convs if c not in hot])
        n_cdc = self.MAX_TICKS // self.CDC_EVERY
        self.cdc = [tuple(picks[3 * k:3 * k + 3]) for k in range(n_cdc)]
        touched = {c for ev in self.cdc for c in (ev[0], ev[2])}
        self.tx_pdf = tx
        self.base_rows = int(tx.conv_id.isin(base_convs).sum())
        self.sample = I.sample_convs(tx, self.seed, exclude=touched)
        self.want = I.oracle(tx, self.gaz, emb, self.sample)
        self.present = set(base_convs)
        self.erased: list[str] = []
        self.n_append = self.n_cdc = 0
        kernel_convs = [c for ch in self.chunks[:self.KERNEL_CHUNKS] for c in ch]
        self.kernel_texts = tx[tx.conv_id.isin(kernel_convs)]["text"].to_numpy(
            dtype=object
        )
        self.emb_path = self._parquet(emb, "entity_embeddings")
        self.base_path = self._parquet(tx[tx.conv_id.isin(base_convs)], "base")
        self.src = os.path.join(self.work, "transcripts")
        self.wh = os.path.join(self.work, "kg")
        self.info["input_rows"] = {
            "base": self.base_rows, "tick_convs": self.TICK_CONVS,
            "entities": len(emb),
        }
        self.info["sample_convs"] = len(self.sample)

    def setup(self) -> None:
        from ner_spark.iceberg.spark_io import write_iceberg

        self.emb = self._read(self.emb_path)
        write_iceberg(self._read(self.base_path), self.src)

    def cold_op(self) -> Op:
        return self._tick(self.base_rows)

    def _tick(self, expected: int, tracer=None, groups=None) -> Op:
        from ner_spark.plans.incremental import incremental_kg_update

        t = time.perf_counter()
        if tracer is None:
            r = incremental_kg_update(self.spark, self.src, self.wh, self.gaz, self.emb)
            _force(r["entities"])
        else:
            run = groups.run
            with tracer.span("op", run):
                with _layer(tracer, groups, run, "plans.incremental.ingest"):
                    r = incremental_kg_update(
                        self.spark, self.src, self.wh, self.gaz, self.emb
                    )
                with _layer(tracer, groups, run, "plans.incremental.refresh"):
                    _force(r["entities"])
        wall = time.perf_counter() - t
        self.last = r
        return Op(wall, r["processed_rows"], r["processed_rows"] == expected)

    def _next_input(self) -> int:
        """Land the next change on the source table; returns the turn count
        the tick must process."""
        from ner_spark.iceberg.spark_io import (
            delete_iceberg_where,
            merge_upsert_iceberg_mor,
            write_iceberg,
        )

        k = self.n_append + self.n_cdc + 1
        tx = self.tx_pdf
        if k % self.CDC_EVERY == 0:
            corrected, donor, erased = self.cdc[self.n_cdc]
            self.n_cdc += 1
            donor_text = tx[tx.conv_id == donor][["turn_idx", "text"]]
            fixed = (
                tx[tx.conv_id == corrected].drop(columns="text")
                .merge(donor_text, on="turn_idx")[tx.columns]
            )
            merge_upsert_iceberg_mor(
                self.spark, self.src, self._read(self._parquet(fixed, f"fix{k}")),
                key="conv_id",
            )
            delete_iceberg_where(self.spark, self.src, [("conv_id", "=", erased)])
            self.present.discard(erased)
            self.erased.append(erased)
            return len(fixed)
        chunk = self.chunks[self.n_append]
        self.n_append += 1
        delta = tx[tx.conv_id.isin(chunk)]
        write_iceberg(
            self._read(self._parquet(delta, f"delta{k}")), self.src, mode="append"
        )
        self.present.update(chunk)
        return len(delta)

    def op(self, i: int) -> Op:
        return self._tick(self._next_input())

    def traced(self, tracer, p50: float | None) -> dict:
        """TRACED_TICKS more ticks, ingest and refresh each under its own
        job group; the stats sum over them. ``p50`` is None when the pass
        runs inside another workload, which has no untraced ticks."""
        run = "kg_tick.traced"
        groups = JobGroups(self.spark, run)
        for _ in range(self.TRACED_TICKS):
            self.ops_traced.append(
                self._tick(self._next_input(), tracer, groups)
            )
        out = _spark_layer_metrics(tracer, groups, run, TICK_LAYERS, TICK_STATS)
        with self.checking():
            out["plans.incremental.delta_share"] = sum(
                op.turns for op in self.ops_traced
            ) / self.last["links"].count()
        if p50 is not None:
            out["trace.overhead"] = median(
                [op.wall_s for op in self.ops_traced]
            ) / p50
        return out

    def finish(self) -> None:
        """Sample check on the accumulated links after the last tick; a
        mismatch fails the last tick."""
        with self.checking():
            links = self.last["links"]
            present = [c for c in self.sample if c in self.present]
            got = links.where(F.col("conv_id").isin(present)).toPandas()
            want = self.want["links"]
            want = want[want.conv_id.isin(present)]
            gone = links.where(F.col("conv_id").isin(self.erased)).count()
            ok = I.same_rows(got, want, I.LINK_COLS) and gone == 0
        last = (self.ops_traced or self.ops or [self.cold])[-1]
        last.ok = last.ok and ok
        self.info["final_sample_check"] = ok
        self.info["ticks"] = {"append": self.n_append, "cdc": self.n_cdc}


# ---------------------------------------------------------------------------
# stream_links
# ---------------------------------------------------------------------------
class StreamLinks(Workload):
    """A pre-written parquet feed in event-time order, one file per
    trigger, through ``stream_transcripts`` and ``streaming_links`` under
    ``processingTime="0 seconds"``: one query, closed loop, each op one
    micro-batch."""

    name = "stream_links"
    WARMUP_OPS = 3  # batches; a batch is shorter than a build or a tick
    FILE_CONVS = 100
    N_HOT, HOT_TURNS = 1, 400
    TIMEOUT_S = 150

    def prepare(self) -> None:
        cat, self.gaz, self.emb_pdf = I.catalog()
        # the cold batch, the warm-up batches, then enough files to last
        # about --seconds at the 0.9 s a batch took when this benchmark was
        # written
        self.n_files = 1 + self.WARMUP_OPS + max(2, round(self.seconds / 0.9))
        tx = I.transcripts(
            cat, self.seed, self.FILE_CONVS * self.n_files, self.N_HOT,
            self.HOT_TURNS,
        )
        # event-time order: shuffled files would put turns behind the 1 h
        # watermark, which drops them
        tx = tx.sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
        tx = tx.reset_index(drop=True)
        self.kernel_texts = tx["text"].to_numpy(dtype=object)
        self.sample = I.sample_convs(tx, self.seed)
        self.want = I.oracle(tx, self.gaz, self.emb_pdf, self.sample)
        self.feed = os.path.join(self.work, "feed")
        os.makedirs(self.feed)
        self.file_of: dict[tuple[str, int], int] = {}
        t0 = time.time() - 10 * self.n_files
        for k, part in enumerate(np.array_split(tx, self.n_files)):
            path = os.path.join(self.feed, f"part-{k:04d}.parquet")
            I.write_parquet(part, path)
            os.utime(path, (t0 + 10 * k, t0 + 10 * k))  # file k is batch k
            self.file_of.update(
                {key: k for key in zip(part.conv_id, part.turn_idx.astype(int))}
            )
        self.feed_rows = len(tx)
        self.info["input_rows"] = {
            "feed": self.feed_rows, "files": self.n_files,
            "entities": len(self.emb_pdf),
        }
        self.info["sample_convs"] = len(self.sample)
        self.progress: dict[int, dict] = {}

    def cold_op(self) -> Op:
        """Start the query and wait for batch 0."""
        from ner_spark.streaming.incremental import (
            stream_transcripts,
            streaming_links,
        )

        stream = stream_transcripts(self.spark, self.feed, max_files_per_trigger=1)
        links = streaming_links(stream, self.gaz, self.emb_pdf, self.spark)
        self.sink = f"perfbench_links_{os.getpid()}"
        self.q = (
            links.writeStream.format("memory").queryName(self.sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(self.work, "checkpoint"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        self._poll(lambda: 0 in self.progress)
        return self._op(0)

    def _poll(self, done) -> None:
        deadline = time.time() + self.TIMEOUT_S
        while not done():
            if self.q.exception() is not None:
                raise RuntimeError(str(self.q.exception()))
            if time.time() > deadline:
                raise TimeoutError("stream did not reach its target in time")
            for p in self.q.recentProgress:
                self.progress[p["batchId"]] = p
            time.sleep(0.1)

    def _op(self, bid: int) -> Op:
        p = self.progress[bid]
        return Op(
            p["durationMs"]["triggerExecution"] / 1e3, p["numInputRows"], True
        )

    def _rows_in(self) -> int:
        return sum(p["numInputRows"] for p in self.progress.values())

    def measure(self, seconds: float) -> None:  # noqa: ARG002 — feed-sized
        self._poll(lambda: self._rows_in() >= self.feed_rows)
        self.q.stop()
        for p in self.q.recentProgress:
            self.progress[p["batchId"]] = p
        # batches with input (a watermark-only batch may follow the last
        # file): the cold one, the warm-up ones, then the steady ones
        self.data = [
            b for b in sorted(self.progress) if self.progress[b]["numInputRows"]
        ]
        self.warmup = [self._op(b) for b in self.data[1:1 + self.WARMUP_OPS]]
        self.steady = self.data[1 + self.WARMUP_OPS:]
        self.ops = [self._op(b) for b in self.steady]

    def finish(self) -> None:
        """Input rows equal the feed's, no row fell behind the watermark,
        and the sample's links equal the oracle's; a mismatch fails the
        batch that read it."""
        with self.checking():
            got = (
                self.spark.table(self.sink)
                .where(F.col("conv_id").isin(self.sample)).toPandas()
            )
        bad = set()  # batch ids; -1 when a wrong row maps to no feed row
        if not I.same_rows(got, self.want["links"], I.LINK_COLS):
            rows = [
                set(I.normalized(df, I.LINK_COLS).itertuples(index=False))
                for df in (got, self.want["links"])
            ]
            bad = {self.file_of.get((c, t), -1) for c, t, *_ in rows[0] ^ rows[1]}
        for b, p in self.progress.items():
            for s in p.get("stateOperators") or ():
                dropped = s.get("numRowsDroppedByWatermark", 0) + int(
                    (s.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0)
                )
                if dropped:
                    bad.add(b)
        rows_ok = self._rows_in() == self.feed_rows
        for b, op in zip(self.data, [self.cold, *self.warmup, *self.ops]):
            op.ok = rows_ok and b not in bad and -1 not in bad
        self.info["input_rows_seen"] = self._rows_in()

    def traced(self, tracer, p50: float) -> dict:  # noqa: ARG002
        """Per-batch parts of ``durationMs`` and the query's own job group
        (Structured Streaming runs each batch under the query's run id)."""
        run = "stream_links.traced"
        for b in sorted(self.progress):
            p = self.progress[b]
            start = pd.Timestamp(p["timestamp"]).timestamp()  # trigger start
            tracer.add(
                "streaming.batch", run,
                start, start + p["durationMs"]["triggerExecution"] / 1e3,
                batch=b, rows=p["numInputRows"], duration_ms=p["durationMs"],
            )
        steady = [self.progress[b] for b in self.steady]
        out = {
            f"streaming.incremental.{part}_s": median(
                [p["durationMs"].get(part, 0) / 1e3 for p in steady]
            )
            for part in STREAM_PARTS
        }
        groups = JobGroups(self.spark, run)
        st = groups.stats([str(self.q.runId)])[str(self.q.runId)]
        out["streaming.incremental.run_s"] = st["run_s"]
        out["streaming.incremental.cpu_s"] = st["cpu_s"]
        out["streaming.incremental.state_rows_max"] = max(
            (s.get("numRowsTotal", 0) for p in self.progress.values()
             for s in p.get("stateOperators") or ()),
            default=0,
        )
        out["streaming.incremental.links_per_turn"] = (
            self.spark.table(self.sink).count() / self.feed_rows
        )
        # the traced batches are the measured ones: progress and job groups
        # are read after the query, so tracing adds nothing to them
        out["trace.overhead"] = 1.0
        return out


WORKLOADS = {w.name: w for w in (KgBuild, KgTick, StreamLinks)}
