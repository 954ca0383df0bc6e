"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads: kg_build, kg_tick, stream_links (perfbench/workloads.py). Run
from the repository root. Makes the workload's inputs from the seed,
starts one Spark session sized from the host (``local[<cores>]``, a driver
heap from ``/proc/meminfo``), sets up, runs the cold first op, then runs
ops for ``--seconds`` and checks every one against the oracle.

Prints a ``report`` line (master, heap, seed, input rows, every
end-to-end number by name and unit, the op times) and then, as the last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the bounded end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``, which also writes the spans to
``.perfbench_out/``. Every scratch file lives under ``.perfbench_work/``
and is removed at exit. Exits 2, printing no result, when the program is
not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metric_names() -> tuple[list, list]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return (
        [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
        [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
    )


def _end_to_end(wl, setup_s: float) -> dict:
    """Medians over the measured ops; turns_per_s is the median of each
    op's turns over its wall time."""
    return {
        "setup_s": setup_s,
        "op_s_p50": median(op.wall_s for op in wl.ops),
        "turns_per_s": median(op.turns / op.wall_s for op in wl.ops),
    }


def _per_layer(traced: dict, kernel: dict) -> dict:
    """Every per-layer metric; layers this workload does not run read 0."""
    from perfbench.layers import per_layer

    values = {f"nlp.vectorized.{k}": v for k, v in kernel.items()}
    values.update(traced)
    return {name: values.get(name, 0) for name, _u, _b in per_layer()}


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    from perfbench.harness import (
        RssSampler,
        Tracer,
        driver_heap_mb,
        host_cores,
        start_spark,
        stop_spark,
        tail,
        tree_memory,
    )
    from perfbench.kernel import time_kernel
    from perfbench.layers import END_TO_END
    from perfbench.workloads import WORKLOADS

    cores, heap_mb = host_cores(), driver_heap_mb()
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-{os.getpid()}")
    os.makedirs(work)
    session = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            # the JVM starts while the pandas inputs and the oracle sample
            # are made; the oracle thereby adds no wall time to setup_s as
            # long as it ends before the session is up
            with ThreadPoolExecutor(1) as pool:
                session = pool.submit(start_spark, work, cores, heap_mb)
                wl = WORKLOADS[workload](work, seed, seconds, cores)
                wl.prepare()
            wl.spark = session.result()
            wl.setup()
            wl.cold = wl.cold_op()
            setup_s = time.perf_counter() - t0 - wl.check_s
            # a traced run times one op: its end-to-end numbers are not
            # reported, and the op is the baseline of trace.overhead
            wl.measure(0 if trace else seconds)
            if trace:
                tracer = Tracer()
                p50 = _end_to_end(wl, setup_s)["op_s_p50"]
                traced = wl.traced(tracer, p50)
                kernel = time_kernel(
                    wl.kernel_texts, wl.gaz, tracer, f"{workload}.kernel"
                )
            wl.finish()
            procs = tree_memory(os.getpid())
        peak_mb = rss.peak_mb
    finally:
        if session is not None and session.exception() is None:
            stop_spark(session.result())
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # unless another run is in it
        except OSError:
            pass

    ops = [wl.cold] + wl.warmup + wl.ops + wl.ops_traced
    failed = sum(not op.ok for op in ops)
    walls = [op.wall_s for op in wl.ops]
    end_to_end = _end_to_end(wl, setup_s)
    # every end-to-end number by name and unit, the bounded ones first
    shown = {k: {"value": v, "unit": u} for (k, u, _b), v in
             zip(END_TO_END, end_to_end.values())}
    op_tail = tail(walls)
    if op_tail is not None:
        shown["op_s_tail"] = {"unit": "s", **op_tail}
    if workload == "kg_build":
        shown["triples_per_s"] = {
            "value": sum(op.triples for op in wl.ops) / sum(walls), "unit": "1/s",
        }
    shown["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    shown["failed_ops_share"] = {"value": failed / len(ops), "unit": "ratio"}
    report = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "master": f"local[{cores}]",
        "driver_heap_mb": heap_mb,
        "shuffle_partitions": cores,
        **wl.info,
        "metrics": shown,
        "warmup_op_s": [op.wall_s for op in wl.warmup],
        "op_s": walls,
        "check_s": wl.check_s,
        # per-process peak RSS at the end of the run: where peak_rss_mb's
        # run-to-run swing comes from
        "peak_rss_mb_by_process": [(p[1], round(p[3])) for p in procs],
    }
    if trace:
        report["kernel_steps_match_nlp_batch"] = kernel.pop("steps_match_nlp_batch")
        metrics = _per_layer(traced, kernel)
        span_file = os.path.join(
            ROOT, ".perfbench_out", f"spans-{workload}-s{seed}.json"
        )
        tracer.write(span_file)
        report["span_file"] = os.path.relpath(span_file, ROOT)
        report["layer_map"] = _layer_map()
    else:
        metrics = end_to_end
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    return report, result


def _layer_map() -> dict:
    from perfbench.layers import LAYER_MAP

    return {
        layer: {"moves": moves, "on": on, "flat_on": flat, "traced_in": traced}
        for layer, (moves, on, flat, traced) in LAYER_MAP.items()
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import fixtures.gen  # noqa: F401
        import ner_spark.plans.kg  # noqa: F401
        import oracle.ref_pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e})", file=sys.stderr)
        return 2

    from perfbench.layers import END_TO_END, per_layer
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    if _metric_names() != (END_TO_END, per_layer()):
        print("perfbench: BENCHMARK.json and perfbench/layers.py disagree",
              file=sys.stderr)
        return 3
    try:
        report, result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    except Exception:
        traceback.print_exc()
        return 1
    units = dict((n, u) for n, u, _ in END_TO_END + per_layer())
    print("report " + json.dumps(report), flush=True)
    result["metrics"] = {
        k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
