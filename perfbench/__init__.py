"""Repository benchmark: kg_build, kg_tick and stream_links workloads.

Run from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics
(``perfbench/layers.py``).
"""
