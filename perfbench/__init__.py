"""Benchmark for the ``datafusion_randgen_spark`` package.

Run ``python3 perfbench/run.py --help`` from the repository root; the
design, workloads and metrics are described in ``perfbench/README.md``.
"""
