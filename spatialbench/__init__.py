"""Closed-loop, seeded benchmark of the ssb_sgis_spark spatial engine.

Run ``python3 spatialbench/run.py --help`` from the repository root.
"""
