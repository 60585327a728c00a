"""End-to-end and per-layer benchmark of the ocr_spark extraction job.

Run ``python3 e2ebench/run.py --help`` from the repository root.
"""
