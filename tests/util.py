"""Differential-compare helper mirroring the driver's check: row count,
schema (column names sorted), and order-insensitive values."""

from __future__ import annotations

import math

import pandas as pd


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        # kill -0.0 and ulp noise at display precision
        return round(v, 9)
    try:
        import numpy as np

        if isinstance(v, (np.integer,)):
            return int(v)
        if isinstance(v, (np.floating,)):
            return round(float(v), 9)
        if isinstance(v, np.ndarray):
            return tuple(_norm_cell(x) for x in v)
    except ImportError:
        pass
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:
        pass
    return v


def normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a = normalize(spark_pdf)
    b = normalize(oracle_pdf)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")


def write_bgzf_vcf(path: str, header: str, lines: list[str], lines_per_block: int = 40) -> None:
    """Write a BGZF VCF whose blocks each hold ``lines_per_block`` records
    (many small blocks, so index chunks start and end inside them), then
    its ``.tbi``."""
    from disq_original_spark.sources.bgzf import BgzfWriter
    from disq_original_spark.sources.tabix import create_tabix_index

    with open(path, "wb") as fh, BgzfWriter(fh) as w:
        w.write(header.encode())
        w.flush_block()
        for i, line in enumerate(lines, 1):
            w.write(line.encode() + b"\n")
            if i % lines_per_block == 0:
                w.flush_block()
    create_tabix_index(path)
