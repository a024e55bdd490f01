"""Vectorized helpers shared by the extraction kernels.

Everything here is numpy/pandas array math — no per-row Python. These helpers exist so
the kernels can express the reference's per-char / per-word loop semantics
(``backend/app/main.py:415, 671``) as shifted-mask arithmetic over sorted arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def group_codes(df: pd.DataFrame, cols: list[str]) -> np.ndarray:
    """Dense int codes identifying each group; rows MUST be pre-sorted by `cols`
    so equal codes are contiguous (all kernels sort once up front)."""
    if not len(df):
        return np.empty(0, dtype=np.int64)
    codes, _ = pd.factorize(pd.MultiIndex.from_frame(df[cols]) if len(cols) > 1 else df[cols[0]])
    return codes.astype(np.int64)


def grouped_cumsum(values: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Cumulative sum restarting at each contiguous group boundary (pure numpy):
    one global cumsum + one repeat of per-group bases. Codes MUST be contiguous."""
    m = len(values)
    if m == 0:
        return np.zeros(0, dtype=np.int64)
    v = values.astype(np.int64, copy=False)
    cs = np.cumsum(v)
    first = np.ones(m, dtype=bool)
    first[1:] = codes[1:] != codes[:-1]
    starts = np.nonzero(first)[0]
    sizes = np.diff(np.append(starts, m))
    base = np.repeat(cs[starts] - v[starts], sizes)
    return cs - base


def repeat_frame(df: pd.DataFrame, counts: np.ndarray) -> pd.DataFrame:
    """Row-repeat a frame by per-row counts (numpy repeat on each column)."""
    idx = np.repeat(np.arange(len(df)), counts)
    return df.iloc[idx].reset_index(drop=True)
