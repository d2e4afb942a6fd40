"""Order-independent output digests.

A digest is ``(rows, Σ h1(row), Σ h2(row))`` with two keyed 64-bit row
hashes (``pandas.util.hash_pandas_object``) summed modulo 2**64.  Two
tables with the same multiset of rows have the same digest whatever
their order or partitioning; one changed, missing or duplicated row
changes it.  Outputs are read back from disk with pyarrow, so a check
adds no Spark job to the operation it verifies.

Tier and score are left out on purpose: which duplicate's tier/score
survives ``dropDuplicates`` depends on arrival order today.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TRIPLE_COLS = ("subj", "pred", "obj")
MAPPING_COLS = ("node", "canonical_id")
_KEYS = ("kgbench-digest-1", "kgbench-digest-2")


class Digest(NamedTuple):
    rows: int
    h1: int
    h2: int


def digest(df: pd.DataFrame, cols) -> Digest:
    sub = df[list(cols)].astype(object)
    sums = [
        int(pd.util.hash_pandas_object(sub, index=False, hash_key=k).to_numpy().sum(dtype=np.uint64))
        for k in _KEYS
    ]
    return Digest(len(sub), *sums)


def read(path: str, cols) -> pd.DataFrame:
    """Columns ``cols`` of the parquet dataset at ``path``."""
    return pq.read_table(path, columns=list(cols)).to_pandas()
