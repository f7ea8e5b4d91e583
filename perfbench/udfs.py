"""The reference's map/reduce, in the two forms the streaming workload runs.

``MAPPER`` / ``REDUCER`` are Hadoop-Streaming scripts with the semantics of
the reference's TestMapper / TestReducer: the mapper emits ``idx<TAB>value``
for each field of a comma line, the reducer prints the exact integer mean of
each key with the tripwire ``(s // n) - (s % n) * 100``.

``arrow_map`` / ``arrow_reduce`` are the same map and reduce as pandas
functions for ``arrow_map_reduce``. This module is imported by Spark's Python
workers, so it imports nothing but numpy and pandas.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MAPPER = """#!/usr/bin/env python3
import sys
for line in sys.stdin:
    line = line.strip()
    if not line:
        continue
    for idx, field in enumerate(line.split(",")):
        print(f"{idx}\\t{int(field.strip())}")
"""

REDUCER = """#!/usr/bin/env python3
import sys
from itertools import groupby
pairs = (line.rstrip("\\n").split("\\t") for line in sys.stdin if line.strip())
for key, grp in groupby(pairs, key=lambda kv: kv[0]):
    vals = [int(v) for _, v in grp]
    s, n = sum(vals), len(vals)
    print(f"{key}\\t{(s // n) - (s % n) * 100}")
"""

MAP_SCHEMA = "idx int, v long"
REDUCE_SCHEMA = "id int, mean int"


def arrow_map(batches):
    for pdf in batches:
        fields = pdf["value"].str.split(",", expand=True).astype("int64")
        n, width = fields.shape
        yield pd.DataFrame({
            "idx": np.tile(np.arange(width, dtype=np.int32), n),
            "v": fields.to_numpy().ravel()})


def arrow_reduce(pdf):
    s, n = int(pdf["v"].sum()), len(pdf)
    return pd.DataFrame({"id": [int(pdf["idx"].iloc[0])],
                         "mean": [(s // n) - (s % n) * 100]})
