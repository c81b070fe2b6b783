"""Seeded benchmark fixtures, built from the base tables committed under
``perfbench/data`` so a run reads nothing outside its checkout.

A fixture shifts the keys of the tables a workload names by one seeded
multiple of the shift units of ``tests/test_scale_smoke.py`` (``SHIFTS``)
and permutes their rows; the same seed always writes the same bytes.
The units keep the value mix of every key modulus that divides them, but
not every modulus the plans take does: the stage-1 and p6 user_id moduli
(%7, %9, %13) do not divide the events shift, so the seed re-randomizes
the attributes derived from them. A seed therefore changes the data mix
as well as the key magnitudes and the row order. Tables a workload does
not shift are copied verbatim.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tests.test_scale_smoke import SHIFTS
from trace_data_pipeline_spark.sources import TABLES

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# the sf3 scale smoke proves the plans on 30 shifted copies, so any
# multiple below that is inside tested key magnitudes
MAX_MULTIPLE = 30


def base_dir(scale: str) -> str:
    return os.path.join(DATA, scale)


def describe(path: str) -> dict:
    """Row count and a content fingerprint of one parquet file."""
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    return {"rows": pq.ParquetFile(path).metadata.num_rows, "sha256_16": digest}


def _shifted(tbl: pa.Table, table: str, multiple: int) -> pa.Table:
    for col, unit in SHIFTS[table].items():
        i = tbl.schema.get_field_index(col)
        tbl = tbl.set_column(i, col, pc.add(tbl[col], multiple * unit))
    return tbl


def build(scale: str, dst: str, seed: int, shifted: tuple[str, ...]) -> dict:
    """Write the fixture for ``seed`` into ``dst``; return its shift
    multiple and, per table, its row count and a content fingerprint of
    the written file."""
    rng = np.random.default_rng(seed)
    multiple = int(rng.integers(MAX_MULTIPLE))
    os.makedirs(dst, exist_ok=True)
    manifest = {"multiple": multiple, "tables": {}}
    for table in TABLES:
        src = os.path.join(base_dir(scale), f"{table}.parquet")
        out = os.path.join(dst, f"{table}.parquet")
        if table in shifted:
            tbl = _shifted(pq.read_table(src), table, multiple)
            pq.write_table(tbl.take(rng.permutation(tbl.num_rows)), out)
        else:
            shutil.copyfile(src, out)
        manifest["tables"][table] = describe(out)
    return manifest
