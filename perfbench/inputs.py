"""Seeded input generator for the benchmark.

Every workload's tables are derived from the committed base tables in
``perfbench/data`` (the repo's sf0.01 testdata tables) by
schema-preserving transforms, all drawn from one ``numpy`` generator
seeded by ``--seed``:

* a bijective remap of every entity-id space, applied to every column
  that holds ids of that space, so joins and oracles stay valid;
* ``replicas`` copies with disjoint ids (copy ``r`` is shifted past the
  ids of copy ``r - 1``);
* a seeded row order and a seeded split of each table into
  ``FILES_PER_TABLE`` parquet files of uneven size.

The program receives only the output directory, laid out like the
testdata directories (``<dir>/<table>.parquet``, here a directory of
part files).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: id space -> the (table, column) pairs that hold ids of that space
ID_SPACES: dict[str, tuple[tuple[str, str], ...]] = {
    "household": (("customer", "c_custkey"), ("events", "user_id"), ("orders", "o_custkey")),
    "order": (("orders", "o_orderkey"),),
    "event": (("events", "event_id"),),
    "doc": (("documents", "doc_id"), ("embeddings", "vec_id")),
}

FILES_PER_TABLE = 4


@dataclass(frozen=True)
class Inputs:
    dir: str
    tables: tuple[str, ...]
    rows: int
    bytes: int


def _remap(domain: np.ndarray, rng: np.random.Generator, order_preserving: bool) -> np.ndarray:
    """New id for each value of the sorted ``domain``.

    A permutation of the domain, or, when ``order_preserving``, a seeded
    affine map ``id * stride + offset`` that keeps the id order (so
    min-id tie-breaks, and with them the round count of min-label
    fixpoints, are the same on every seed)."""
    if order_preserving:
        stride = int(rng.integers(2, 8))
        offset = int(rng.integers(0, 1_000_000))
        return domain * stride + offset
    return domain[rng.permutation(len(domain))]


def generate(
    tables: tuple[str, ...],
    seed: int,
    out_dir: str,
    replicas: int = 1,
    order_preserving: bool = False,
) -> Inputs:
    """Write the seeded variant of ``tables`` under ``out_dir``."""
    rng = np.random.default_rng(seed)
    base = {t: pq.read_table(os.path.join(BASE_DIR, f"{t}.parquet")) for t in tables}
    new_cols: dict[tuple[str, str], np.ndarray] = {}
    for space, cols in ID_SPACES.items():
        cols = tuple((t, c) for t, c in cols if t in base)
        if not cols:
            continue
        olds = [base[t][c].to_numpy() for t, c in cols]
        domain = np.unique(np.concatenate(olds))
        mapped = _remap(domain, rng, order_preserving)
        span = int(mapped.max()) + 1  # copy r lives in [r*span, (r+1)*span)
        for (t, c), old in zip(cols, olds):
            new = mapped[np.searchsorted(domain, old)]
            new_cols[(t, c)] = np.concatenate([new + r * span for r in range(replicas)])
    rows = size = 0
    for t, tb in base.items():
        tb = pa.concat_tables([tb] * replicas).replace_schema_metadata(None)
        for (tt, c), values in new_cols.items():
            if tt == t:
                i = tb.schema.get_field_index(c)
                tb = tb.set_column(i, tb.schema.field(i), pa.array(values, tb.schema.field(i).type))
        tb = tb.take(rng.permutation(tb.num_rows))
        weights = rng.uniform(0.75, 1.25, FILES_PER_TABLE)
        cuts = np.round(np.cumsum(weights) / weights.sum() * tb.num_rows).astype(int)
        tdir = os.path.join(out_dir, f"{t}.parquet")
        os.makedirs(tdir)
        start = 0
        for i, stop in enumerate(cuts):
            path = os.path.join(tdir, f"part-{i:05d}.parquet")
            pq.write_table(tb.slice(start, stop - start), path)
            size += os.path.getsize(path)
            start = stop
        rows += tb.num_rows
    return Inputs(out_dir, tuple(tables), rows, size)
