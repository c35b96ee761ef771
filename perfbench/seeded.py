"""Seeded benchmark input: the source tables with every id family shifted.

Each id family of ``tools/make_scaled_sf.FAMILIES`` moves by ``r * base``,
where ``base`` is the family's max id + 1 and ``r`` is drawn from the seed
(``r = 0`` at seed 0, so seed 0 is the source unchanged). That is the
scale-up scheme at K=1 with the replica index chosen by the seed: foreign
keys move in lockstep, so every join and group cardinality and every
timestamp stays the same, and only hash placement changes.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.make_scaled_sf import FAMILIES


def family_shifts(seed: int, tables: dict[str, pa.Table]) -> dict[tuple[str, str], int]:
    """(table, column) -> offset for every id column of ``FAMILIES``."""
    rng = random.Random(seed)
    shifts = {}
    for fam, members in FAMILIES.items():
        base = 1 + max(
            (pc.max(tables[t][c]).as_py() or 0 for t, c in members if t in tables),
            default=0,
        )
        r = 0 if seed == 0 else rng.randint(1, 8)
        for member in members:
            shifts[member] = r * base
    return shifts


def build(src: str, cache_root: str, seed: int) -> str:
    """Return the seeded copy of ``src`` under ``cache_root``, building it
    once per seed. The directory appears atomically, so an interrupted
    build is redone on the next run instead of being read half-written."""
    out = os.path.join(cache_root, f"{os.path.basename(src.rstrip('/'))}-seed{seed}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = {
        name[: -len(".parquet")]: pq.read_table(os.path.join(src, name))
        for name in sorted(os.listdir(src))
        if name.endswith(".parquet")
    }
    shifts = family_shifts(seed, tables)
    for name, t in tables.items():
        path, dst = os.path.join(src, f"{name}.parquet"), os.path.join(tmp, f"{name}.parquet")
        offs = [(i, col, shifts.get((name, col), 0)) for i, col in enumerate(t.column_names)]
        if not any(off for _, _, off in offs):
            shutil.copyfile(path, dst)
            continue
        for i, col, off in offs:
            if off:
                t = t.set_column(i, col, pc.add(t[col], pa.scalar(off, type=t[col].type)))
        # keep the source's row groups, so scan splits stay the same
        meta = pq.ParquetFile(path).metadata
        pq.write_table(t, dst, row_group_size=meta.row_group(0).num_rows if meta.num_row_groups else None)
    os.replace(tmp, out)
    return out
