"""Seeded benchmark inputs.

The base is the engine's sf0.01 test fixture (perfbench/data/sf0.01, the
star schema plus events, documents and embeddings). Seed 0 is that fixture
byte for byte. Any other seed writes a copy whose rows are permuted per
table by a seed-derived permutation. Row counts, keys, texts and vectors
stay the same, so every seed asks for the same logical work while scans,
shuffles and tie-breaks see a different physical order.
"""
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

BASE = Path(__file__).resolve().parent / "data" / "sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def make(seed: int, work: Path) -> Path:
    """Return the directory holding the inputs for `seed`, writing it once."""
    out = work / "inputs" / f"seed{seed}"
    if (out / "DONE").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        src = BASE / f"{t}.parquet"
        if seed == 0:
            shutil.copyfile(src, tmp / src.name)
            continue
        table = pq.read_table(src)
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, tmp / src.name, compression="snappy")
    (tmp / "DONE").write_text(f"{seed}\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
