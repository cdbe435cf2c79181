"""Seeded fixture step: generate, re-block into row groups, cache.

The data comes from ``tools.gen_fixtures.main(outdir, seed, scale)``,
called unmodified. Tables at or above ``LARGE_ROWS`` rows are then
rewritten with ``row_groups`` Parquet row groups each, so that a scan has
as many splits as the benchmark has cores times four. The result is
cached under ``<cache>/fixtures/s<seed>_x<scale>_rg<row_groups>``; a
cached set is reused as is and its generation time is never counted.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# tables this large are re-blocked; the small dimension tables stay one
# row group, as a real engine would keep them
LARGE_ROWS = 10_000


def fixture_dir(cache: str, seed: int, scale: float, row_groups: int) -> str:
    return os.path.join(cache, "fixtures", f"s{seed}_x{scale:g}_rg{row_groups}")


def reblock(path: str, row_groups: int) -> None:
    """Rewrite one Parquet file in place with ``row_groups`` row groups."""
    table = pq.read_table(path)
    size = max(1, -(-table.num_rows // row_groups))
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=size)
    os.replace(tmp, path)


def ensure(cache: str, seed: int, scale: float, row_groups: int = 1) -> str:
    """Return the fixture directory for (seed, scale, row_groups),
    generating it first if it is not cached."""
    out = fixture_dir(cache, seed, scale, row_groups)
    if os.path.isdir(out):
        return out
    from tools import gen_fixtures

    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # gen_fixtures reports on stdout; keep it off the result stream
    with contextlib.redirect_stdout(sys.stderr):
        gen_fixtures.main(tmp, seed, scale)
    if row_groups > 1:
        for name in TABLES:
            f = os.path.join(tmp, f"{name}.parquet")
            if pq.ParquetFile(f).metadata.num_rows >= LARGE_ROWS:
                reblock(f, row_groups)
    os.replace(tmp, out)
    return out


def describe(data_dir: str) -> list[tuple[str, int, int, int]]:
    """(table, rows, row groups, bytes) for every fixture table."""
    out = []
    for name in TABLES:
        f = os.path.join(data_dir, f"{name}.parquet")
        md = pq.ParquetFile(f).metadata
        out.append((name, md.num_rows, md.num_row_groups, os.path.getsize(f)))
    return out
