#!/usr/bin/env python3
"""Meta-test: tools/catalog_diff.py on small hand-made catalogs. Runs no
Spark. Dev tool only.

Usage: python3 tools/test_catalog_diff.py
"""
import subprocess
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

TOOL = Path(__file__).resolve().parent / "catalog_diff.py"
sys.path.insert(0, str(TOOL.parent))
import catalog_diff  # noqa: E402

FRAMES = [(1, 32631, True, 1.5), (2, 32632, False, -2.25), (2, 32632, False, -2.25)]


def frames_table(rows, fid_nullable=True):
    schema = pa.schema([pa.field("fid", pa.int32(), nullable=fid_nullable),
                        pa.field("epsg", pa.int32()),
                        pa.field("is_land", pa.bool_()),
                        pa.field("bb_xmin", pa.float64())])
    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema)


def write_catalog(root, frames, parts=1):
    """A catalog dir whose frames table is `frames`, split into `parts`
    part files, and whose other two tables are fixed."""
    for t in catalog_diff.TABLES:
        (root / t).mkdir(parents=True)
        (root / t / "_SUCCESS").write_text("")
    step = -(-frames.num_rows // parts)
    for i in range(parts):
        pq.write_table(frames.slice(i * step, step), root / "frames" / f"part-{i:05d}.parquet")
    pq.write_table(pa.table({"frame_fid": [1, 2], "burst_ogc_fid": [10, 20]}),
                   root / "frames_bursts" / "part-00000.parquet")
    pq.write_table(pa.table({"OGC_FID": [10, 20], "burst_id_jpl": ["t001_a", "t001_b"]}),
                   root / "burst_id_map" / "part-00000.parquet")


def run(a, b):
    p = subprocess.run([sys.executable, str(TOOL), str(a), str(b)],
                       capture_output=True, text=True)
    return p.returncode, p.stdout


def main():
    with tempfile.TemporaryDirectory() as tmp:
        tmp = Path(tmp)
        write_catalog(tmp / "base", frames_table(FRAMES))

        # the same rows split over two part files: identical
        write_catalog(tmp / "split", frames_table(FRAMES), parts=2)
        code, out = run(tmp / "base", tmp / "split")
        assert code == 0, out
        assert "frames: identical (3 rows)" in out, out

        # only the nullability of one column differs
        write_catalog(tmp / "required", frames_table(FRAMES, fid_nullable=False))
        code, out = run(tmp / "base", tmp / "required")
        assert code == 1, out
        assert "frames: DIFFERENT" in out and "('fid', 'int32', False)" in out, out
        assert "rows in" not in out, out
        assert "frames_bursts: identical" in out, out

        # only one row differs (a double's last bits)
        changed = FRAMES[:2] + [(2, 32632, False, -2.2500000000000004)]
        write_catalog(tmp / "row", frames_table(changed))
        code, out = run(tmp / "base", tmp / "row")
        assert code == 1, out
        assert "schema" not in out, out
        assert "1 rows in A not B" in out and "1 rows in B not A" in out, out

        # a duplicate row dropped: multiset, not set, difference
        write_catalog(tmp / "dedup", frames_table(FRAMES[:2]))
        code, out = run(tmp / "base", tmp / "dedup")
        assert code == 1 and "1 rows in A not B" in out and "B not A" not in out, out

        # a missing table
        code, out = run(tmp / "base", tmp / "nothing")
        assert code == 1 and "missing in B" in out, out
    print("test_catalog_diff: ok")


if __name__ == "__main__":
    main()
