"""The scan-narrowness memo behind ``_spread`` follows the file layout."""

from __future__ import annotations

import os
import time


def test_rewritten_layout_is_reestimated(tmp_path):
    import __spark_entry__ as entry

    table = tmp_path / "docs.parquet"
    table.mkdir()
    (table / "part-00000.parquet").write_bytes(b"x" * 64)
    # the one-file layout was written a while ago
    past = time.time_ns() - 10**9
    os.utime(table, ns=(past, past))
    assert entry._scan_is_narrow(str(table), 4)  # 1 split < 4

    (table / "part-00000.parquet").unlink()
    for i in range(8):
        (table / f"part-{i:05d}.parquet").write_bytes(b"x" * 64)
    assert not entry._scan_is_narrow(str(table), 4)  # 8 splits
    # an unchanged layout is answered from the memo
    memo = dict(entry._SCAN_NARROW_MEMO)
    assert not entry._scan_is_narrow(str(table), 4)
    assert entry._SCAN_NARROW_MEMO == memo
