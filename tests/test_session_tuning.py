"""Starting a session must export no allocator settings.

The r12 driver bench measured a suite-wide 0.69x geomean regression
traced to a glibc malloc retuning (1 GB mmap/trim thresholds exported
to the JVM and all 32 Python workers): every descendant retained its
high-water heap forever and the suite collapsed under memory pressure
at 32 concurrent workers (8-core runs BEAT 32-core on the worst rows).
"""

from __future__ import annotations

import os


def test_tune_malloc_default_off(spark):
    # `spark` ran get_spark(): no allocator env reaches the JVM or the
    # Python workers it forks.
    assert [k for k in os.environ if k.startswith("MALLOC_")] == []


def test_pow_tables_sized_to_need():
    # r13: power tables are built to the caller's actual need (no 2^20
    # = 32 MB per-process floor) and are task-local in the kernel —
    # nothing module-global retains them.
    from picovdb_spark.operators import dedup as D

    t = D._build_pow_tables(16)
    assert len(t) == 4 and all(len(a) == 16 for a in t)
    assert int(t[0][0]) == 1
    assert int(t[0][1]) == D._POLY_B1
    # lane x inverse-lane telescopes back to 1 at every index
    for i in range(16):
        assert (int(t[0][i]) * int(t[2][i])) % (1 << 64) == 1
        assert (int(t[1][i]) * int(t[3][i])) % (1 << 64) == 1
    assert not hasattr(D, "_POLY_POW_TABLES")
