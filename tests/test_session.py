"""The session's default shuffle partition count: one per core."""

from __future__ import annotations

import os

from pipe_segment_spark.session import _default_shuffle_partitions


def test_default_shuffle_partitions_is_one_per_core():
    for n in (1, 2, 4, 8, 16, 32):
        assert _default_shuffle_partitions(n) == n
        assert _default_shuffle_partitions(str(n)) == n
    assert _default_shuffle_partitions("*") == os.cpu_count()
