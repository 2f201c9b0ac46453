"""CLI param-string surface (reference cli/commands/segment.py:74-116 +
validator.py:8-28): param-string / JSON parsing, validators, error probes."""

from __future__ import annotations

import argparse
import datetime

import pytest

from pipe_segment_spark.cli import (
    parse_segmenter_params,
    valid_date,
    valid_daterange,
)
from pipe_segment_spark.config import SegmenterParams


def test_compact_form():
    p = parse_segmenter_params("max_gap_hours:4, max_dtok_rate:20")
    assert p == SegmenterParams(max_gap_hours=4.0, max_dtok_rate=20.0)


def test_json_form():
    p = parse_segmenter_params('{"max_gap_hours": 8, "max_open_fragments": 4}')
    assert p.max_gap_hours == 8.0 and p.max_open_fragments == 4


def test_defaults():
    assert parse_segmenter_params("") == SegmenterParams()
    assert parse_segmenter_params("{}") == SegmenterParams()


@pytest.mark.parametrize(
    "bad",
    [
        "max_speed:30",           # unknown key (reference name, not recast)
        "max_gap_hours:abc",      # non-numeric
        "max_gap_hours",          # no colon
        '{"max_gap_hours": "x"}',  # non-numeric json
        "max_gap_hours:-1",       # non-positive threshold
        "max_open_fragments:0",   # < 1
        '{"bogus": 1}',
    ],
)
def test_param_errors(bad):
    with pytest.raises(argparse.ArgumentTypeError):
        parse_segmenter_params(bad)


def test_dates():
    assert valid_date("2024-02-29") == datetime.date(2024, 2, 29)
    with pytest.raises(argparse.ArgumentTypeError):
        valid_date("2024-13-01")
    assert valid_daterange("2024-01-01,2024-01-31") == (
        datetime.date(2024, 1, 1),
        datetime.date(2024, 1, 31),
    )
    with pytest.raises(argparse.ArgumentTypeError):
        valid_daterange("2024-02-01,2024-01-01")
    with pytest.raises(argparse.ArgumentTypeError):
        valid_daterange("2024-01-01")


def test_job_arg_probes():
    """Error probes from the verify recipe: bad mode exits via argparse;
    stream without checkpoint exits with a message."""
    import jobs.run_segment as job

    with pytest.raises(SystemExit):
        job.parse_args(["--input", "i", "--output", "o", "--mode", "btch"])
    args = job.parse_args(
        ["--input", "i", "--output", "o", "--mode", "stream",
         "--segmenter-params", "max_gap_hours:3"]
    )
    assert args.segmenter_params.max_gap_hours == 3.0


@pytest.mark.parametrize(
    "flag, value",
    [
        pytest.param(flag, value, id=flag)
        for flag, value in [
            ("--max-gap-hours", "0"),
            ("--max-dtok-rate", "0"),
            ("--buffer-hours", "0"),
            ("--hours-exp", "0"),
            ("--stream-mode", "sorted_prefix"),
        ]
    ],
)
def test_segmenter_params_only_threshold_surface(flag, value):
    """Thresholds come only through --segmenter-params, which validates
    them (a bare --max-dtok-rate 0 would divide by zero in the kernel's
    score); the old per-threshold flags and the removed --stream-mode (the
    stream has one release rule) exit with argparse's error, and omitting
    the param string gives the defaults."""
    import jobs.run_segment as job

    with pytest.raises(SystemExit) as exc:
        job.parse_args(["--input", "i", "--output", "o", flag, value])
    assert exc.value.code == 2
    args = job.parse_args(["--input", "i", "--output", "o"])
    assert args.segmenter_params == SegmenterParams()
