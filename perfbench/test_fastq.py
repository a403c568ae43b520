"""Unit tests of the FASTQ output checks.

    python3 -m pytest perfbench/test_fastq.py -q
"""

from __future__ import annotations

from perfbench import fastq


def _read(sample: str, i: int, mate: int = 1) -> tuple[str, str, str]:
    return (f"{sample}:1:FC1:1:1101:{i}:0 {mate}:N:0:ACGT", "ACGT", "IIII")


def test_samples_sharing_a_part_file_are_grouped():
    parts = [
        [_read("S1", 1), _read("S1", 1, 2), _read("S1", 2)],
        [_read("S2", 1), _read("S4", 1), _read("S4", 2)],
        [],
    ]
    assert fastq.grouping_problems(parts) == []


def test_a_sample_split_over_part_files_is_reported():
    parts = [[_read("S1", 1)], [_read("S1", 2), _read("S2", 1)]]
    assert fastq.grouping_problems(parts) == ["sample S1: reads in 2 part files"]


def test_interleaved_samples_are_reported():
    parts = [[_read("S2", 1), _read("S4", 1), _read("S2", 2)]]
    assert fastq.grouping_problems(parts) == [
        "part file 0: reads not sorted by sample and name"
    ]
