"""BSD sum16 unit + property tests — the algorithm is easy to get subtly
wrong (SURVEY.md §7 'hard parts'), so we check it against the system
``sum`` tool when present and against hand-derived cases."""

from __future__ import annotations

import shutil
import subprocess

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ensembl_database_loader_spark.functions.checksums import (
    bsd_sum16,
    bsd_sum16_blocks,
)


def test_empty():
    assert bsd_sum16(b"") == 0
    assert bsd_sum16_blocks(b"") == (0, 0)


def test_single_byte():
    assert bsd_sum16(b"\x01") == 1
    assert bsd_sum16(b"\xff") == 255


def test_rotation():
    # two bytes: c=1 -> rotate: 0x8000, +2 => 0x8002
    assert bsd_sum16(bytes([1, 2])) == 0x8002


def test_blocks():
    assert bsd_sum16_blocks(b"x" * 1024)[1] == 1
    assert bsd_sum16_blocks(b"x" * 1025)[1] == 2


def test_chunked_file_stream_matches_whole(tmp_path):
    """A file over 1 MiB checksummed by the system ``sum`` must equal
    the single-pass fold, sum and block count."""
    from ensembl_database_loader_spark.functions.checksums import bsd_sum16_files

    data = bytes(range(256)) * (((1 << 20) + 4096) // 256)  # > 1 MiB
    p = tmp_path / "blob.bin"
    p.write_bytes(data)
    assert bsd_sum16_files([str(p)])[str(p)] == bsd_sum16_blocks(data)


def test_check_string_format(tmp_path):
    """The reference-format combined string: '%05d sum' + ' ' + blocks
    (DownloadDatabase.pm:247-250)."""
    from ensembl_database_loader_spark.functions.checksums import bsd_sum16_files

    p = tmp_path / "f.bin"
    p.write_bytes(b"\x01\x02")
    s, blocks = bsd_sum16_files([str(p)])[str(p)]
    assert (s, blocks) == (0x8002, 1)
    assert f"{s:05d} {blocks}" == "32770 1"


HAVE_SUM = shutil.which("sum") is not None


@pytest.mark.skipif(not HAVE_SUM, reason="system `sum` unavailable")
@settings(max_examples=25, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_matches_system_sum(data: bytes):
    import tempfile, os

    with tempfile.NamedTemporaryFile(delete=False) as f:
        f.write(data)
        path = f.name
    try:
        out = subprocess.run(["sum", path], capture_output=True, text=True, check=True)
        expected = int(out.stdout.split()[0])
        assert bsd_sum16(data) == expected
    finally:
        os.unlink(path)
