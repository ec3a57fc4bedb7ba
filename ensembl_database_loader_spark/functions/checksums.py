"""BSD ``sum`` checksum (16-bit right-rotating) — the integrity primitive
of the reference's download verification.

The reference shells out to Unix ``sum`` per downloaded file and
compares against the CHECKSUMS manifest (`sum` invocation:
DownloadDatabase.pm:238-251; manifest parse/compare:
DownloadDatabase.pm:148-216). File checksums do the same: one run of
the system ``sum -r`` per database, in the calling thread, on the host
that reads the dump directory (``bsd_sum16_files``). No Spark job is
started and no Python byte loop holds the GIL across the mirror's
worker threads.

The algorithm (public BSD sum semantics: rotate right one bit, add
byte, mask to 16 bits) is also reimplemented in pure Python: the test
oracle for the tool (``bsd_sum16_blocks``) and a Spark UDF over string
columns (``bsd_sum16_udf``).
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
from collections.abc import Sequence

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

#: BSD ``sum`` block unit: 1 KiB, rounded up (the second field of the
#: `sum` output the reference parses, DownloadDatabase.pm:238-251).
BLOCK_SIZE = 1024

#: Start of one ``sum -r`` output line: ``%05d %5d `` then the file name.
_SUM_LINE_RE = re.compile(rb"(\d+) +(\d+) ")


def bsd_sum16(data: bytes) -> int:
    """16-bit BSD checksum: for each byte, rotate the accumulator right
    one bit then add the byte, modulo 2**16.

    The recurrence (1-bit rotate with add-carry per byte) is inherently
    sequential — rotation does not distribute over addition, so there is
    no per-chunk combine and no SIMD fold. Files are therefore checked
    by the system ``sum`` (``bsd_sum16_files``), like the reference's
    per-file ``sum`` invocation; this fold is its test oracle."""
    c = 0
    for b in data:
        c = ((c >> 1) + ((c & 1) << 15) + b) & 0xFFFF
    return c


def bsd_sum16_blocks(data: bytes, block_size: int = BLOCK_SIZE) -> tuple[int, int]:
    """(checksum, block count) — the two fields of a CHECKSUMS line
    (`<sum16> <blocks> <filename>`, parse regex at
    DownloadDatabase.pm:204-211)."""
    return bsd_sum16(data), (len(data) + block_size - 1) // block_size


class ChecksumToolError(RuntimeError):
    """The system ``sum`` is missing from PATH, exited non-zero, or
    printed output that does not parse. Never a pass: a file the tool
    could not check has no checksum to compare."""


def bsd_sum16_files(names: Sequence[str], cwd: str | None = None) -> dict[str, tuple[int, int]]:
    """{name: (sum16, 1 KiB blocks)} for each file, from ONE run of the
    system ``sum -r`` (the reference's check, DownloadDatabase.pm:238-251).

    ``names`` are paths, relative to ``cwd`` if given. They follow
    ``--``, so a name starting with ``-`` is a file, not an option.
    ``sum`` prints one ``%05d %5d <name>`` line per argument, in argument
    order; each line is matched against the name it must end with, so
    names holding spaces or newlines parse exactly. Raises
    ChecksumToolError rather than ever returning a partial result."""
    if not names:
        return {}  # `sum` with no operand would read stdin
    tool = shutil.which("sum")
    if tool is None:
        raise ChecksumToolError("`sum` not found on PATH")
    proc = subprocess.run([tool, "-r", "--", *names], cwd=cwd, capture_output=True)
    if proc.returncode != 0:
        err = proc.stderr.decode(errors="replace").strip()
        raise ChecksumToolError(f"`sum -r` exited {proc.returncode}: {err}")
    out: dict[str, tuple[int, int]] = {}
    pos = 0
    for name in names:
        m = _SUM_LINE_RE.match(proc.stdout, pos)
        tail = os.fsencode(name) + b"\n"
        if m is None or not proc.stdout.startswith(tail, m.end()):
            raise ChecksumToolError(f"`sum -r` output does not parse at {name!r}")
        out[name] = (int(m.group(1)), int(m.group(2)))
        pos = m.end() + len(tail)
    return out


@F.udf(returnType=IntegerType(), useArrow=True)
def bsd_sum16_udf(s: str) -> int | None:
    """BSD sum16 over a string's UTF-8 bytes (Arrow-batched Python UDF)."""
    if s is None:
        return None
    return bsd_sum16(s.encode("utf-8"))
