"""Single-file commit: concatenate executor-written part files with a
driver-written header (and optional terminator) into one output file.

Reference parity: `file/Merger.java:9-30` + `file/HadoopFileSystemWrapper.java:86-121`
— try the filesystem's server-side concat fast path (HDFS ``concat`` /
object-store multipart compose) first, fall back to a serial stream copy.
Parts are ordered by the numeric partition id of their ``part-NNNNN``
prefix (the names Spark's own writers use too), not as strings: a string
sort puts ``part-100000`` before ``part-99999``.  Files starting with '.'
or '_' are ignored (Hadoop convention).  All IO goes through the pluggable
filesystem layer (``fsio``), so the commit works on any registered scheme.
"""

from __future__ import annotations

import re
import shutil
from pathlib import Path

from .fsio import fs_basename, fs_join, get_fs

_COPY_BUF = 8 * 1024 * 1024


_PART_ID = re.compile(r"part-(\d+)")


def list_parts(temp_dir: str | Path) -> list[str]:
    """The ``part-NNNNN…`` files of ``temp_dir``, in partition-id order."""
    d = str(temp_dir)
    return sorted(
        (p for p in get_fs(d).listdir(d) if not fs_basename(p).startswith((".", "_"))),
        key=lambda p: int(_PART_ID.match(fs_basename(p)).group(1)),
    )


def merge_parts(
    temp_dir: str | Path,
    output_path: str | Path,
    *,
    header: bytes | None = None,
    terminator: bytes | None = None,
    delete_temp: bool = True,
) -> None:
    """Concatenate header + parts + terminator into ``output_path``
    (overwriting it, like the reference — README.md:53).

    The header/terminator are staged as dot-prefixed files in the temp dir
    (invisible to ``list_parts``) so the whole output is a pure concat — the
    shape the fast path needs."""
    temp_dir = str(temp_dir)
    out = str(output_path)
    fs = get_fs(out)
    pieces: list[str] = []
    if header is not None:
        hp = fs_join(temp_dir, ".header")
        get_fs(hp).write_bytes(hp, header)
        pieces.append(hp)
    pieces.extend(list_parts(temp_dir))
    if terminator is not None:
        tp = fs_join(temp_dir, ".terminator")
        get_fs(tp).write_bytes(tp, terminator)
        pieces.append(tp)
    if not fs.concat(pieces, out):
        tmp_out = out + ".tmp_merge"
        with fs.open_output(tmp_out) as o:
            for piece in pieces:
                with get_fs(piece).open_input(piece) as src:
                    shutil.copyfileobj(src, o, _COPY_BUF)
        fs.rename(tmp_out, out)
    if delete_temp:
        get_fs(temp_dir).delete(temp_dir, recursive=True)
