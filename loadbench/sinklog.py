"""Readers for the metadata logs Structured Streaming keeps on disk.

- a file sink's ``_spark_metadata`` log: which data files each batch
  committed (the table's versions, as readers see them);
- a file source's ``sources/0`` log in a query checkpoint: which input
  files each listing admitted, under the source's own log id, and the
  ``offsets`` log: the source log id each query batch read up to;
- a query checkpoint's ``commits`` log: which batches finished, and when
  (the commit file's mtime).

Logs are compacted every few batches into ``N.compact`` files holding
every entry up to ``N``; the delta files stay on disk for minutes after,
so the first log that names an entry gives its batch.
"""

from __future__ import annotations

import json
import os
from pathlib import Path
from urllib.parse import unquote, urlparse


def _batch_files(log_dir: Path) -> list[tuple[int, Path]]:
    out = []
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return []
    for name in names:
        head = name.split(".", 1)[0]
        if head.isdigit() and (name == head or name == f"{head}.compact"):
            out.append((int(head), log_dir / name))
    return sorted(out)


def _entries(path: Path) -> list[dict]:
    lines = path.read_text().splitlines()
    return [json.loads(ln) for ln in lines[1:] if ln.strip()]


def _local(uri: str) -> str:
    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


def newest(log_dir: Path) -> int:
    files = _batch_files(log_dir)
    return files[-1][0] if files else -1


def sink_files(sink: Path) -> dict[str, int]:
    """Data file -> the sink batch that committed it."""
    first: dict[str, int] = {}
    for batch, path in _batch_files(sink / "_spark_metadata"):
        for e in _entries(path):
            if e.get("action", "add") == "add":
                first.setdefault(_local(e["path"]), batch)
    return first


def source_files(checkpoint: Path) -> dict[str, int]:
    """Input file -> the query batch that read it.

    The source log numbers its own listings (``batchId`` there is a source
    log id); query batch ``N`` read every listing up to the ``logOffset``
    in ``offsets/N``. No-data batches (watermark advances) read none."""
    listed: dict[str, int] = {}
    for _i, path in _batch_files(checkpoint / "sources" / "0"):
        for e in _entries(path):
            listed.setdefault(_local(e["path"]), int(e["batchId"]))
    upto = []
    for batch, path in _batch_files(checkpoint / "offsets"):
        lines = path.read_text().splitlines()
        upto.append((json.loads(lines[2])["logOffset"], batch))
    upto.sort()
    out = {}
    for f, log_id in listed.items():
        batch = next((b for off, b in upto if off >= log_id), None)
        if batch is not None:
            out[f] = batch
    return out


def commit_times(checkpoint: Path) -> dict[int, float]:
    """Committed batch -> wall-clock commit time (the commit file's mtime)."""
    return {b: p.stat().st_mtime for b, p in _batch_files(checkpoint / "commits")}


def drained(checkpoint: Path, chunks: list[Path]) -> bool:
    """True once every chunk was admitted by a batch that has committed."""
    admitted = source_files(checkpoint)
    commits = commit_times(checkpoint)
    return all(
        str(c) in admitted and admitted[str(c)] in commits for c in chunks
    )
