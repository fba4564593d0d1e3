"""The engine's metadata sidecars: small JSON records beside the data
they describe (index statistics, the positions bucket count, per-file
doc-id spans, the generation manifest, the ANN meta and its ingested
file list), written and read through this one module on `pyarrow.fs`.

Every record carries `format_version`. It names the whole on-disk
layout — data files and sidecars together — so a reader either serves
a layout it knows or refuses it, and never guesses from missing
fields. Bump it whenever any layout or derivation rule changes (for
instance the postings bucket or positions `pb` hash rule), together
with `operators/engine_queries._INDEX_VERSION`, the key of the harness
fixtures cached in the temp dir.

A write goes to a dot-prefixed temp file in the same directory and is
then moved over the target, so a reader sees the old record or the
new one, never a torn one; Spark's and pyarrow's dataset listings skip
both dot- and underscore-prefixed names.
"""

from __future__ import annotations

import json
import os
import posixpath

import pyarrow.fs as pafs

FORMAT_VERSION = 1


class SidecarError(ValueError):
    """A sidecar that cannot be served: unparsable, written under
    another format version, or absent where the layout requires it."""


def _filesystem(path: str) -> tuple[pafs.FileSystem, str]:
    """(filesystem, path inside it): a URI opens its scheme's
    filesystem, a plain path the local one."""
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _version_error(path: str, found) -> SidecarError:
    return SidecarError(
        f"{path}: on-disk format version {found!r}, expected "
        f"{FORMAT_VERSION}; rebuild it with this version of the engine"
    )


def write_json(path: str, record: dict) -> None:
    """Atomically replace `path` with `record`, stamped with the format
    version."""
    fs, p = _filesystem(path)
    parent, name = posixpath.split(p)
    fs.create_dir(parent, recursive=True)
    tmp = f"{parent}/.{name}.tmp"
    with fs.open_output_stream(tmp) as out:
        out.write(json.dumps({"format_version": FORMAT_VERSION, **record}).encode())
    fs.move(tmp, p)


def read_json(path: str) -> dict | None:
    """The record at `path`; None only when the file is absent. Raises
    SidecarError, naming the path, when it cannot be parsed or carries
    another format version."""
    fs, p = _filesystem(path)
    try:
        with fs.open_input_stream(p) as fh:
            raw = fh.read()
    except (FileNotFoundError, NotADirectoryError):  # no such file
        return None
    try:
        record = json.loads(raw)
    except ValueError as e:
        raise SidecarError(f"{path}: unparsable sidecar ({e})") from e
    found = record.get("format_version") if isinstance(record, dict) else None
    if found != FORMAT_VERSION:
        raise _version_error(path, found)
    return record


def require_json(path: str) -> dict:
    """`read_json` for a record the layout must have: an absent one is
    refused like an unstamped one."""
    record = read_json(path)
    if record is None:
        raise _version_error(path, None)
    return record


def read_json_dir(dir_path: str) -> list[dict]:
    """Every `*.json` record directly in `dir_path`, by file name; a
    writer's in-flight temp file is not one. Empty when the directory
    is absent."""
    fs, p = _filesystem(dir_path)
    infos = fs.get_file_info(pafs.FileSelector(p, allow_not_found=True))
    names = sorted(
        i.base_name for i in infos
        if i.type == pafs.FileType.File
        and i.base_name.endswith(".json") and not i.base_name.startswith(".")
    )
    return [read_json(f"{dir_path}/{n}") for n in names]
