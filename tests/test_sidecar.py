"""The metadata sidecar helper and the on-disk format version: records
round-trip identically on the local filesystem and through other
`pyarrow.fs` filesystems, a missing file reads as None, a corrupt one
raises naming its path, a crashed writer's temp file is never a
record, and an index, a generation root or an ANN index without the
format stamp is refused by its reader."""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pyarrow.fs as pafs
import pytest

from theoremsearch_spark import sidecar
from theoremsearch_spark.sidecar import FORMAT_VERSION, SidecarError
from theoremsearch_spark.streaming.incremental import (
    _next_free_doc_id,
    _raw_generations,
    commit_generation,
)


def _exercise(root: str) -> tuple:
    """Write and read back a record, commit two generations beside a
    crashed writer's temp file, and read the root's manifest."""
    rec = {"avgdl": 0.1 + 0.2, "n_docs": 3, "cols": ["lang"], "nested": {"a": [1.5e-300]}}
    sidecar.write_json(f"{root}/idx/meta.json", rec)
    back = sidecar.read_json(f"{root}/idx/meta.json")
    commit_generation(f"{root}/gens_root", 0, 0, 10)
    commit_generation(f"{root}/gens_root", 1, 10, 5, filter_cols=["lang"])
    fs, p = sidecar._filesystem(f"{root}/gens_root/gens/.gen_3.json.tmp")
    with fs.open_output_stream(p) as out:  # a writer that crashed mid-write
        out.write(b'{"gen": 3, "base"')
    return (
        back,
        sidecar.read_json(f"{root}/idx/absent.json"),
        _raw_generations(f"{root}/gens_root"),
        _next_free_doc_id(f"{root}/gens_root"),
        sidecar.read_json_dir(f"{root}/no_such_dir"),
    )


def test_round_trip_identical_across_filesystems(tmp_path, monkeypatch):
    local = _exercise(str(tmp_path / "local"))
    assert local[0]["avgdl"] == 0.1 + 0.2  # float64 round-trips exactly
    assert local[0]["format_version"] == FORMAT_VERSION
    assert local[1] is None
    assert [g["gen"] for g in local[2]] == [0, 1] and local[3] == 15
    assert local[4] == []

    sub_root = tmp_path / "subtree"
    sub_root.mkdir()
    subtree = pafs.SubTreeFileSystem(str(sub_root), pafs.LocalFileSystem())
    monkeypatch.setattr(sidecar, "_filesystem", lambda path: (subtree, path.lstrip("/")))
    assert _exercise("/r") == local
    assert (sub_root / "r" / "gens_root" / "gens" / "gen_1.json").is_file()

    mock = pafs._MockFileSystem()
    monkeypatch.setattr(sidecar, "_filesystem", lambda path: (mock, path.lstrip("/")))
    assert _exercise("/r") == local


def test_missing_corrupt_and_stale_temp(tmp_path):
    p = str(tmp_path / "m.json")
    assert sidecar.read_json(p) is None
    (tmp_path / "table.parquet").write_bytes(b"PAR1")  # a docs "dir" that is one file
    assert sidecar.read_json(str(tmp_path / "table.parquet" / "_id_ranges.json")) is None
    with open(p, "w") as fh:
        fh.write('{"format_version": 1, "n_docs": ')
    with pytest.raises(SidecarError, match=re.escape(p)):
        sidecar.read_json(p)

    root = str(tmp_path / "root")
    commit_generation(root, 0, 0, 10)
    stale = f"{root}/gens/.gen_1.json.tmp"
    with open(stale, "w") as fh:
        fh.write("{torn")
    assert [g["gen"] for g in _raw_generations(root)] == [0]
    commit_generation(root, 1, 10, 4)
    assert not os.path.exists(stale)  # the next write replaced it
    assert [g["gen"] for g in _raw_generations(root)] == [0, 1]


def _unstamp(path: str) -> str:
    with open(path) as fh:
        rec = json.load(fh)
    del rec["format_version"]
    with open(path, "w") as fh:
        json.dump(rec, fh)
    return re.escape(
        f"{path}: on-disk format version None, expected {FORMAT_VERSION}; rebuild"
    )


def test_unstamped_layouts_are_refused(spark, index_dir, tmp_path):
    import shutil

    from theoremsearch_spark.corpus import generate_vectors
    from theoremsearch_spark.functions.similarity import ann_ivf_search, build_ann_index
    from theoremsearch_spark.query import topk
    from theoremsearch_spark.streaming.incremental import topk_all_generations

    qs = pd.DataFrame({"query_id": [0], "query_text": ["the w00010"]})

    idx = str(tmp_path / "index")
    shutil.copytree(f"{index_dir}/index", idx)
    assert len(topk(spark, idx, qs, 5).toPandas()) == 5
    with pytest.raises(ValueError, match=_unstamp(f"{idx}/index_meta.json")):
        topk(spark, idx, qs, 5)

    root = str(tmp_path / "root")
    os.makedirs(f"{root}/gen_0")
    os.symlink(idx, f"{root}/gen_0/index")
    commit_generation(root, 0, 0, 2000)
    with pytest.raises(ValueError, match=_unstamp(f"{root}/gens/gen_0.json")):
        topk_all_generations(spark, root, qs, k=5)

    ann = str(tmp_path / "ann")
    build_ann_index(generate_vectors(spark, 200, partitions=2), ann, n_centroids=4)
    qv = pd.DataFrame({"query_id": [0], "qvec": [[1.0] + [0.0] * 31]})
    with pytest.raises(ValueError, match=_unstamp(f"{ann}/ivf_meta.json")):
        ann_ivf_search(spark, ann, qv, k=3)
