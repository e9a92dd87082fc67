"""tools/bench_stream.py drain-completeness check on a checkpoint's file
source commit log."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_stream():
    spec = importlib.util.spec_from_file_location(
        "bench_stream", os.path.join(REPO, "tools", "bench_stream.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _log(path, entries):
    with open(path, "w") as fh:
        fh.write("v1\n")
        for p in entries:
            fh.write(json.dumps({"path": p, "timestamp": 1, "batchId": 0}) + "\n")


def test_drain_check_skips_binary_crc_side_files(tmp_path):
    """Hadoop's checksummed file system writes a binary ``.<N>.crc`` next
    to every commit-log entry; the check must read only the entries."""
    src = tmp_path / "ckpt" / "sources" / "0"
    src.mkdir(parents=True)
    _log(src / "0", ["file:///in/part-0.json", "file:///in/part-1.json"])
    _log(src / "1", ["file:///in/part-2.json"])
    # CRC header, then checksum bytes that are not valid UTF-8
    (src / ".0.crc").write_bytes(b"crc\x00\x00\x00\x02\x00\xff\xfe\x9c\x81")
    (src / ".1.crc").write_bytes(b"crc\x00\x00\x00\x02\x00\xc3\x28\xa0\xa1")

    mod = _bench_stream()
    assert mod._assert_drain_complete(str(tmp_path / "ckpt"), 3) == 3
    with pytest.raises(RuntimeError, match="drain incomplete"):
        mod._assert_drain_complete(str(tmp_path / "ckpt"), 4)
