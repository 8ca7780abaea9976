"""Helpers shared by the workloads."""

from __future__ import annotations

import os


class Op:
    """One timed operation: what to run, its outcome and its duration."""

    __slots__ = ("kind", "args", "result", "expect", "ok", "error", "seconds")

    def __init__(self, kind: str, args, expect=None):
        self.kind = kind
        self.args = args
        self.result = None
        self.expect = expect
        self.ok = True
        self.error = None
        self.seconds = 0.0

    def fail(self, why: str) -> None:
        self.ok, self.error = False, why


def dir_bytes(path: str) -> tuple[int, int]:
    """(data bytes, metadata bytes) under a versioned table directory:
    everything below ``data/`` is data, the rest is metadata."""
    data = meta = 0
    for dirpath, _, files in os.walk(path):
        size = sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        if os.path.relpath(dirpath, path).split(os.sep)[0] == "data":
            data += size
        else:
            meta += size
    return data, meta
