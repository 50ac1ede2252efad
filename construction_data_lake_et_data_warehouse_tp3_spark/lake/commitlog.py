"""The lake's one commit log: how a write gets a number, how it becomes
visible, and how a whole directory is replaced. Its three users are the
per-feed versions of `lake/writer.py` (`<feed>/_commit_log/vN.claim` →
`vN.commit`, data in `version=vN/`), the multi-table transactions of
`lake/transaction.py` (`_txn_log/N.claim` → manifest `N.json`), and the
directory swaps of `ParquetTable.overwrite` and `compact_partition`.

- claim: the first writer to create `<prefix>N.claim` with O_EXCL owns N;
  a loser probes N+1, N+2, ... This always ends — every lost race means
  a higher number is taken — so there is no retry bound.
- publish: the record goes to a dot-prefixed temp file, then os.rename
  makes `<prefix>N<suffix>` appear whole. A claim with no record (a
  crashed or in-flight writer) is never visible.
- resolve: readers list published numbers only.

On an object store, swap open('x') and os.rename for its put-if-absent.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid


def numbered(directory: str, prefix: str, suffix: str = "") -> dict[int, str]:
    """{N: path} for every entry named `<prefix>N<suffix>` in `directory`
    (files or dirs; none when the directory does not exist)."""
    try:
        names = os.listdir(directory)
    except FileNotFoundError:
        return {}
    out = {}
    for name in names:
        if name.startswith(prefix) and name.endswith(suffix):
            stem = name[len(prefix) : len(name) - len(suffix)]
            if stem.isdigit():
                out[int(stem)] = os.path.join(directory, name)
    return out


class CommitLog:
    """Numbered `.claim` files and their published `<suffix>` records."""

    def __init__(self, directory: str, prefix: str, suffix: str):
        self.directory = directory
        self.prefix = prefix
        self.suffix = suffix

    def _path(self, n: int, suffix: str) -> str:
        return os.path.join(self.directory, f"{self.prefix}{n}{suffix}")

    def claims(self) -> set[int]:
        return set(numbered(self.directory, self.prefix, ".claim"))

    def published(self) -> list[int]:
        return sorted(numbered(self.directory, self.prefix, self.suffix))

    def claim(self, token: str, floor: int = 0) -> int:
        """Own the lowest number above every claim, every record and
        `floor`; `token` is the claim file's content."""
        os.makedirs(self.directory, exist_ok=True)
        n = max(self.claims().union(self.published(), [floor])) + 1
        while True:
            try:
                with open(self._path(n, ".claim"), "x") as fh:
                    fh.write(token)
                return n
            except FileExistsError:
                n += 1

    def publish(self, n: int, record: dict) -> None:
        tmp = os.path.join(self.directory, f".{self.prefix}{n}{self.suffix}.tmp")
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.rename(tmp, self._path(n, self.suffix))

    def record(self, n: int) -> dict:
        with open(self._path(n, self.suffix)) as fh:
            return json.load(fh)

    def remove(self, n: int) -> None:
        """Drop N's claim and record (retention of old entries)."""
        for suffix in (self.suffix, ".claim"):
            if os.path.exists(self._path(n, suffix)):
                os.remove(self._path(n, suffix))


def swap_dir(path: str, staged: str) -> None:
    """Replace directory `path` (if any) with the fully written `staged`
    directory: rename `path` aside to `<path>__old_<id>`, rename `staged`
    into place, delete the old one. These are two renames, not one —
    between them `path` is absent, and a reader listing it then fails."""
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(staged, path)
    if os.path.isdir(old):
        shutil.rmtree(old)
