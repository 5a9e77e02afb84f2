"""The one commit protocol of every versioned state directory: the
snapshot store, the streaming sketch sinks and the z-table.

    root/
      _VERSION              <- the committed version N, a bare integer
      _manifest_v<N>.json   <- version N's metadata, a JSON object
      v<N>/                 <- version N's data
      _LOCK                 <- the writer lock

commit(N, manifest) replaces the manifest atomically (write_atomic:
tmp + rename), then flips ``_VERSION`` the same way: the versioned
state-store commit of Structured Streaming. A writer killed before the
flip leaves an uncommitted ``v<N>/``, an orphan manifest or a
``_VERSION.*.tmp`` (the next write of ``_VERSION`` removes it).
Readers see none of them, and the next commit of N replaces them;
``writer()`` empties ``v<N>/`` before the next writer builds N there.

One writer per state, as Structured Streaming's state store and
Databus's partition ownership both require. Every writer runs inside
``writer()``, which holds an exclusive flock on ``root/_LOCK`` from
reading the current version to the commit; ``vacuum`` takes the same
lock. A second writer, in another process or another thread, WAITS
for the lock and then builds on the version the first one committed.
The flock belongs to an open file, so a thread that takes the lock of
a root it already holds waits for itself forever: take it once per
public call, never from inside another writer of the same root. A
writer killed while holding it releases it with its process.

Readers take no lock, and nothing protects them from ``vacuum``: a
frame built over version N lists ``v<N>/``'s files when it is built,
so it must be evaluated before a ``vacuum`` that drops N (after
``keep_last`` later commits), or be built again from a newer version.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import os
import shutil
import threading


def write_atomic(path: str, text: str) -> None:
    """Replace the small file at ``path`` in one step: a reader sees the
    old text or the new, never a torn write. The temp file is named per
    writer (pid and thread), so concurrent writers of one path never
    write into each other's temp file; the last rename wins. A writer
    that fails removes its temp file; one killed midway leaves it, and
    the next write of ``path`` removes it once that pid is gone."""
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    try:
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise
    for left in glob.glob(glob.escape(path) + ".*.*.tmp"):
        pid = left[len(path) + 1 :].split(".")[0]
        if pid.isdigit() and not _alive(int(pid)):
            with contextlib.suppress(FileNotFoundError):
                os.remove(left)


@contextlib.contextmanager
def exclusive(path: str):
    """Hold an exclusive flock on the file at ``path``, waiting for any
    holder to release it: the one cross-process lock of the package.
    Closing the file releases it, also when the holder is killed."""
    with open(path, "a") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        yield


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's live process
        pass
    return True


class VersionedState:
    def __init__(self, root: str) -> None:
        self.root = root
        self.lock_path = os.path.join(root, "_LOCK")
        os.makedirs(root, exist_ok=True)

    @contextlib.contextmanager
    def writer(self):
        """The only way to write this state: under the writer lock,
        yields the committed version ``cur`` and the directory of
        ``cur + 1`` to build it in, which the caller commits (or not)
        before the block ends. What a killed writer left there is
        removed first: writing next to it would duplicate rows."""
        with exclusive(self.lock_path):
            cur = self.current()
            shutil.rmtree(self.dir(cur + 1), ignore_errors=True)
            yield cur, self.dir(cur + 1)

    def current(self) -> int:
        """The committed version; 0 before the first commit."""
        try:
            with open(os.path.join(self.root, "_VERSION")) as f:
                return int(f.read())
        except FileNotFoundError:
            return 0

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"_manifest_v{version}.json")

    def manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def dir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}")

    def commit(self, version: int, manifest: dict) -> None:
        write_atomic(self._manifest_path(version), json.dumps(manifest))
        write_atomic(os.path.join(self.root, "_VERSION"), str(version))

    def versions(self) -> list[int]:
        """Committed versions whose data is retained, oldest first."""
        cur = self.current()
        return sorted(
            v
            for e in os.listdir(self.root)
            if e.startswith("v") and e[1:].isdigit() and (v := int(e[1:])) <= cur
        )

    def vacuum(self, keep_last: int) -> None:
        """Drop every version but the last keep_last committed ones. The
        manifest goes first, so a vacuum killed midway leaves a data
        directory the next vacuum still finds. Runs under the writer
        lock."""
        with exclusive(self.lock_path):
            cutoff = self.current() - keep_last
            for v in self.versions():
                if v <= cutoff:
                    if os.path.exists(self._manifest_path(v)):
                        os.remove(self._manifest_path(v))
                    shutil.rmtree(self.dir(v), ignore_errors=True)
