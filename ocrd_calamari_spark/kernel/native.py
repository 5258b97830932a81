"""Loader of the compiled segmenter (``kernel/_segment.c``) through ctypes.

``load()`` compiles ``_segment.c`` once per source hash with
``cc -O2 -shared -fPIC`` and returns a ``Segmenter``, or None when there
is no compiler or the build or the load fails; ``segment.segment`` then
runs the fused Python loop instead.  The library is cached as
``_segment-<hash>-<machine>.so``: in ``kernel/__pycache__/`` when the
package is a writable directory, else (inside a ``--py-files`` zip, or a
read-only install) in a per-user directory under ``tempfile.gettempdir()``.
The build writes a unique temporary name and ``os.replace``s it, so
concurrent workers never load a half-written file, then removes this
machine's libraries of earlier sources from that directory.  The first
run after a source change pays one compile; ``pipeline.extract_df`` calls
``load()`` on the driver so that local workers find a warm cache.

The C side never writes past the buffer this module sizes from the page
(the count of ``"<"`` bounds tags, blocks, stack depth and chunks); any
error code from it sends the page to the Python segmenter.
"""

from __future__ import annotations

import ctypes
import glob
import hashlib
import os
import pkgutil
import platform
import shutil
import subprocess
import sys
import tempfile
import threading
import warnings

_SOURCE = "_segment.c"
_CODEC = "utf-32-le" if sys.byteorder == "little" else "utf-32-be"
# pages whose buffer would exceed this many int32s (128 MB; about 1.2 M
# "<") are left to the Python segmenter
_MAX_INTS = 1 << 25
# a worker thread keeps its buffer up to this size (256 KB) between pages
_KEEP_INTS = 1 << 16
_MAX_LEN = (1 << 31) - 1
OUT_BLK, OUT_CHK = 9, 3  # int32s per out block / chunk record (_segment.c)
F_ANCHOR, F_AMP, F_WS = 1, 2, 4  # chunk and block flags (_segment.c)
# the head of a page whose control chars ocs_ctrl_count counts: the
# 4,096 codepoints extract._looks_binary reads
CTRL_HEAD = 4096
# what run() returns for a page over its control-char limit
BINARY = "binary"


class Segmenter:
    """The loaded library: ``run(page)`` → (block records, chunk records)
    as flat int lists in _segment.c's out layout, ``BINARY`` for a page
    over its control-char limit, or None when the page is left to
    Python."""

    def __init__(self, lib: ctypes.CDLL, tag_class: dict):
        fn = lib.ocs_segment
        fn.argtypes = (ctypes.c_char_p, ctypes.c_int32, ctypes.c_int32,
                       ctypes.POINTER(ctypes.c_int32), ctypes.c_int64,
                       ctypes.POINTER(ctypes.c_int32))
        fn.restype = ctypes.c_int
        for name, restype in (("ocs_init", ctypes.c_int),
                              ("ocs_ints_per_tag", ctypes.c_int),
                              ("ocs_tag_count", ctypes.c_int),
                              ("ocs_tag_name", ctypes.c_char_p),
                              ("ocs_tag_class", ctypes.c_int)):
            getattr(lib, name).restype = restype
        lib.ocs_init.argtypes = lib.ocs_ints_per_tag.argtypes = ()
        lib.ocs_tag_count.argtypes = ()
        lib.ocs_tag_name.argtypes = lib.ocs_tag_class.argtypes = (ctypes.c_int,)
        lib.ocs_ctrl_count.argtypes = (ctypes.c_char_p, ctypes.c_int32)
        lib.ocs_ctrl_count.restype = ctypes.c_int32
        self._ctrl = lib.ocs_ctrl_count
        if lib.ocs_init() != 0:
            raise ValueError("_segment.c rejected its own tag table")
        table = [(lib.ocs_tag_name(i).decode(), lib.ocs_tag_class(i))
                 for i in range(lib.ocs_tag_count())]
        if dict(table) != tag_class or len(table) != len(tag_class):
            raise ValueError("_segment.c tag table differs from _TAG_CLASS")
        self.tags = tuple(name for name, _ in table)
        self._fn = fn
        self._per_tag = lib.ocs_ints_per_tag()
        self._local = threading.local()

    def _buffers(self, need: int):
        local = self._local
        buf = getattr(local, "buf", None)
        if buf is None:
            buf = local.buf = (ctypes.c_int32 * _KEEP_INTS)()
            local.counts = (ctypes.c_int32 * 2)()
        if need > _KEEP_INTS:
            buf = (ctypes.c_int32 * need)()
        return buf, local.counts

    def run(self, page: str, ctrl_limit: float | None = None):
        """Segment ``page``.  With ``ctrl_limit``, first count the control
        chars of its head in the same codepoint buffer: a page where they
        are more than that fraction of the head is ``BINARY`` and never
        segmented (``extract._looks_binary``'s test)."""
        n = len(page)
        cap = page.count("<")
        need = self._per_tag * (cap + 1)
        if need > _MAX_INTS or n > _MAX_LEN:
            return None
        data = page.encode(_CODEC, "surrogatepass")
        if ctrl_limit is not None and n:
            head = min(n, CTRL_HEAD)
            if self._ctrl(data, head) / head > ctrl_limit:
                return BINARY
        try:
            buf, counts = self._buffers(need)
        except MemoryError:
            return None
        rc = self._fn(data, n, cap, buf, need, counts)
        if rc != 0:
            return None
        nb = OUT_BLK * counts[0]
        return buf[:nb], buf[nb:nb + OUT_CHK * counts[1]]


def _cache_dir() -> str | None:
    here = os.path.dirname(os.path.abspath(__file__))
    if os.path.isdir(here):
        cache = os.path.join(here, "__pycache__")
        try:
            os.makedirs(cache, exist_ok=True)
        except OSError:
            pass
        if os.path.isdir(cache) and os.access(cache, os.W_OK):
            return cache
    # a shared temp dir: only a private directory of this user is trusted
    cache = os.path.join(tempfile.gettempdir(),
                         "ocrd_calamari_spark-%d" % os.getuid())
    os.makedirs(cache, mode=0o700, exist_ok=True)
    st = os.stat(cache)
    if st.st_uid != os.getuid() or st.st_mode & 0o022:
        return None
    return cache


def build() -> str:
    """Path of the compiled library, compiling it if it is not cached."""
    src = pkgutil.get_data(__package__, _SOURCE)
    if src is None:
        raise OSError(f"the package loader cannot read {_SOURCE}")
    digest = hashlib.sha256(src).hexdigest()[:16]
    cache = _cache_dir()
    if cache is None:
        raise OSError("no private cache directory for the segmenter")
    lib = os.path.join(cache, "_segment-%s-%s.so" % (digest, platform.machine()))
    if os.path.exists(lib):
        return lib
    cc = shutil.which("cc")
    if cc is None:
        raise OSError("no C compiler (cc) on PATH")
    fd, c_path = tempfile.mkstemp(suffix=".c", dir=cache)
    with os.fdopen(fd, "wb") as f:
        f.write(src)
    fd, so_path = tempfile.mkstemp(suffix=".so", dir=cache)
    os.close(fd)
    try:
        subprocess.run([cc, "-O2", "-shared", "-fPIC", "-o", so_path, c_path],
                       check=True, capture_output=True, timeout=120)
        os.replace(so_path, lib)
    finally:
        for path in (c_path, so_path):
            if os.path.exists(path):
                os.remove(path)
    # drop this machine's libraries of earlier sources: a process that has
    # one loaded keeps it mapped, and one still on an old source recompiles
    stale = "_segment-%s-%s.so" % ("[0-9a-f]" * 16,
                                    glob.escape(platform.machine()))
    for path in glob.glob(os.path.join(glob.escape(cache), stale)):
        if path != lib:
            try:
                os.remove(path)
            except OSError:  # a concurrent worker removed it first
                pass
    return lib


_UNSET = object()
_state = _UNSET
_lock = threading.Lock()


def load() -> Segmenter | None:
    """The process's ``Segmenter`` (built and loaded on first call), or
    None when it cannot be built or loaded.  The outcome is kept for the
    life of the process, so a failed build is not retried per page."""
    global _state
    if _state is _UNSET:
        with _lock:
            if _state is _UNSET:
                from ocrd_calamari_spark.kernel.segment import _TAG_CLASS

                try:
                    _state = Segmenter(ctypes.CDLL(build()), _TAG_CLASS)
                except (OSError, ValueError, AttributeError,
                        subprocess.SubprocessError) as exc:
                    warnings.warn("compiled segmenter unavailable, pages are "
                                  f"segmented in Python: {exc!r}",
                                  RuntimeWarning, stacklevel=2)
                    _state = None
    return _state
