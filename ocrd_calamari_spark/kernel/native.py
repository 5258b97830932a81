"""Loader of the compiled segmenter (``kernel/_segment.c``) through ctypes.

``load()`` compiles ``_segment.c`` once per hash of its source and of
the compiler flags (``CFLAGS``: ``cc -O2 -shared -fPIC``) and returns a
``Segmenter``, or None when there is no compiler or the build or the
load fails; the columnar kernel then segments in Python instead
(``segment.segment``).  Only ``kernel/columnar.py`` calls the library:
one ``segment_batch`` call per Arrow batch.  The scalar oracle (``extract_page``)
segments in Python, so every oracle comparison checks the C pass against
an independent implementation.  The library is cached as
``_segment-<hash>-<machine>.so``: in
``kernel/__pycache__/`` when the package is a writable directory, else
(inside a ``--py-files`` zip, or a read-only install) in a per-user
directory under ``tempfile.gettempdir()``.
The build writes a unique temporary name and ``os.replace``s it, so
concurrent workers never load a half-written file, then removes this
machine's libraries of earlier sources from that directory.  The first
run after a source change pays one compile; ``pipeline.extract_df`` calls
``load()`` on the driver so that local workers find a warm cache.

The C side never writes past the buffers this module sizes from the
pages (the count of ``"<"`` bounds tags, blocks, stack depth and chunks);
a page that overflows them is left to the Python segmenter.
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

import numpy as np

_SOURCE = "_segment.c"
# part of the library's cache key: a change here builds a new library
CFLAGS = ("-O2", "-shared", "-fPIC")
_CODEC = "utf-32-le" if sys.byteorder == "little" else "utf-32-be"
# pages whose buffer would exceed this many int32s (128 MB; about 1.8 M
# "<") are left to the Python segmenter
_MAX_INTS = 1 << 25
_MAX_LEN = (1 << 31) - 1
F_ANCHOR, F_AMP = 1, 2  # chunk and block flags (_segment.c)
F_SURR = 8  # a batch row whose text holds a lone surrogate (_segment.c)
# ocs_segment_batch's row columns (its R_* order), amp record width and
# page statuses
ROW_COLS = ("page", "tag", "depth", "n_tags", "vis", "link", "punct",
            "flags")
ROW = len(ROW_COLS)
AMP_REC = 4
P_OK, P_BINARY, P_PYTHON = 0, 1, 2


class Segmenter:
    """The loaded library: ``segment_batch`` segments the pages of a batch
    into block columns."""

    def __init__(self, lib: ctypes.CDLL, tag_class: dict):
        for name, restype in (("ocs_init", ctypes.c_int),
                              ("ocs_ints_per_tag", ctypes.c_int),
                              ("ocs_tag_count", ctypes.c_int),
                              ("ocs_tag_name", ctypes.c_char_p),
                              ("ocs_tag_class", ctypes.c_int)):
            getattr(lib, name).restype = restype
        lib.ocs_init.argtypes = lib.ocs_ints_per_tag.argtypes = ()
        lib.ocs_tag_count.argtypes = ()
        lib.ocs_tag_name.argtypes = lib.ocs_tag_class.argtypes = (ctypes.c_int,)
        ptr, i32, i64 = ctypes.c_void_p, ctypes.c_int32, ctypes.c_int64
        for name, restype, argtypes in (
                ("ocs_segment_batch", ctypes.c_int,
                 (ctypes.c_char_p, ptr, ptr, i32, ctypes.c_double, ptr, i64,
                  ptr, ptr, i64, ptr, i64, ptr, i64, ptr, ptr)),
                ("ocs_batch_row_ints", ctypes.c_int, ())):
            getattr(lib, name).restype = restype
            getattr(lib, name).argtypes = argtypes
        if lib.ocs_batch_row_ints() != ROW:
            raise ValueError("_segment.c batch row layout differs")
        self._lib = lib
        if lib.ocs_init() != 0:
            raise ValueError("_segment.c rejected its own tag table")
        table = [(lib.ocs_tag_name(i).decode(), lib.ocs_tag_class(i))
                 for i in range(lib.ocs_tag_count())]
        if dict(table) != tag_class or len(table) != len(tag_class):
            raise ValueError("_segment.c tag table differs from _TAG_CLASS")
        self.tags = tuple(name for name, _ in table)
        self._per_tag = lib.ocs_ints_per_tag()

    def segment_batch(self, pages: list, ctrl_limit: float):
        """Segment every page of ``pages`` in one call (``ocs_segment_batch``).

        Returns (rows, toff, text, amp, status) as numpy arrays: ``rows``
        (k, ROW) int32 block columns, ``toff`` (k + 1) int64 text offsets,
        ``text`` the "\\n"-terminated normalized texts as uint32
        codepoints, ``amp`` (m, AMP_REC) int32 chunk records of the blocks
        with "&", and ``status`` one P_* per page; or None when the call
        fails as a whole.  A page whose head holds more than the fraction
        ``ctrl_limit`` of control chars is P_BINARY
        (``extract._looks_binary``'s test).  The buffers are sized from
        the batch: k is at most the count of "<", the text at most the
        codepoints plus k."""
        n = len(pages)
        lens = np.fromiter(map(len, pages), np.int64, n)
        caps = np.fromiter((p.count("<") for p in pages), np.int64, n)
        per_page = self._per_tag * (caps + 1)
        caps[(per_page > _MAX_INTS) | (lens > _MAX_LEN)] = -1
        ok = caps >= 0
        rows_cap = int(caps[ok].sum())
        page_off = np.zeros(n + 1, np.int64)
        np.cumsum(lens, out=page_off[1:])
        data = "".join(pages).encode(_CODEC, "surrogatepass")
        try:
            scratch = np.empty(int(per_page[ok].max()) if ok.any() else 0,
                               np.int32)
            rows = np.empty((rows_cap, ROW), np.int32)
            toff = np.empty(rows_cap + 1, np.int64)
            text = np.empty(int(page_off[-1]) + rows_cap, np.uint32)
            amp = np.empty((rows_cap + int(ok.sum()), AMP_REC), np.int32)
        except MemoryError:
            return None
        caps32 = caps.astype(np.int32)
        status = np.empty(n, np.int8)
        counts = np.zeros(3, np.int64)
        rc = self._lib.ocs_segment_batch(
            data, page_off.ctypes.data, caps32.ctypes.data, n, ctrl_limit,
            scratch.ctypes.data, len(scratch), rows.ctypes.data,
            toff.ctypes.data, rows_cap, text.ctypes.data, len(text),
            amp.ctypes.data, len(amp), status.ctypes.data, counts.ctypes.data)
        if rc != 0:
            return None
        k, used, m = counts.tolist()
        return rows[:k], toff[:k + 1], text[:used], amp[:m], status


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
    digest = hashlib.sha256(src + "\0".join(("",) + CFLAGS).encode()
                            ).hexdigest()[:16]
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
        subprocess.run([cc, *CFLAGS, "-o", so_path, c_path],
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
