"""Worker-process allocator tuning for the Arrow/numpy hot path.

Retention is scoped to the workers that call :func:`retain_malloc`:
retaining every freed page in all workers interacts badly with THP —
long-lived workers accumulate huge dirty arenas that khugepaged keeps
collapsing/splitting, and repeated builds in one JVM degraded
monotonically (42 s → 155 s by build 3 at 8 cores).
"""

from __future__ import annotations

_malloc_retained = False


def retain_malloc() -> None:
    """Keep freed pages and serve large allocations from the retained
    glibc arena (ctypes ``mallopt``) in the calling worker; idempotent.

    This host intermittently stalls ~0.75 s on FRESH large mmaps (THP
    madvise policy + khugepaged compaction; measured: 2/30 fresh 6 MB
    numpy allocations stall, zero major faults). Large-array UDFs that
    allocate per task (the batched-search collector) call this once so
    glibc serves big allocations from the retained brk arena instead
    of a fresh mmap per temporary. Deliberately NOT enabled for the
    index-build workers: retention across repeated builds was the
    round-1 monotonic-degradation cause (see module docstring)."""
    global _malloc_retained
    if _malloc_retained:
        return
    _malloc_retained = True
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_TRIM_THRESHOLD, M_MMAP_THRESHOLD = -1, -3
        libc.mallopt(M_TRIM_THRESHOLD, ctypes.c_int(1 << 30))
        libc.mallopt(M_MMAP_THRESHOLD, ctypes.c_int(1 << 30))
    except Exception:  # pragma: no cover - non-glibc platforms
        pass
    try:
        # route Arrow batch buffers through the SAME retained glibc
        # arena — pyarrow's default jemalloc pool mmaps fresh regions
        # per batch and pays the identical stall
        import pyarrow as pa

        pa.set_memory_pool(pa.system_memory_pool())
    except Exception:  # pragma: no cover
        pass
