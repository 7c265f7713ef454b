"""Pure-numpy recognition kernel.

This package re-implements the reference's per-image pipeline
(/root/reference/src/model/ocr_model.py and
/root/reference/src/services/{table_ocr_service,enhanced_table_ocr_service}.py)
with zero native-CV dependencies: a fixed 5x7 glyph atlas plays the role of
the OCR engine's character classifier, images render/recognize
deterministically, and the "CNN+CTC greedy decode" stage becomes a
template-correlation logit matrix + per-segment greedy argmax.

The kernel is deliberately NOT Spark-aware: everything takes/returns numpy
or plain Python values so it can run (a) standalone to freeze golden
fixtures, and (b) inside Arrow-batched pandas UDFs on executors
(extraction/udfs.py), which is the only place Spark touches it.
"""

def _tune_allocator() -> None:
    """Raise glibc malloc's mmap threshold for every process that loads
    the kernel (driver, bench workers, Spark's Arrow-UDF python workers).

    numpy buffers above the default 128 KiB threshold are serviced by
    mmap/munmap PER ALLOCATION; each munmap is a TLB shootdown and each
    fresh mmap returns zero-fill pages, so the page-fault + zeroing cost
    is paid again on every image. One worker barely notices; many packed
    workers contend on those kernel-side operations and per-worker
    throughput drops (measured ~7% aggregate win at 8 workers from this
    alone; the 1->4 raw-kernel ceiling in BENCH/BASELINE.md tracks the
    packing on a 4-CPU host). Raising
    the threshold keeps image-sized buffers on the reusable sbrk heap.
    No-op on non-glibc platforms; results are unaffected either way."""
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(-3, 16 * 1024 * 1024)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, 32 * 1024 * 1024)  # M_TRIM_THRESHOLD
    except Exception:
        pass


_tune_allocator()

from ocr_text_recognition_spark.kernel.font import GLYPHS, glyph_atlas
from ocr_text_recognition_spark.kernel.imgcodec import decode_image, encode_image
