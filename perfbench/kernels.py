"""Spark-free costs of the NumPy kernels, in ms per 1k rows.

Each kernel runs on one ``generate_batch`` batch in this process, with the
BLAS thread count the Spark workers get. The figure is the median of
``REPEATS`` timed calls after one untimed call.
"""

from __future__ import annotations

import ctypes
import os
import statistics
import time

import pandas as pd

REPEATS = 2


def _median_s(fn) -> float:
    fn()
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _worker_malloc() -> None:
    """session.get_spark hands the Spark workers glibc malloc thresholds through
    the environment, which this already-running process never read; set the
    same values directly so the kernels allocate as they do in a worker."""
    libc = ctypes.CDLL("libc.so.6")
    for param, var in ((-1, "MALLOC_TRIM_THRESHOLD_"), (-3, "MALLOC_MMAP_THRESHOLD_")):
        if var in os.environ:
            libc.mallopt(param, int(os.environ[var]))


def kernel_costs(batch: pd.DataFrame, cfg) -> dict[str, float]:
    """batch: rows in the images schema; cfg: the PipelineConfig the workload uses."""
    _worker_malloc()
    from lmw_tree_spark.functions.bitops import longs_to_u64
    from lmw_tree_spark.functions.signatures import char_shingle_hashes, minhash_matrix
    from lmw_tree_spark.operators import tree
    from lmw_tree_spark.operators.signature_stage import compute_signature_batch
    from lmw_tree_spark.sources import codecs

    n = len(batch)
    per_1k = 1000.0 / n * 1000.0  # seconds per batch → ms per 1k rows
    data = [bytes(b) for b in batch["bytes"]]
    fmts = list(batch["fmt"])
    pixels = [codecs.decode_image(d, f) for d, f in zip(data, fmts)]
    shingles, mask = char_shingle_hashes(batch["caption"], cfg.shingle_k)
    sigs = longs_to_u64(compute_signature_batch(batch, cfg)["sig"])
    fitted = tree.tsvq_init(sigs, cfg.tree_order, cfg.tree_depth, cfg.tsvq_maxiters, cfg.seed)
    sums, counts, _ = tree.accumulate_leaves(fitted, sigs)

    return {
        "codecs.decode_ms_per_1k": per_1k
        * _median_s(lambda: [codecs.decode_image(d, f) for d, f in zip(data, fmts)]),
        "codecs.luma_resize_ms_per_1k": per_1k
        * _median_s(lambda: [codecs.resize_nn(codecs.luma(p), 32, 32) for p in pixels]),
        "signatures.shingle_ms_per_1k": per_1k
        * _median_s(lambda: char_shingle_hashes(batch["caption"], cfg.shingle_k)),
        "signatures.minhash_ms_per_1k": per_1k
        * _median_s(lambda: minhash_matrix(shingles, mask, cfg.minhash_perms, cfg.minhash_seed)),
        "signature_stage.batch_ms_per_1k": per_1k
        * _median_s(lambda: compute_signature_batch(batch, cfg)),
        "tree.descend_ms_per_1k": per_1k * _median_s(lambda: tree.descend(fitted, sigs)),
        "tree.accumulate_ms_per_1k": per_1k
        * _median_s(lambda: tree.accumulate_leaves(fitted, sigs)),
        "tree.update_tree_ms": 1000.0
        * _median_s(lambda: tree.update_tree(fitted, sums, counts)),
    }

