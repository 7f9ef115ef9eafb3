"""Seeded benchmark inputs and their ground truth.

Every table is a pure function of (seed, row index), so one seed gives the
same rows whatever the partitioning, and the truth is computed from indices
alone without generating a single image.

Images come from the program's own generator, ``sources.images.generate_batch``,
which plants one near-dup triple per seven consecutive indices. The seed moves
the index window by a multiple of seven, so every triple stays whole, and a
seeded hash picks a ~2% "hot" slice whose captions are replaced by one shared
boilerplate caption (memes, stock watermarks). The hot slice gives connected
components one large group to iterate on and pushes LSH buckets past
``bucket_pair_cap``; planted groups of three never get there.

The hot slice is drawn from all rows. The truth is the planted triples, with
every triple that holds a hot row merged into the hot group, except for one
case the generator's evidence does not decide. A triple's third member is a
resized copy of its base whose caption differs by one token, and the second
member keeps the base caption verbatim; the caption is that copy's planted
link to its triple. When the slice gives the resized copy the boilerplate
caption and leaves both other members their own, or the reverse, no member it
is compared with shares its caption any more, and what is left is a resized
image under an unrelated caption. Whether that pair is a duplicate is the
verify rule's policy (image hashes alone must pass two votes, or one within
``strong_image_dist``), not something the generator planted, so the benchmark
does not score it: pairs across the split (the resized copy's side and the
rest of its triple, one of which is in the hot group) count neither as missed
nor as false, and ``dup_pair_scores`` reports how many there were and how
many the pipeline linked.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lmw_tree_spark.sources.images import IMAGES_SCHEMA, base_index, generate_batch

GROUP_STRIDE = 7          # generate_batch plants one triple per 7 indices
WINDOW = GROUP_STRIDE * 10_000
HOT_PER_MILLE = 20        # ~2% of all rows
BOILERPLATE = (
    "stock preview watermark licensed image do not redistribute "
    "visit our catalogue for the full resolution original"
)

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def mix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer over a uint64 array (wrapping arithmetic)."""
    x = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = x + _GOLDEN
        x = (x ^ (x >> np.uint64(30))) * _M1
        x = (x ^ (x >> np.uint64(27))) * _M2
    return x ^ (x >> np.uint64(31))


def _salt(seed: int, stream: int) -> np.uint64:
    return mix64(np.array([seed * 1_000_003 + stream], dtype=np.uint64))[0]


def index_offset(seed: int) -> int:
    """First generator index for ``seed``: a multiple of 7, one window per seed."""
    return WINDOW * (seed % 100_000)


def hot_mask(indices: np.ndarray, seed: int) -> np.ndarray:
    idx = np.asarray(indices, dtype=np.uint64)
    h = mix64(idx ^ _salt(seed, 1))
    return (h % np.uint64(1000)) < np.uint64(HOT_PER_MILLE)


def image_batch(indices: np.ndarray, seed: int) -> pd.DataFrame:
    """generate_batch rows for ``indices`` with the seed's hot captions applied."""
    pdf = generate_batch(indices)
    pdf.loc[hot_mask(indices, seed), "caption"] = BOILERPLATE
    return pdf


def image_table(spark, n: int, seed: int, partitions: int):
    """Distributed, lazily generated image table of ``n`` rows (n % 7 == 0)."""
    if n % GROUP_STRIDE:
        raise ValueError(f"image count must be a multiple of {GROUP_STRIDE}, got {n}")
    lo = index_offset(seed)

    def gen(batches):
        for b in batches:
            yield image_batch(b["id"].to_numpy(), seed)

    return spark.range(lo, lo + n, 1, partitions).mapInPandas(gen, IMAGES_SCHEMA)


def image_ids(indices: np.ndarray) -> np.ndarray:
    return np.array([f"img{int(i):010d}" for i in indices], dtype=object)


def _merge_hot(label: np.ndarray, hot: np.ndarray) -> np.ndarray:
    """Every group that holds a hot row joins one hot group."""
    label = label.copy()
    hot_labels = np.unique(label[hot])
    if len(hot_labels):
        label[np.isin(label, hot_labels)] = hot_labels.min()
    return label


def truth_groups(n: int, seed: int) -> pd.DataFrame:
    """(image_id, truth, link) for the seed's image table.

    ``link`` is the planted triples with every triple that holds a hot row
    merged into the hot group. ``truth`` refines it: a resized copy whose
    caption is hot while both other members' are not, or the reverse, is split
    from the rest of its triple (see the module docstring). Pairs in one
    ``truth`` group are duplicates, pairs in different ``link`` groups are not,
    and pairs in one ``link`` group but different ``truth`` groups are
    unscored."""
    idx = np.arange(index_offset(seed), index_offset(seed) + n, dtype=np.int64)
    base = np.array([base_index(int(i)) for i in idx], dtype=np.int64)
    hot = hot_mask(idx, seed)
    resized = np.flatnonzero(idx - base == 2)  # its base and second member sit just before it
    split = resized[(hot[resized] != hot[resized - 2]) & (hot[resized] != hot[resized - 1])]
    truth = base.copy()
    truth[split] = idx[split]
    return pd.DataFrame({
        "image_id": image_ids(idx),
        "truth": _merge_hot(truth, hot),
        "link": _merge_hot(base, hot),
    })


def _pairs(frame: pd.DataFrame, by: list[str]) -> int:
    """Same-group pairs, counted from group sizes (n choose 2), never enumerated,
    so a group of hundreds costs nothing extra."""
    s = frame.groupby(by).size().to_numpy(dtype=np.int64)
    return int((s * (s - 1) // 2).sum())


def dup_pair_scores(pred: pd.Series, truth: pd.Series, link: pd.Series | None = None) -> dict:
    """Recall and precision of same-group pairs in ``pred`` against ``truth``,
    leaving out pairs in one ``link`` group but different ``truth`` groups;
    also how many such unscored pairs there are and how many ``pred`` links."""
    both = pd.DataFrame({
        "p": pred.to_numpy(),
        "t": truth.to_numpy(),
        "l": (truth if link is None else link).to_numpy(),
    })
    hit = _pairs(both, ["p", "t"])
    unscored_linked = _pairs(both, ["p", "l"]) - hit
    return {
        "recall": hit / max(_pairs(both, ["t"]), 1),
        "precision": hit / max(_pairs(both, ["p"]) - unscored_linked, 1),
        "unscored_pairs": _pairs(both, ["l"]) - _pairs(both, ["t"]),
        "unscored_linked": unscored_linked,
    }
