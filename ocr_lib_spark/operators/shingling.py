"""Vectorized character-shingle kernels (guide §4.2).

The dedup tier's per-batch cost is NOT md5 (a few thousand unique
shingles per batch hash in ~2 ms) but the pure-Python set-comprehension
building shingle sets: measured 0.466 s of a 0.516 s MinHash batch at
sf0.1 went to `{t[i:i+k] ...}` over 1.5 M shingle instances. These
helpers replace that loop with numpy over packed byte windows:

  - each k-char window of an ASCII text packs into one int64
    (little-endian bytes, length tag in the high bits), built with k
    vectorized shifted adds over the text buffer;
  - batch-global dedup is ONE np.unique; per-doc minima are ONE
    np.minimum.reduceat; pair intersections are np.intersect1d on
    sorted unique id arrays.

Exactness: ids are bijective with shingle strings (ASCII <= 7 chars pack
injectively with the length tag; anything else goes through a per-batch
negative-id intern, which can never collide with a packed id), md5 runs
over exactly the same unique shingle STRINGS as before, and a min over
a multiset equals the min over its distinct values — so MinHash
signatures and |∩|/|∪| counts are bit-identical to the Python-set path
(pinned by the existing oracle gates and twin tests). Non-ASCII or
k > 7 inputs take the original set path, row by row.
"""

from __future__ import annotations

import hashlib

import numpy as np

#: cap on chars processed per vectorized sub-chunk — bounds the int64
#: window temporaries (~8 bytes/char x a few arrays) regardless of how
#: large an Arrow batch's payloads are
CHUNK_CHARS = 4 << 20


def _md5_prefix60_bytes(b: bytes) -> int:
    return int.from_bytes(hashlib.md5(b).digest()[:8], "big") >> 4


def _packed_windows(t: str, k: int) -> np.ndarray:
    """All k-char windows of an ASCII text as int64, position order."""
    b = np.frombuffer(t.encode(), dtype=np.uint8).astype(np.int64)
    n = len(b) - k + 1
    packed = b[:n].copy()
    for j in range(1, k):
        packed += b[j : n + j] << (8 * j)
    return packed


def shingle_id_array(t: str, k: int, intern: dict) -> np.ndarray:
    """Sorted unique int64 shingle ids for one text (any content).

    ASCII shingles of <= 7 chars pack to non-negative ids with a length
    tag at bit 56; others intern to per-batch negative ids. Equal
    shingle strings always get equal ids within a batch."""
    if k <= 7 and len(t) >= k and t.isascii():
        packed = _packed_windows(t, k) + (k << 56)
        return np.unique(packed)
    sset = (
        {t[i : i + k] for i in range(len(t) - k + 1)} if len(t) >= k else {t[:k]}
    )
    ids = np.empty(len(sset), dtype=np.int64)
    for j, s in enumerate(sset):
        if len(s) <= 7 and s.isascii():
            v = len(s) << 56
            for bi, ch in enumerate(s.encode()):
                v += ch << (8 * bi)
            ids[j] = v
        else:
            vid = intern.get(s)
            if vid is None:
                vid = -(len(intern) + 1)
                intern[s] = vid
            ids[j] = vid
    ids.sort()
    return ids


def batch_pair_set_counts(ta, tb, k: int):
    """|∩| and per-side cardinalities of the two texts' shingle sets for
    every pair in the batch (iterables of str-or-None; None/"non-str"
    becomes ""). Returns (n_inter, n_a, n_b) int lists. Texts repeat
    heavily across candidate pairs, so each unique text's id array is
    built once per batch."""
    intern: dict = {}
    cache: dict = {}

    def ids(t):
        if not isinstance(t, str):
            t = ""
        a = cache.get(t)
        if a is None:
            a = cache[t] = shingle_id_array(t, k, intern)
        return a

    ni, na, nb = [], [], []
    for x, y in zip(ta, tb):
        sx, sy = ids(x), ids(y)
        ni.append(int(np.intersect1d(sx, sy, assume_unique=True).size))
        na.append(sx.size)
        nb.append(sy.size)
    return ni, na, nb


def pair_set_counts(pairs, k: int):
    """Arrow-batched shingle-set kernel for candidate-pair verification:
    the one definition every verifier calls. The pair frame's text
    columns ``ta`` and ``tb`` are replaced by n_inter (|∩|), n_union
    (|∪|) and the per-side cardinalities n_a, n_b (containment needs
    them); every other column passes through."""
    import pyarrow as pa
    from pyspark.sql import types as T

    carry = [c for c in pairs.columns if c not in ("ta", "tb")]
    counts = ["n_inter", "n_union", "n_a", "n_b"]

    def run(batches):
        for batch in batches:
            ni, na, nb = batch_pair_set_counts(
                batch.column("ta").to_pylist(), batch.column("tb").to_pylist(), k
            )
            nu = [a + b - i for a, b, i in zip(na, nb, ni)]
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in carry]
                + [pa.array(v, pa.int64()) for v in (ni, nu, na, nb)],
                names=carry + counts,
            )

    schema = T.StructType(
        [pairs.schema[c] for c in carry] + [T.StructField(f, T.LongType()) for f in counts]
    )
    return pairs.mapInArrow(run, schema)


def batch_minhash(texts, A, B, C, k: int, p: int, m30: int) -> np.ndarray:
    """MinHash signature rows for a batch of texts (all must be str).

    A/B/C: int64 affine constant vectors (n_hashes); p: modulus; m30:
    low-bits mask. Returns (len(texts), n_hashes) int64."""
    n_hashes = len(A)
    res = np.empty((len(texts), n_hashes), dtype=np.int64)

    def affine(xs: np.ndarray) -> np.ndarray:
        return (
            A[None, :] * (xs[:, None] & m30)
            + B[None, :] * (xs[:, None] >> 30)
            + C[None, :]
        ) % p

    # rows the vectorized path covers: ASCII with >= 1 full window
    fast_rows: list[int] = []
    slow_rows: list[tuple[int, set]] = []
    for ri, t in enumerate(texts):
        if len(t) >= k and t.isascii():
            fast_rows.append(ri)
        elif len(t) >= k:
            slow_rows.append((ri, {t[i : i + k] for i in range(len(t) - k + 1)}))
        else:
            slow_rows.append((ri, {t[:k]}))

    # chunk the fast rows so window temporaries stay bounded; within a
    # chunk EVERYTHING is one concatenated buffer — per-doc numpy calls
    # on ~300-char arrays would be call-overhead-bound
    start = 0
    while start < len(fast_rows):
        stop, chars = start, 0
        while stop < len(fast_rows) and (chars < CHUNK_CHARS or stop == start):
            chars += len(texts[fast_rows[stop]])
            stop += 1
        chunk = fast_rows[start:stop]
        start = stop
        lens = np.array([len(texts[ri]) for ri in chunk], dtype=np.int64)
        big = np.frombuffer(
            "".join(texts[ri] for ri in chunk).encode(), dtype=np.uint8
        ).astype(np.int64)
        n = big.size - k + 1
        packed = big[:n].copy()
        for j in range(1, k):
            packed += big[j : n + j] << (8 * j)
        # drop the k-1 windows crossing each doc boundary (vectorized:
        # the k-1 positions before every non-final doc end)
        if len(chunk) > 1:
            ends = np.cumsum(lens)[:-1]
            bad = (ends[:, None] - (k - 1) + np.arange(k - 1)[None, :]).ravel()
            mask = np.ones(n, dtype=bool)
            mask[bad] = False
            flat = packed[mask]
        else:
            flat = packed
        counts = lens - k + 1
        uniq, inv = np.unique(flat, return_inverse=True)
        xs = np.empty(uniq.size, dtype=np.int64)
        for i, v in enumerate(uniq):
            xs[i] = _md5_prefix60_bytes(int(v).to_bytes(k, "little"))
        hw = affine(xs)[inv]
        offs = np.zeros(len(chunk), dtype=np.int64)
        np.cumsum(counts[:-1], out=offs[1:])
        res[np.array(chunk)] = np.minimum.reduceat(hw, offs, axis=0)

    memo: dict[str, int] = {}
    for ri, sset in slow_rows:
        xs = np.empty(len(sset), dtype=np.int64)
        for j, s in enumerate(sset):
            v = memo.get(s)
            if v is None:
                v = memo[s] = _md5_prefix60_bytes(s.encode())
            xs[j] = v
        res[ri] = affine(xs).min(axis=0)
    return res
