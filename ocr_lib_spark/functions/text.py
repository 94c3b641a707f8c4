"""Text-analysis column functions — all pure `pyspark.sql.functions`
compositions (whole-stage codegen, no Python), mirroring the scalar
kernels of the reference (contrast-fn core.clj:210-239 and friends) on
the text domain, plus the training-data-pipeline text ops (language ID,
quality scoring, token counting, fingerprinting).

Determinism contract: every function here has an exact ANSI-SQL twin
(DuckDB-runnable) used by the correctness oracles. Floating results are
produced only by single divisions of exactly-representable integers, so
they're bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

VOWELS = "aeiou"


def token_count(text: Column | str) -> Column:
    """Whitespace token count (empty string -> 0)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    )


def distinct_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(F.array_distinct(F.split(F.trim(c), r"\s+")))
    )


def vowel_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c) - F.length(F.translate(c, VOWELS, ""))


def vowel_ratio(text: Column | str) -> Column:
    """Vowels / chars — the n-gram-free language-ID heuristic signal."""
    c = F.col(text) if isinstance(text, str) else text
    return vowel_count(c) / F.greatest(F.length(c), F.lit(1))


def lang_id(text: Column | str) -> Column:
    """Heuristic language-ID bands over the vowel ratio (deterministic
    synthetic analog of stopword-profile language ID)."""
    r = vowel_ratio(text)
    return (
        F.when(r >= 0.42, F.lit("vowelic"))
        .when(r >= 0.30, F.lit("en-like"))
        .when(r >= 0.18, F.lit("cons-lite"))
        .otherwise(F.lit("consonantal"))
    )


def quality_score(text: Column | str, n_chars: Column | str | None = None) -> Column:
    """Integer quality score in [0, 100]: length band + token richness —
    the block-size sanity-gate analog (core_helper.clj:1159-1166), pure
    integer arithmetic for cross-engine exactness."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c) if n_chars is None else (
        F.col(n_chars) if isinstance(n_chars, str) else n_chars
    )
    toks = token_count(c)
    dtoks = distinct_token_count(c)
    len_pts = F.least(F.floor(n / F.lit(10)), F.lit(40)).cast("long")
    tok_pts = F.least(toks, F.lit(30)).cast("long")
    rich_pts = F.least(dtoks * 2, F.lit(30)).cast("long")
    return (len_pts + tok_pts + rich_pts).alias("quality")


def md5_fingerprint(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def stable_hash64(col: Column | str) -> Column:
    """Deterministic 60-bit integer hash usable as a minhash kernel —
    identical to DuckDB's ``('0x' || substr(md5(x),1,15))::BIGINT``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hex_bucket(text: Column | str, n_buckets: int = 1024) -> Column:
    """Stable integer bucket from the md5 prefix — the cross-engine
    deterministic hash primitive (15 hex digits fit int64)."""
    return stable_hash64(text) % n_buckets


def word_grams(tokens: str, k: int) -> Column:
    """Word k-gram array over the token-array column ``tokens``: each
    window of k consecutive tokens joined by one space; arrays shorter
    than k yield no grams. The DuckDB twin is ``list_transform(range(len(t)
    - k + 1), i -> array_to_string(list_slice(t, i + 1, i + k), ' '))``."""
    return F.expr(
        f"CASE WHEN size({tokens}) >= {k} THEN "
        f"transform(sequence(0, cast(size({tokens}) as int) - {k}), "
        f"i -> concat_ws(' ', slice({tokens}, i + 1, {k}))) "
        f"ELSE cast(array() as array<string>) END"
    )


def word_segments(tokens: str, k: int) -> Column:
    """Non-overlapping word k-segments of the token-array column
    ``tokens``: tokens [i*k, (i+1)*k) joined by one space for each whole
    segment; a trailing remainder shorter than k and arrays shorter than
    k yield nothing."""
    return F.expr(
        f"CASE WHEN size({tokens}) >= {k} THEN "
        f"transform(sequence(0, size({tokens}) div {k} - 1), "
        f"i -> concat_ws(' ', slice({tokens}, i * {k} + 1, {k}))) "
        f"ELSE cast(array() as array<string>) END"
    )


def char_shingles(text: Column | str, k: int = 5) -> Column:
    """Distinct character k-gram shingle array (set semantics — the
    dot-set implicit-DISTINCT analog, SURVEY.md §2.3). Strings shorter
    than k yield a single truncated shingle, matching the DuckDB twin
    ``list_distinct(list_transform(range(1, greatest(len - k + 1, 1) + 1),
    i -> substring(text, i, k)))``."""
    c = F.col(text) if isinstance(text, str) else text
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substr(c, i, F.lit(k))))


#: BPE-ish pretokenizer pattern (GPT-2 style, lookahead-free so the Java
#: (Spark) and RE2 (DuckDB) regex engines agree): contraction suffixes,
#: space-prefixed letter runs, digit runs, punctuation runs, whitespace.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pretokens — the subword-cost estimate a training
    pipeline budgets by (vs whitespace tokens, which undercount code and
    punctuation-heavy payloads)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


#: Rabin-Karp polynomial rolling-hash parameters. M*B < 2^63 so the
#: update never overflows int64 in either engine (DuckDB errors on
#: overflow); B > max codepoint in play keeps grams injective-ish.
RK_BASE = 257
RK_MOD = (1 << 31) - 1  # Mersenne prime 2^31-1


def rolling_hash(text: Column | str) -> Column:
    """Full-document Rabin-Karp hash: fold c_i into acc*B + c_i mod M —
    one pass, pure Catalyst (aggregate over the codepoint sequence).
    NULL hashes as '' (0), as in the DuckDB oracle and the Arrow stage."""
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * RK_BASE + F.ascii(ch)) % RK_MOD,
    )


def min_gram_hash(text: Column | str, k: int = 8) -> Column:
    """Min polynomial hash over all k-grams — the rolling-window
    fingerprint (winnowing's selection primitive). Short docs (< k
    chars) hash their whole text, NULL as ''. O(n·k) as a Catalyst
    expression; the O(n) variant is ``rolling_hashes_pandas``."""
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    n = F.length(c)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    gram_hash = lambda i: F.aggregate(  # noqa: E731
        F.split(F.substring(c, i, k), ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * RK_BASE + F.ascii(ch)) % RK_MOD,
    )
    return F.array_min(F.transform(starts, gram_hash))


def rolling_hashes_pandas(texts, k: int = 8):
    """Fully vectorized twin of (rolling_hash, min_gram_hash) for a
    sequence of texts (None hashes as ''). Identity used: the fold
    ``acc = (acc·B + c_i) mod M`` equals ``Σ c_i·B^{n-1-i} mod M``, so
    with a shared power table (one per batch, sized to the longest doc)
    both hashes are pure numpy — no per-character Python loop:

      rk_hash   = (c · pows_rev mod M) summed mod M      (O(n) numpy)
      gram(i)   = Σ_j c_{i+j}·B^{k-1-j} mod M  via sliding windows
      min_gram8 = min over grams (whole-text hash when n <= k)

    Overflow audit (int64, M = 2^31-1): term < 2^21·2^31 = 2^52; gram
    sum over k=8 < 2^55; rk sum over n ≤ 2^20 chars < 2^51. Exact, and
    bit-identical to the Catalyst expressions and the DuckDB oracle —
    codepoint hashing (F.ascii / DuckDB ascii both return codepoints)."""
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    cps = [
        np.fromiter(map(ord, t), dtype=np.int64, count=len(t))
        if isinstance(t, str) and t
        else None
        for t in texts
    ]
    max_n = max((len(c) for c in cps if c is not None), default=0)
    pows = np.ones(max(max_n, k), dtype=np.int64)
    for j in range(1, len(pows)):  # shared across the batch; amortized
        pows[j] = pows[j - 1] * RK_BASE % RK_MOD
    pw = pows[k - 1 :: -1][:k]  # [B^{k-1} .. B^0]

    rk_out = np.zeros(len(texts), dtype=np.int64)
    mg_out = np.zeros(len(texts), dtype=np.int64)
    for i, c in enumerate(cps):
        if c is None:
            continue
        n = len(c)
        rk = int((c * pows[n - 1 :: -1] % RK_MOD).sum() % RK_MOD)
        rk_out[i] = rk
        if n <= k:
            mg_out[i] = rk
        else:
            w = sliding_window_view(c, k)
            grams = (w * pw[None, :] % RK_MOD).sum(axis=1) % RK_MOD
            mg_out[i] = int(grams.min())
    return pd.DataFrame({"rk_hash": rk_out, "min_gram8": mg_out})
