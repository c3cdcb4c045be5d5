"""Pairwise string / vector similarity primitives.

Reference parity:
* Levenshtein similarity — /root/reference/src/feature_engineering.py:659-726
  (1 - dist / max_len). Spark has a built-in ``levenshtein`` so this is a pure
  column expression.
* Jaro-Winkler — /root/reference/src/feature_engineering.py:728-797 (classic
  JW, prefix scale 0.1, prefix length <= 4). No Spark built-in -> Arrow-batched
  pandas UDF whose kernel is numpy-vectorized over the BATCH dimension: the
  greedy match loop runs over character positions (strings are short), each
  step a boolean matrix op over all rows at once — no per-row Python. The
  scalar ``jaro_winkler`` stays as the test oracle.
* Cosine — /root/reference/src/feature_engineering.py:581-657 (dot/(|a||b|),
  clamped to [0,1], 1.0 when both effectively zero): a native expression
  over array<double> (zip_with + aggregate, codegen'd), and a numpy pandas
  UDF over the sparse map<int,double> vectors the pair features use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def levenshtein_sim_expr(a: Column, b: Column) -> Column:
    """1 - levenshtein(a,b)/max(len) with both-empty -> 1.0."""
    max_len = F.greatest(F.length(a), F.length(b))
    return F.when(max_len == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / max_len
    )


def _jaro(s1: str, s2: str) -> float:
    """Classic Jaro similarity (same algorithm family as the reference's
    hand-written implementation at src/feature_engineering.py:728-771)."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == ch:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    transpositions //= 2
    return (
        matches / len1 + matches / len2 + (matches - transpositions) / matches
    ) / 3.0


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """JW = jaro + prefix_len(<=4) * p * (1 - jaro)."""
    j = _jaro(s1, s2)
    prefix = 0
    for c1, c2 in zip(s1[:4], s2[:4]):
        if c1 == c2:
            prefix += 1
        else:
            break
    return j + prefix * prefix_weight * (1.0 - j)


# Batch kernel caps string length (codepoints). Name keys are tens of chars;
# pathological inputs are truncated rather than allowed to quadratically blow
# up the O(L1*L2)-bitmap work. The A/B pads differ so padding never matches.
_JW_MAX_LEN = 127


def _encode_batch(strs, pad_code: int, max_len: int = _JW_MAX_LEN):
    """list[str] -> (codepoint matrix uint32 [n, Lmax], lengths int64 [n]).

    One C-level join + one utf-32 encode + one vectorized scatter; the only
    per-row Python is ``map(len, ...)``.
    """
    n = len(strs)
    raw = np.fromiter(map(len, strs), np.int64, n)
    lens = np.minimum(raw, max_len)
    L = max(int(lens.max()) if n else 1, 1)
    flat = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
    codes = np.full((n, L), pad_code, dtype=np.uint32)
    rows = np.repeat(np.arange(n), raw)
    offsets = np.concatenate(([0], np.cumsum(raw)[:-1]))
    cols = np.arange(flat.size) - np.repeat(offsets, raw)
    keep = cols < L
    codes[rows[keep], cols[keep]] = flat[keep]
    return codes, lens


# Kernel sub-chunk rows: keeps each (codes, flags, cand) working set a few
# hundred KB so 16 concurrent workers' sets stay cache-resident instead of
# contending for the shared L3 (measured on real pair batches: 2048 beats
# un-chunked by 1.2x at 16 processes and by 1.19x at 4; 512 over-chunks —
# per-call numpy overhead outweighs locality).
_JW_CHUNK = 2048


def jaro_winkler_batch(av: np.ndarray, bv: np.ndarray) -> np.ndarray:
    """Vectorized classic Jaro-Winkler over two object arrays of strings.

    Same algorithm as the scalar ``jaro_winkler`` (reference parity:
    src/feature_engineering.py:728-797) but restructured so the Python loop
    runs over CHARACTER POSITIONS, with each greedy matching step a boolean
    matrix operation over the whole Arrow batch — no per-row Python.

    Identical pairs short-circuit to 1.0 BEFORE the bitmap work (exact-name
    blocking makes them common), the rest is bucketed by pair length (one
    pathological long string must not force every short name onto a 127-wide
    bitmap) and run through the O(rows * Lmax^2) kernel in cache-sized
    sub-chunks.
    """
    n = len(av)
    out = np.empty(n, dtype=np.float64)
    if n == 0:
        return out
    same = av == bv
    out[same] = 1.0
    todo = np.nonzero(~same)[0]
    if not todo.size:
        return out
    av = av[todo]
    bv = bv[todo]
    sub = np.empty(todo.size, dtype=np.float64)
    mx = np.maximum(
        np.fromiter(map(len, av), np.int64, todo.size),
        np.fromiter(map(len, bv), np.int64, todo.size),
    )
    bucket = np.searchsorted([16, 32, 64], mx, side="left")
    for bkt in np.unique(bucket):
        idx = np.nonzero(bucket == bkt)[0]
        for s in range(0, idx.size, _JW_CHUNK):
            sl = idx[s : s + _JW_CHUNK]
            sub[sl] = _jw_kernel(av[sl], bv[sl])
    out[todo] = sub
    return out


def _jw_kernel(av: np.ndarray, bv: np.ndarray) -> np.ndarray:
    n = len(av)
    A, la = _encode_batch(av, 0x10FFFE)
    B, lb = _encode_batch(bv, 0x10FFFF)
    # Name keys are overwhelmingly ASCII after NFKD normalization, and the
    # loop's memory traffic (full-B equality scans + cand bitmaps) is the
    # bandwidth hog on a 16-worker box. When every real codepoint is < 0xFE,
    # downcast to uint8: the pads truncate to 0xFE/0xFF — still distinct from
    # each other and from every real char, so equality semantics are
    # unchanged — and the scan traffic narrows 4x (measured 1.25x throughput
    # on real 144k-corpus batches at both 4 and 16 workers).
    if ((A < 0xFE) | (A == 0x10FFFE)).all() and (
        (B < 0xFE) | (B == 0x10FFFF)
    ).all():
        A = A.astype(np.uint8)
        B = B.astype(np.uint8)
    L1, L2 = A.shape[1], B.shape[1]

    w = np.maximum(np.maximum(la, lb) // 2 - 1, 0)[:, None]
    jpos = np.arange(L2)[None, :]
    flags1 = np.zeros((n, L1), dtype=bool)
    flags2 = np.zeros((n, L2), dtype=bool)
    matches = np.zeros(n, dtype=np.int64)
    # Pad chars never equal each other or real characters, so rows past their
    # own length can't produce matches — no activity mask needed inside the
    # loop. validb bounds j to real b positions.
    validb = jpos < lb[:, None]
    rows_all = np.arange(n)
    i_max = int(la.max())
    for i in range(i_max):
        cand = (B == A[:, i][:, None]) & (np.abs(jpos - i) <= w) & validb & ~flags2
        # argmax-then-gather: one row gather replaces a second full cand scan
        # (any) — cand[r, j[r]] is True iff row r has any candidate.
        j = cand.argmax(axis=1)
        hit = cand[rows_all, j]
        rows = np.nonzero(hit)[0]
        flags2[rows, j[rows]] = True
        flags1[rows, i] = True
        matches += hit

    # Transpositions: matched chars of each side in position order align
    # row-by-row after boolean extraction (row-major); per-row mismatch count
    # via one bincount over segment ids.
    t_a = A[flags1]
    t_b = B[flags2]
    seg = np.repeat(np.arange(n), matches)
    trans = (
        np.bincount(seg, weights=(t_a != t_b).astype(np.float64), minlength=n)
        .astype(np.int64)
        // 2
    )
    m = matches.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m / la + m / lb + (m - trans) / m) / 3.0
    jaro = np.where(matches > 0, jaro, 0.0)

    k = min(4, L1, L2)
    if k > 0:
        prefix = np.cumprod(A[:, :k] == B[:, :k], axis=1).sum(axis=1)
    else:
        prefix = np.zeros(n, dtype=np.int64)
    jw = jaro + prefix * 0.1 * (1.0 - jaro)
    # Identical strings (incl. both-empty) are exactly 1.0, matching the
    # scalar's short-circuit.
    return np.where(av == bv, 1.0, jw)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_pudf(a: pd.Series, b: pd.Series) -> pd.Series:
    # Candidate batches repeat name-key pairs heavily — records of one entity
    # share a handful of name variants, so the same (a, b) recurs across its
    # pairs (measured ~4x duplication at bench scale). factorize the pair
    # once per Arrow batch (C-level string hash), run the kernel on distinct
    # pairs only, scatter back by code.
    af = a.fillna("")
    bf = b.fillna("")
    if not len(af):
        return pd.Series(np.empty(0, dtype=np.float64))
    # factorize the PAIR, not a sentinel-joined string — a NUL inside a name
    # would make ("a\x00b","c") collide with ("a","b\x00c") and return the
    # wrong pair's score. Each column factorizes on its own (C string hash),
    # then the code pair packs into one int64 (codes_a * n_b + codes_b — a
    # bijection, codes bounded by batch size so the product is << 2^63) and
    # factorizes again: exact, and measured 7.7x faster than MultiIndex tuple
    # factorization on real candidate batches.
    ca, _ua = pd.factorize(af)
    cb, ub = pd.factorize(bf)
    codes, _ = pd.factorize(ca.astype(np.int64) * len(ub) + cb)
    first = np.zeros(codes.max() + 1, dtype=np.int64)
    first[codes[::-1]] = np.arange(len(codes) - 1, -1, -1)
    uniq = jaro_winkler_batch(
        af.to_numpy()[first], bf.to_numpy()[first]
    )
    return pd.Series(uniq[codes])


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine over two array<double> columns, native (zip_with + aggregate).

    Semantics follow the reference (src/feature_engineering.py:581-657):
    result clamped to [0,1]; if both norms ~0 -> 1.0 (identical emptiness);
    one zero side -> 0.0.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    eps = 1e-10
    raw = dot / (na * nb)
    return (
        F.when((na < eps) & (nb < eps), F.lit(1.0))
        .when((na < eps) | (nb < eps), F.lit(0.0))
        .otherwise(F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0)))
    )


def _flatten_arrays(series: pd.Series, mask: np.ndarray, dtype):
    """Series of variable-length arrays -> (flat values, per-row lengths)."""
    vals = series.to_numpy()[mask]
    lens = np.fromiter((len(x) for x in vals), np.int64, len(vals))
    if len(vals):
        flat = np.concatenate([np.asarray(x, dtype=dtype) for x in vals])
    else:
        flat = np.empty(0, dtype=dtype)
    return flat, lens


@F.pandas_udf(T.DoubleType())
def sparse_cosine_pudf(
    kl: pd.Series, vl: pd.Series, kr: pd.Series, vr: pd.Series
) -> pd.Series:
    """Dot product of two L2-normalized sparse vectors given as parallel
    (keys array<int>, values array<double>) columns — callers pass
    ``map_keys(vec), map_values(vec)`` of the map<int,double> storage form.

    Fully numpy-vectorized: flatten each side's Arrow list buffers, scatter
    into dense (batch, dim) matrices (keys are hashed-TF buckets bounded by
    tf_dim, so dim = max_key+1 is small), one einsum row-dot. Semantically
    identical to ``hashing.sparse_cosine_expr`` but evaluated in the Python
    stage: Catalyst re-inlines interpreted higher-order functions per consumer
    (measured: 3 evaluations/row, map allocations GC-bound the executors),
    while a Python UDF is computed once and its result reused as a column.
    NULL either side -> NaN (callers coalesce to the 0.5 fallback)."""
    n = len(kl)
    out = np.full(n, np.nan, dtype=np.float64)
    keep = ~(kl.isna().to_numpy() | kr.isna().to_numpy())
    m = int(keep.sum())
    if m == 0:
        return pd.Series(out)
    ka, la = _flatten_arrays(kl, keep, np.int64)
    va, _ = _flatten_arrays(vl, keep, np.float64)
    kb, lb = _flatten_arrays(kr, keep, np.int64)
    vb, _ = _flatten_arrays(vr, keep, np.float64)
    dim = int(max(ka.max(initial=-1), kb.max(initial=-1))) + 1
    if dim <= 0:
        out[keep] = 0.0
        return pd.Series(out)
    # Scatter+dot in ROW CHUNKS sized so the two dense (chunk, dim) buffers
    # stay cache-resident. A full-batch scatter is 2 x batch x dim x 8B of
    # DRAM traffic per pass — with every core running its own Python worker
    # that made this UDF memory-bandwidth-bound and it stopped scaling past
    # ~4 workers (measured: pair_inputs got SLOWER at local[16] than
    # local[4]). Chunked, the working set is ~2MB and the kernel scales with
    # cores like compute. Buffers are reused across chunks (zeroed per pass).
    rows_a = np.repeat(np.arange(m), la)
    rows_b = np.repeat(np.arange(m), lb)
    oa = np.concatenate(([0], np.cumsum(la)))
    ob = np.concatenate(([0], np.cumsum(lb)))
    chunk = max(1, (1 << 21) // (dim * 8))  # ~2MB per side buffer
    A = np.zeros((min(chunk, m), dim), dtype=np.float64)
    B = np.zeros((min(chunk, m), dim), dtype=np.float64)
    res = np.empty(m, dtype=np.float64)
    for s in range(0, m, chunk):
        e = min(s + chunk, m)
        n_rows = e - s
        A[:n_rows].fill(0.0)
        B[:n_rows].fill(0.0)
        sa, ea = oa[s], oa[e]
        sb, eb = ob[s], ob[e]
        A[rows_a[sa:ea] - s, ka[sa:ea]] = va[sa:ea]
        B[rows_b[sb:eb] - s, kb[sb:eb]] = vb[sb:eb]
        res[s:e] = np.einsum("ij,ij->i", A[:n_rows], B[:n_rows])
    out[keep] = np.clip(res, 0.0, 1.0)
    return pd.Series(out)


def make_kmv_jaccard_pudf(k: int):
    """Arrow-batched numpy kernel for the KMV bottom-k Jaccard estimate —
    semantically identical to ``hashing.kmv_jaccard_expr`` (the native twin
    used as its test oracle) but ~2 orders of magnitude cheaper per pair:
    Spark's array_union/array_intersect are CodegenFallback expressions
    (interpreted, element boxing, a hash set allocated per evaluation — and
    CollapseProject re-inlines the union three times), measured ~450us/pair;
    this kernel is one vectorized sort over the (batch, 2k) matrix.

    Closure factory (not a module-level UDF) so ``k`` ships to the workers by
    value inside the serialized closure. NULL either side -> NaN -> SQL NULL
    (callers coalesce).

    Kernel: pad each side to k with int64-max sentinels, row-sort the
    concatenation; a duplicated adjacent value is exactly one element of
    A ∩ B (per-side values are distinct); the u-th distinct value (u =
    min(k, |A ∪ B|)) is the KMV threshold tau; estimate = |{shared values
    <= tau}| / u.
    """
    @F.pandas_udf(T.DoubleType())
    def _kmv_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        out = np.full(n, np.nan, dtype=np.float64)
        av, bv = a.to_numpy(), b.to_numpy()
        keep = np.fromiter(
            (x is not None and y is not None for x, y in zip(av, bv)), bool, n
        )
        m = int(keep.sum())
        if m == 0:
            return pd.Series(out)

        # Element dtype follows the stored sketch (int32 since the 31-bit
        # sketch change; int64 for legacy/ad-hoc long arrays) — sorting and
        # scanning at the narrow width halves the kernel's memory traffic,
        # which is what bounds it with every core running its own worker.
        kept_a, kept_b = av[keep], bv[keep]
        dt = np.result_type(
            np.asarray(kept_a[0]).dtype if len(kept_a[0]) else np.int32,
            np.asarray(kept_b[0]).dtype if len(kept_b[0]) else np.int32,
            np.int32,
        )
        sent = np.iinfo(dt).max

        def padded(vals):
            # Column-mask scatter: mask[i, j] = j < len(vals[i]) enumerates
            # fill positions in row-major order, matching the concatenation
            # order of ``flat`` — 3x cheaper than building explicit
            # (rows, cols) index arrays (measured on 64k-row batches).
            M = np.full((m, k), sent, dtype=dt)
            lens = np.fromiter((len(x) for x in vals), np.int64, m)
            if lens.sum():
                # One concatenate over the object array's ndarray elements
                # (Arrow hands list<int> columns over as ndarrays already) —
                # measured 1.4x over a per-element np.asarray comprehension
                # on idle-box 64k batches; astype is a no-op when the stored
                # dtype already matches.
                flat = np.concatenate(list(vals)).astype(dt, copy=False)
                M[np.arange(k) < lens[:, None]] = flat
            return M

        S = np.sort(
            np.concatenate([padded(kept_a), padded(kept_b)], axis=1), axis=1
        )
        valid = S != sent
        is_new = np.empty_like(valid)
        is_new[:, 0] = True
        np.not_equal(S[:, 1:], S[:, :-1], out=is_new[:, 1:])
        distinct = is_new & valid
        # int16 accumulator: counts are <= 2k << 32767; the default int64
        # cumsum is 4x the write traffic for no information.
        cum = np.cumsum(distinct, axis=1, dtype=np.int16)
        u = np.minimum(cum[:, -1], k)
        idx = np.argmax(cum >= np.maximum(u, 1)[:, None], axis=1)
        tau = S[np.arange(m), idx]
        shared = (~is_new) & valid & (S <= tau[:, None])
        est = np.where(u > 0, shared.sum(axis=1) / np.maximum(u, 1), 0.0)
        out[keep] = est
        return pd.Series(out)

    return _kmv_jaccard
