"""Kernel-side text/vector operators that aren't SQL-expressible:
winnowing fingerprints (Schleimer, Wilkerson, Aiken — "Winnowing: Local
Algorithms for Document Fingerprinting", SIGMOD 2003) and a NumPy
brute-force ANN over a broadcast matrix (the vectorized-Pandas-UDF path
the SQL higher-order version trades against).
"""

from __future__ import annotations

from typing import List

_MOD = (1 << 61) - 1
_BASE = 257


def kgram_hashes(text: str, k: int = 5) -> List[int]:
    """Polynomial rolling hashes of every k-gram (O(n))."""
    n = len(text)
    if n < k:
        return []
    h = 0
    pow_k = pow(_BASE, k - 1, _MOD)
    out = []
    for i, ch in enumerate(text):
        h = (h * _BASE + ord(ch)) % _MOD
        if i >= k - 1:
            out.append(h)
            h = (h - ord(text[i - k + 1]) * pow_k) % _MOD
    return out


def winnow(text: str, k: int = 5, w: int = 4) -> List[int]:
    """Winnowing: in every window of w consecutive k-gram hashes keep the
    minimum (rightmost on ties), dedup consecutive selections. Guarantees
    any match of length ≥ w+k-1 shares a fingerprint."""
    hs = kgram_hashes(text, k)
    if not hs:
        return []
    if len(hs) <= w:
        return [min(hs)]
    out = []
    last_idx = -1
    for start in range(len(hs) - w + 1):
        window = hs[start : start + w]
        m = min(window)
        # rightmost minimum
        idx = start + max(i for i, v in enumerate(window) if v == m)
        if idx != last_idx:
            out.append(m)
            last_idx = idx
    return out


def quantize_milli(x):
    """FLOOR(x*1000 + 0.5) in float64 — the ONE quantization every
    engine agrees on (pinned policy, CLAUDE.md). ROUND diverges two
    ways: half-even vs half-up on exact ties, and DuckDB evaluates list
    lambdas in the element type (FLOAT32), where e.g. 0.3195f*1000 IS
    exactly 319.5 while float64 gives 319.4999… — so both the SQL sides
    cast to DOUBLE first and use FLOOR(+0.5), and so does this."""
    import numpy as np

    arr = np.asarray(x, dtype=np.float64) * 1000.0
    return np.floor(arr + 0.5)


def round_half_up(x: float, digits: int = 6) -> float:
    """SQL-compatible ROUND (half away from zero); Python's built-in
    round() is half-to-even."""
    import math

    scale = 10 ** digits
    return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale


def cosine_matrix(query_mat, base_mat):
    """Dense pairwise cosine: one (Q, D) @ (D, N) matmul. Inputs are
    integer-quantized (quantize_milli) so scores are exact and ranking
    matches the SQL/DuckDB formulation bit-for-bit. Callers rank/truncate."""
    import numpy as np

    q = query_mat.astype(np.float64)
    b = base_mat.astype(np.float64)
    dots = q @ b.T
    qn = np.sqrt((q * q).sum(axis=1))[:, None]
    bn = np.sqrt((b * b).sum(axis=1))[None, :]
    return dots / (qn * bn)


def minhash_band_sigs(text: str, n_hashes: int = 8, band_width: int = 2):
    """MinHash band signatures, ENGINE-EXACT with the DuckDB oracle SQL:
    shingle = distinct word 3-grams of ``text.split(' ')``; per seed i the
    minhash is MIN over shingles of md5(f"{i}:{shingle}") hex; bands are
    consecutive pairs, signature = sorted hex digests joined by ','.

    Returns [(band_index, sig), ...] — empty when the doc has <3 words.
    One md5 context per seed is pre-hashed and copy()d per shingle (same
    digests, ~35% fewer bytes hashed than re-feeding the prefix).  The
    per-shingle MIN tracks raw digest() bytes, hex-encoded once per
    seed: hex is an order-preserving byte→chars map ('0'-'9' < 'a'-'f'
    in ASCII), so min over digests == min over hexdigests — identical
    output, ~25% less CPU (profiled: hexdigest was the top self-time)."""
    import hashlib

    words = text.split(" ")
    shingles = {
        f"{a} {b} {c}".encode("utf-8")
        for a, b, c in zip(words, words[1:], words[2:])
    }
    if not shingles:
        return []
    mins = []
    for i in range(n_hashes):
        ctx = hashlib.md5(f"{i}:".encode("ascii"))
        best = None
        for s in shingles:
            c = ctx.copy()
            c.update(s)
            d = c.digest()
            if best is None or d < best:
                best = d
        mins.append(best.hex())
    return [
        (b, ",".join(sorted(mins[b * band_width:(b + 1) * band_width])))
        for b in range(n_hashes // band_width)
    ]


def band_rows(b):
    """Row function of every minhash stage (batch LSH queries, band index
    builds, stream appends): (doc_id, text) batch → (doc_id, band, sig)."""
    for doc_id, text in zip(b["doc_id"], b["text"]):
        for band, sig in minhash_band_sigs(str(text)):
            yield int(doc_id), band, sig


def compression_ratio_bp(text: str) -> int:
    """zlib-compressed size as basis points of the raw utf-8 size — the
    CCNet-style repetition/garbage signal (highly repetitive text
    compresses far below ~4000bp; random noise sits near 10000+)."""
    import math
    import zlib

    raw = text.encode("utf-8")
    if not raw:
        return 10000
    comp = zlib.compress(raw, 6)
    return int(math.floor(len(comp) * 10000.0 / len(raw) + 0.5))


_LONGEST_REPEAT_CAP = 1_000_000  # chars; one pathological doc must not OOM


def longest_repeat_len(text: str) -> int:
    """Length of the longest substring occurring at least twice
    (occurrences may overlap) — the exact within-document repetition
    signal that compression_ratio_bp only approximates (ROADMAP r6
    #3c). Suffix automaton (Blumer et al. 1985): O(n) states and
    transitions; a substring repeats iff its state's endpos count is
    ≥2, so the answer is the max state length among states reached by
    ≥2 suffix-link paths. Inputs beyond _LONGEST_REPEAT_CAP chars are
    truncated (documented lower bound, never a crash — the
    one-bad-document rule)."""
    s = text[:_LONGEST_REPEAT_CAP]
    n = len(s)
    if n < 2:
        return 0
    # state arrays: length, suffix link, transitions, occurrence count
    # (primary states start at 1, clones at 0; counts propagate along
    # suffix links in decreasing-length order)
    st_len = [0]
    st_link = [-1]
    st_trans: list = [{}]
    st_cnt = [0]
    last = 0
    for ch in s:
        cur = len(st_len)
        st_len.append(st_len[last] + 1)
        st_link.append(-1)
        st_trans.append({})
        st_cnt.append(1)
        p = last
        while p != -1 and ch not in st_trans[p]:
            st_trans[p][ch] = cur
            p = st_link[p]
        if p == -1:
            st_link[cur] = 0
        else:
            q = st_trans[p][ch]
            if st_len[p] + 1 == st_len[q]:
                st_link[cur] = q
            else:
                clone = len(st_len)
                st_len.append(st_len[p] + 1)
                st_link.append(st_link[q])
                st_trans.append(dict(st_trans[q]))
                st_cnt.append(0)
                while p != -1 and st_trans[p].get(ch) == q:
                    st_trans[p][ch] = clone
                    p = st_link[p]
                st_link[q] = clone
                st_link[cur] = clone
        last = cur
    # counting sort by length (lengths ≤ n), then propagate counts up
    # the suffix-link tree from longest to shortest
    order = sorted(range(1, len(st_len)), key=st_len.__getitem__,
                   reverse=True)
    best = 0
    for v in order:
        if st_cnt[v] >= 2 and st_len[v] > best:
            best = st_len[v]
        link = st_link[v]
        if link > 0:
            st_cnt[link] += st_cnt[v]
    return best
