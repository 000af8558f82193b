"""Vectorized banded edit-distance kernels (numpy, Arrow-batch friendly).

Re-expresses the Schulz–Mihov Levenshtein automaton's characteristic-vector
windowing (reference: universal-automata/liblevenshtein README.md:40-46) as a
banded dynamic program: only the diagonal band of width 2n+1 is computed, so
cost is O(len * n) per pair instead of O(len^2). All three reference
algorithm variants (README.md:18-21; Java enum STANDARD / TRANSPOSITION /
MERGE_AND_SPLIT) are supported.

Entry points:

* ``batch_banded_distance(a_list, b_list, n, algorithm)`` — Python string
  lists (the Arrow entry's non-ASCII fallback, and the kernel tests' API);
* ``batch_banded_distance_arrow(a_arr, b_arr, n, algorithm)`` — pyarrow
  StringArrays, decoded straight from Arrow offset/data buffers into numpy
  matrices (vectorized; zero Python string objects) when the batch is
  ASCII/Latin-1 — called by the mapInArrow scorer
  (operators.scoring.score_attached), the engine's only scoring path.

Vectorization is ACROSS pairs: the only Python-level loops are over DP rows
(max string length) and the 2n+1 band columns — never over batch rows.

Memory layout is chosen for multi-core cache behavior (32 concurrent
executor workers share one L3):

* DP state is band-major ``(W, m)`` uint8 — each band row is contiguous and
  a cell only ever holds values in [0, n+2], so the working set is a few
  m-byte rows instead of int32 pair-major temporaries that thrash the cache;
* character matrices are transposed lazily in CHUNK-row blocks, so the
  per-DP-row char window is a contiguous slice (no per-row fancy gather)
  AND early-exiting batches (most candidate pairs are far apart and die
  within n+1 rows — reference B6) never pay for transposing columns the DP
  does not reach;
* codepoints are stored in the narrowest width holding the batch max
  (uint8 ASCII/Latin-1, uint16 BMP, else uint32) — char streaming is the
  kernel's main memory traffic and equality is width-agnostic;
* all per-row arithmetic runs in-place into preallocated buffers.

Early termination (reference B6): banded row minima are non-decreasing, so
pairs whose band minimum exceeds n are dead; the whole batch stops when
none survive, and at chunk boundaries the batch is compacted when the live
fraction drops below a hysteresis threshold. Distances greater than `n` are
reported as the sentinel `n + 1`.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "batch_banded_distance",
    "batch_banded_distance_arrow",
    "banded_distance",
    "SENTINEL_OFFSET",
]

SENTINEL_OFFSET = 1  # reported value for d > n is n + SENTINEL_OFFSET

_MAX_N = 200  # uint8 cells hold values <= n+2 plus +1 headroom
_COMPACT_FRACTION = 0.6  # compact live set when it falls below this share
_CHUNK = 128  # DP rows per lazily-transposed char block


def _encode(strings, max_len: int) -> np.ndarray:
    """Pad/encode a list of strings to a (batch, max_len) uint32 codepoint
    matrix. Comparison semantics are Python code points (SURVEY.md §7.3;
    `units="utf16"` selects Java code-unit parity instead)."""
    out = np.zeros((len(strings), max_len), dtype=np.uint32)
    for i, s in enumerate(strings):  # encode loop only; DP never loops rows
        if s:
            out[i, : len(s)] = np.frombuffer(
                s.encode("utf-32-le"), dtype=np.uint32
            )
    return out


def _encode_u16(bufs, max_len: int) -> np.ndarray:
    """Pad/encode a list of UTF-16-LE byte strings to a (batch, max_len)
    uint16 code-UNIT matrix: astral code points occupy two cells (their
    surrogate pair), exactly the symbols Java's `String.charAt` compares.
    Closes the documented UTF-16 delta vs the reference (SURVEY.md §7.3)."""
    out = np.zeros((len(bufs), max(max_len, 1)), dtype=np.uint16)
    for i, b in enumerate(bufs):  # encode loop only; DP never loops rows
        if b:
            out[i, : len(b) >> 1] = np.frombuffer(b, dtype=np.uint16)
    return out


def _narrow(A: np.ndarray, B: np.ndarray):
    maxcp = max(int(A.max(initial=0)), int(B.max(initial=0)))
    cdt = np.uint8 if maxcp < 256 else (np.uint16 if maxcp < 65536 else np.uint32)
    return A.astype(cdt, copy=False), B.astype(cdt, copy=False), cdt


def batch_banded_distance(a_list, b_list, n: int, algorithm: str = "standard",
                          units: str = "codepoint") -> np.ndarray:
    """Exact variant distance for each pair (a_list[i], b_list[i]) if it is
    <= n, else the sentinel n+1. Returns int32 array of len(a_list).

    ``units`` picks the comparison alphabet: ``"codepoint"`` (default —
    Unicode code points, the natural Python semantics) or ``"utf16"`` —
    UTF-16 code units, bit-for-bit the Java reference's `String.charAt`
    semantics `[PK]` (astral characters count as their surrogate pair, so
    e.g. d("\\U0001D49C", "A") is 2, not 1). The two differ only when a
    string leaves the BMP; lengths, the band and the length prefilter all
    switch to code-unit counts together."""
    _validate(n, algorithm, units)
    bsz = len(a_list)
    if bsz == 0:
        return np.empty(0, dtype=np.int32)
    if units == "utf16":
        a_u16 = [s.encode("utf-16-le") for s in a_list]
        b_u16 = [s.encode("utf-16-le") for s in b_list]
        la = np.fromiter((len(b) >> 1 for b in a_u16), dtype=np.int64, count=bsz)
        lb = np.fromiter((len(b) >> 1 for b in b_u16), dtype=np.int64, count=bsz)

        def encode_sub(idx):
            lamax = int(la[idx].max())
            lbmax = int(lb[idx].max())
            return _narrow(
                _encode_u16([a_u16[i] for i in idx], lamax),
                _encode_u16([b_u16[i] for i in idx], max(lbmax, 1)),
            )[:2]

        return _dispatch(la, lb, encode_sub, n, algorithm)
    la = np.fromiter((len(s) for s in a_list), dtype=np.int64, count=bsz)
    lb = np.fromiter((len(s) for s in b_list), dtype=np.int64, count=bsz)

    def encode_sub(idx):
        a_sub = [a_list[i] for i in idx]
        b_sub = [b_list[i] for i in idx]
        lamax = int(la[idx].max())
        lbmax = int(lb[idx].max())
        return _narrow(_encode(a_sub, lamax), _encode(b_sub, max(lbmax, 1)))[:2]

    return _dispatch(la, lb, encode_sub, n, algorithm)


def batch_banded_distance_arrow(a_arr, b_arr, n: int, algorithm: str = "standard",
                                units: str = "codepoint") -> np.ndarray:
    """Arrow-native entry: decode pa.StringArray offset/data buffers into
    codepoint matrices without materializing Python strings (ASCII/Latin-1
    fast path — multi-byte UTF-8 batches fall back to the list path).

    The ASCII fast path is units-agnostic: below U+0080 code points and
    UTF-16 code units coincide, so ``units="utf16"`` costs nothing unless
    a batch actually contains multi-byte text (then the list fallback
    re-encodes to UTF-16-LE)."""
    _validate(n, algorithm, units)
    import pyarrow as pa  # local import: list-only callers never need it

    bsz = len(a_arr)
    if bsz == 0:
        return np.empty(0, dtype=np.int32)

    def _fallback():
        # Nulls score as "" (the fast path declines any batch with nulls).
        a_list = ["" if s is None else s for s in a_arr.to_pylist()]
        b_list = ["" if s is None else s for s in b_arr.to_pylist()]
        return batch_banded_distance(a_list, b_list, n, algorithm, units)

    da = _arrow_parts(a_arr)
    db = _arrow_parts(b_arr)
    if da is None or db is None:
        return _fallback()
    a_off, a_buf = da
    b_off, b_buf = db
    # ASCII check: any byte >= 0x80 means multi-byte codepoints somewhere
    if (a_buf.size and int(a_buf.max(initial=0)) >= 128) or (
        b_buf.size and int(b_buf.max(initial=0)) >= 128
    ):
        return _fallback()

    la = (a_off[1:] - a_off[:-1]).astype(np.int64)
    lb = (b_off[1:] - b_off[:-1]).astype(np.int64)

    def encode_sub(idx):
        A = _gather_ascii(a_buf, a_off, la, idx)
        B = _gather_ascii(b_buf, b_off, lb, idx)
        return A, B

    return _dispatch(la, lb, encode_sub, n, algorithm)


def _arrow_parts(arr):
    """(offsets int64 view, data uint8 view) for a string/large_string
    pa.Array with no nulls; None when unsupported (nulls, chunks, other
    types) — caller falls back to the list path."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        return None
    t = arr.type
    if t == pa.string():
        odt = np.int32
    elif t == pa.large_string():
        odt = np.int64
    else:
        return None
    bufs = arr.buffers()  # [validity, offsets, data]
    off = np.frombuffer(bufs[1], dtype=odt, count=len(arr) + 1, offset=arr.offset * np.dtype(odt).itemsize)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return off.astype(np.int64, copy=False), data


def _gather_ascii(buf: np.ndarray, off: np.ndarray, lens: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Vectorized padded gather: rows idx of the ragged ASCII buffer into a
    (len(idx), maxlen) uint8 matrix — no per-string Python loop, no
    (m x maxlen) index temporaries.

    Boolean assignment fills in C order (row by row), which is exactly the
    ragged byte order, so a full dense batch is one flat slice + scatter;
    a filtered batch first assembles its bytes with the repeat/cumsum
    trick (one O(total_bytes) index vector)."""
    sub_lens = lens[idx]
    m = len(idx)
    maxlen = int(sub_lens.max()) if sub_lens.size else 0
    out = np.zeros((m, max(maxlen, 1)), dtype=np.uint8)
    if maxlen == 0:
        return out
    mask = np.arange(maxlen, dtype=np.int64)[None, :] < sub_lens[:, None]
    if m == len(lens) and idx[0] == 0 and idx[-1] == m - 1:
        flat = buf[off[0] : off[-1]]
    else:
        total = int(sub_lens.sum())
        cum = np.concatenate(([0], np.cumsum(sub_lens)[:-1]))
        src = np.repeat(off[idx] - cum, sub_lens) + np.arange(total, dtype=np.int64)
        flat = buf[src]
    out[mask] = flat
    return out


def _validate(n: int, algorithm: str, units: str = "codepoint") -> None:
    if algorithm not in ("standard", "transposition", "merge_and_split"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if units not in ("codepoint", "utf16"):
        raise ValueError(f"unknown units {units!r}")
    if n < 0:
        raise ValueError("max distance n must be >= 0")
    if n > _MAX_N:
        raise ValueError(f"max distance n must be <= {_MAX_N}")


def _dispatch(la: np.ndarray, lb: np.ndarray, encode_sub, n: int, algorithm: str) -> np.ndarray:
    """Shared feasibility filter + trivial cases around the DP core.
    `encode_sub(idx)` returns the encoded (A, B) row-major matrices for the
    feasible sub-batch."""
    bsz = la.shape[0]
    sentinel = np.int32(n + SENTINEL_OFFSET)
    res = np.full(bsz, sentinel, dtype=np.int32)

    # Length band predicate (reference B6: every unit-cost op, incl. merge /
    # split / transposition, changes the length difference by at most 1).
    feasible = np.abs(la - lb) <= n
    empty_a = (la == 0) & feasible
    res[empty_a] = np.minimum(lb[empty_a], sentinel)
    active = feasible & (la > 0)
    if not active.any():
        return res
    idx = np.nonzero(active)[0]
    A, B = encode_sub(idx)
    res[idx] = _banded_core(
        A, la[idx].astype(np.int32), B, lb[idx].astype(np.int32), n, algorithm
    )
    return res


def _banded_core(A: np.ndarray, la_s: np.ndarray, B: np.ndarray, lb_s: np.ndarray,
                 n: int, algorithm: str) -> np.ndarray:
    """DP over row-major encoded matrices; every row of A/B is a feasible
    pair with la >= 1. Returns int32 distances (sentinel n+1 when > n)."""
    m = A.shape[0]
    lamax = int(la_s.max())
    lbmax = int(B.shape[1]) if int(lb_s.max(initial=0)) else 0
    W = 2 * n + 1
    sentinel = np.int32(n + SENTINEL_OFFSET)
    INF = np.uint8(n + 1)     # anything > n means "over budget"
    CLAMP = np.uint8(n + 2)   # per-row clamp keeps +1 headroom in uint8
    is_tr = algorithm == "transposition"
    is_ms = algorithm == "merge_and_split"

    if A.dtype != B.dtype:  # narrow to the common width
        wide = max(A.dtype.itemsize, B.dtype.itemsize)
        cdt = {1: np.uint8, 2: np.uint16, 4: np.uint32}[wide]
        A = A.astype(cdt, copy=False)
        B = B.astype(cdt, copy=False)

    # DP row 0: d[0][j] = j at band offset k = j + n (j in [0, n]).
    prev = np.full((W, m), INF, dtype=np.uint8)
    for k in range(n, W):
        j0 = k - n
        prev[k, :] = min(j0, int(INF))
        prev[k, lb_s < j0] = INF
    prev2 = np.full((W, m), INF, dtype=np.uint8)
    cur = np.empty((W, m), dtype=np.uint8)

    # preallocated per-row scratch
    tmp = np.empty((W, m), dtype=np.uint8)
    c1 = np.empty((W, m), dtype=bool)
    c2 = np.empty((W, m), dtype=bool)
    trow = np.empty(m, dtype=np.uint8)

    sub_res = np.full(m, int(sentinel), dtype=np.int32)
    kstar = (lb_s - la_s + n).astype(np.int64)  # answer offset per pair
    live = np.arange(m, dtype=np.int64)  # positions into the sub-batch
    done = False

    for c0 in range(0, lamax, _CHUNK):
        if done:
            break
        c1_row = min(lamax, c0 + _CHUNK)
        ml = live.shape[0]
        # lazily transpose this chunk's char blocks for the CURRENT live set:
        # ATb rows cover a cols [cstart, c1_row); BTb rows r map to b col
        # (c0 + r - n), clipped to the real columns of B
        cstart = max(0, c0 - 1)  # one extra leading col: row c0+1 reads a[i-2]
        ATb = np.ascontiguousarray(A[:, cstart:c1_row].T)
        span = c1_row - c0 + W
        BTb = np.zeros((span, A.shape[0]), dtype=A.dtype)
        colstart = c0 - n
        lo = max(0, colstart)
        hi = min(lbmax, colstart + span)
        if hi > lo:
            BTb[lo - colstart : hi - colstart] = B[:, lo:hi].T

        for i in range(c0 + 1, c1_row + 1):
            ml = live.shape[0]
            p, p2, c = prev[:, :ml], prev2[:, :ml], cur[:, :ml]
            tm, tr_ = tmp[:, :ml], trow[:ml]

            achar = ATb[i - 1 - cstart, :ml]
            bwin = BTb[i - c0 - 1 : i - c0 - 1 + W, :ml]

            # substitute / match: cur = prev + (a[i-1] != b[j-1])
            # (neq written straight into cur — no separate bool buffer)
            np.not_equal(bwin, achar[None, :], out=c, casting="unsafe")
            np.add(p, c, out=c, casting="unsafe")
            # rows whose j = i+k-n has no b char at j-1 (j < 1): the diag
            # compared against pad zeros — kill it before the dele pass
            for k in range(W):
                if i + k - n < 1:
                    c[k, :] = INF
            # delete from a: d[i-1][j] lives one band offset up
            if W > 1:
                np.add(p[1:], 1, out=tm[: W - 1], casting="unsafe")
                np.minimum(c[: W - 1], tm[: W - 1], out=c[: W - 1])

            if is_tr and i >= 2:
                # transpose: d[i-2][j-2]+1 when a[i-1]==b[j-2], a[i-2]==b[j-1]
                aprev = ATb[i - 2 - cstart, :ml]
                bwin2 = _bwin2(BTb, B, i, c0, W, colstart, ml)
                np.equal(bwin2, achar[None, :], out=c1[:, :ml])
                np.equal(bwin, aprev[None, :], out=c2[:, :ml])
                np.logical_and(c1[:, :ml], c2[:, :ml], out=c1[:, :ml])
                np.add(p2, 1, out=tm, casting="unsafe")
                np.logical_not(c1[:, :ml], out=c2[:, :ml])
                tm[c2[:, :ml]] = 255
                for k in range(W):
                    if i + k - n < 2:
                        tm[k, :] = 255
                np.minimum(c, tm, out=c)
            if is_ms:
                if i >= 2 and W > 1:
                    # merge: a[i-2:i] -> b[j-1] (j >= 1); one offset up, row i-2
                    np.add(p2[1:], 1, out=tm[: W - 1], casting="unsafe")
                    for k in range(W - 1):
                        if i + k - n < 1:
                            tm[k, :] = 255
                    np.minimum(c[: W - 1], tm[: W - 1], out=c[: W - 1])
                if W > 1:
                    # split: a[i-1] -> b[j-2:j] (j >= 2); one offset down, row i-1
                    np.add(p[: W - 1], 1, out=tm[1:], casting="unsafe")
                    for k in range(1, W):
                        if i + k - n < 2:
                            tm[k, :] = 255
                    np.minimum(c[1:], tm[1:], out=c[1:])

            # insert into a: d[i][j-1] + 1 — prefix pass along the band
            for k in range(1, W):
                np.add(c[k - 1], 1, out=tr_, casting="unsafe")
                np.minimum(c[k], tr_, out=c[k])
            # clamp keeps uint8 cells in [0, n+2]. NO per-pair bounds
            # masking: out-of-band cells (j < 0 handled by the j<1 diag
            # kill + row-0 init; j > lb reads the pad-zero region) can
            # never flow INTO in-band cells — every recurrence move keeps
            # an out-of-upper-band j out of band — so they only ever hold
            # >= in-band values and are simply never extracted (kstar is
            # in-band by construction).
            np.minimum(c, CLAMP, out=c)

            la_l = la_s[live]
            fin = la_l == i
            if fin.any():
                fpos = np.nonzero(fin)[0]
                sub_res[live[fpos]] = c[kstar[live[fpos]], fpos]

            # early-exit probe: banded row minima are non-decreasing, so
            # checking on a cadence only delays (never misses) the exit
            if i <= 16 or (i & 3) == 0 or i == c1_row or fin.any():
                rowmin = c.min(axis=0)
                keep = ~fin & (rowmin <= n)
                if not keep.any():
                    done = True
                    prev, prev2, cur = cur, prev, prev2
                    break
            prev, prev2, cur = cur, prev, prev2

        if done:
            break
        # compact at chunk boundaries only (char blocks are materialized per
        # chunk for the live set; mid-chunk the dead pairs just coast)
        ml = live.shape[0]
        alive = _alive_mask(prev[:, :ml], la_s, live, c1_row, n)
        nkeep = int(alive.sum())
        if nkeep == 0:
            break
        if nkeep < ml * _COMPACT_FRACTION:
            live = live[alive]
            A = np.ascontiguousarray(A[alive])
            B = np.ascontiguousarray(B[alive])
            nl = live.shape[0]
            prev[:, :nl] = prev[:, :ml][:, alive]
            prev2[:, :nl] = prev2[:, :ml][:, alive]

    return np.minimum(sub_res, sentinel)


def _alive_mask(prev_block: np.ndarray, la_s: np.ndarray, live: np.ndarray,
                next_i: int, n: int) -> np.ndarray:
    """Pairs still worth computing after the chunk: unfinished (la > rows
    done) and band minimum still within budget."""
    return (la_s[live] > next_i) & (prev_block.min(axis=0) <= n)


def _bwin2(BTb: np.ndarray, B: np.ndarray,
           i: int, c0: int, W: int, colstart: int, ml: int) -> np.ndarray:
    """The (W, ml) b-char window shifted one column left (b[j-2]) for the
    transposition rule. Inside the chunk it is the BTb slice one row up;
    for the chunk's first DP row that slice starts before the block, so the
    missing first band row is rebuilt from B directly."""
    r0 = i - c0 - 2
    if r0 >= 0:
        return BTb[r0 : r0 + W, :ml]
    out = np.empty((W, ml), dtype=BTb.dtype)
    out[1:] = BTb[0 : W - 1, :ml]
    col = colstart - 1  # b column for the missing band row
    out[0] = B[:, col] if 0 <= col < B.shape[1] else 0
    return out


def banded_distance(a: str, b: str, n: int, algorithm: str = "standard",
                    units: str = "codepoint") -> int:
    """Scalar convenience wrapper (tests/debug)."""
    return int(batch_banded_distance([a], [b], n, algorithm, units)[0])
