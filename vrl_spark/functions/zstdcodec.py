"""Zstandard encoder (reference parity: src/stdlib/encode_zstd.rs,
which wraps zstd::encode_all). Decoding runs on the libzstd pyarrow
links (vrl_spark.functions.formats).

The encoder stays pure Python because the frozen zstd_hex literal of
the vrl_hashes_encode oracle pins its bytes: libzstd writes a
different valid frame for the same input (no checksum flag, a 1-byte
literals header). It does real compression: a greedy LZ parse feeds
compressed blocks whose sequences are FSE-coded with the predefined
tables (the official encoder's exact state-machine construction and
interleave order) and whose literals are Huffman-coded (direct tree
description, 1- or 4-stream) when that shrinks them, raw otherwise;
blocks that would not shrink fall back to store. Every frame carries
an xxhash64 content checksum. Output is cross-validated against
libzstd and zstd-jni in tests. The compression_level argument is
accepted for API parity (one strategy).

Bit-stream convention: Huffman and sequence bitstreams are written
forward and read BACKWARD from a 1-bit sentinel at the top of the
last byte.
"""

from __future__ import annotations

ZSTD_MAGIC = 0xFD2FB528

# RFC 8878 predefined FSE distributions
_LL_DEFAULTS = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
     2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1], 6)
_ML_DEFAULTS = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1, -1, -1], 6)
_OF_DEFAULTS = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1], 5)

# literals-length codes: (baseline, extra_bits) for codes >= 16
_LL_TABLE = [(0, 0)] * 16 + [
    (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3),
    (40, 3), (48, 4), (64, 6), (128, 7), (256, 8), (512, 9), (1024, 10),
    (2048, 11), (4096, 12), (8192, 13), (16384, 14), (32768, 15),
    (65536, 16),
]
for _i in range(16):
    _LL_TABLE[_i] = (_i, 0)

# match-length codes: (baseline, extra_bits); codes 0-31 -> ml = code+3
_ML_TABLE = [(_i + 3, 0) for _i in range(32)] + [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3),
    (59, 3), (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9),
    (1027, 10), (2051, 11), (4099, 12), (8195, 13), (16387, 14),
    (32771, 15), (65539, 16),
]


def _xxh64(data: bytes, seed: int = 0) -> int:
    """Pure-python xxHash64 (public algorithm) for frame checksums."""
    P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
    M = 0xFFFFFFFFFFFFFFFF

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        while i + 32 <= n:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8],
                                      "little")
                v = (v + lane * P2) & M
                v = rotl(v, 31)
                v = (v * P1) & M
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            v = (v * P2) & M
            v = rotl(v, 31)
            v = (v * P1) & M
            h = ((h ^ v) * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (k * P2) & M
        k = rotl(k, 31)
        k = (k * P1) & M
        h = ((rotl(h ^ k, 27) * P1) + P4) & M
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h = ((rotl(h ^ (k * P1 & M), 23) * P2) + P3) & M
        i += 4
    while i < n:
        h = (rotl(h ^ (data[i] * P5 & M), 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h


_RAW_BLOCK_MAX = (1 << 17) - 1  # store blocks carry a 21-bit size
_COMP_CHUNK = 100_000  # per-block matching window for the encoder


# --- FSE encoding (the official encoder construction, public BSD) ----


class _BitWriter:
    """Forward little-endian bit accumulator; close() appends the
    1-bit sentinel and pads (the decoder reads it backward)."""

    __slots__ = ("val", "nbits")

    def __init__(self):
        self.val = 0
        self.nbits = 0

    def add(self, value: int, nbits: int):
        self.val |= (value & ((1 << nbits) - 1)) << self.nbits
        self.nbits += nbits

    def close(self) -> bytes:
        self.val |= 1 << self.nbits  # sentinel
        self.nbits += 1
        return self.val.to_bytes((self.nbits + 7) // 8, "little")


def _fse_build_ctable(probs: list[int], al: int):
    """Encoding table: (next_state[], symbol_tt) with symbol_tt[s] =
    (delta_nb_bits, delta_find_state), per FSE_buildCTable."""
    size = 1 << al
    # the symbol spread of the format's FSE tables
    spread = [0] * size
    high = size
    for s, p in enumerate(probs):
        if p == -1:
            high -= 1
            spread[high] = s
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, p in enumerate(probs):
        for _ in range(max(p, 0)):
            spread[pos] = s
            pos = (pos + step) & mask
            while pos >= high:
                pos = (pos + step) & mask
    cumul = [0] * (len(probs) + 1)
    for s, p in enumerate(probs):
        cumul[s + 1] = cumul[s] + (1 if p == -1 else max(p, 0))
    next_state = [0] * size
    cur = list(cumul)
    for i in range(size):
        s = spread[i]
        next_state[cur[s]] = size + i
        cur[s] += 1
    tt = [None] * len(probs)
    for s, p in enumerate(probs):
        if p == 0:
            continue
        if p in (-1, 1):
            tt[s] = ((al << 16) - (1 << al), cumul[s] - 1)
        else:
            max_bits = al - ((p - 1).bit_length() - 1)  # al - highbit(p-1)
            min_state_plus = p << max_bits
            tt[s] = ((max_bits << 16) - min_state_plus, cumul[s] - p)
    return next_state, tt


class _FseEnc:
    __slots__ = ("next_state", "tt", "state")

    def __init__(self, ctable, first_symbol: int):
        self.next_state, self.tt = ctable
        dnb, dfs = self.tt[first_symbol]
        nb = (dnb + (1 << 15)) >> 16
        v = (nb << 16) - dnb
        self.state = self.next_state[(v >> nb) + dfs]

    def encode(self, bw: _BitWriter, symbol: int):
        dnb, dfs = self.tt[symbol]
        nb = (self.state + dnb) >> 16
        bw.add(self.state, nb)
        self.state = self.next_state[(self.state >> nb) + dfs]

    def flush(self, bw: _BitWriter, al: int):
        bw.add(self.state, al)


def _ll_code(ll: int) -> int:
    if ll < 16:
        return ll
    for code in range(35, 15, -1):
        if ll >= _LL_TABLE[code][0]:
            return code
    return 16


def _ml_code(ml: int) -> int:
    if ml <= 34:
        return ml - 3
    for code in range(52, 31, -1):
        if ml >= _ML_TABLE[code][0]:
            return code
    return 32


_CTABLES: dict[str, tuple] = {}


def _ctables():
    if not _CTABLES:
        _CTABLES["ll"] = _fse_build_ctable(*_LL_DEFAULTS)
        _CTABLES["of"] = _fse_build_ctable(*_OF_DEFAULTS)
        _CTABLES["ml"] = _fse_build_ctable(*_ML_DEFAULTS)
    return _CTABLES


# --- Huffman literals encoding ---------------------------------------


def _huffman_build_weights(freqs: dict[int, int]) -> list[int] | None:
    """Byte frequencies -> zstd weight list (index = symbol, 0 =
    absent), or None when Huffman coding isn't applicable (fewer than
    2 symbols, or code lengths exceeding the format's 11-bit cap)."""
    import heapq

    if len(freqs) < 2:
        return None
    heap = [(f, [s]) for s, f in freqs.items()]
    heapq.heapify(heap)
    depth = dict.fromkeys(freqs, 0)
    while len(heap) > 1:
        fa, sa = heapq.heappop(heap)
        fb, sb = heapq.heappop(heap)
        for s in sa + sb:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, sa + sb))
    max_len = max(depth.values())
    if max_len > 11:
        return None  # rare (very skewed 100 KB chunk); raw fallback
    # kraft sum of a full huffman tree is exactly 1, so scaling by
    # 2^max_len satisfies the sum-to-power-of-2 weight invariant
    weights = [0] * (max(freqs) + 1)
    for s, d in depth.items():
        weights[s] = max_len + 1 - d
    return weights


def _huffman_encode_desc_and_table(weights: list[int]):
    """-> (description bytes [direct form], code table {sym: (code,
    nbits)}, max_bits) in the format's canonical layout."""
    # direct description: 4-bit weights for symbols 0..last-1; the
    # last present symbol's weight is implied by the decoder
    last = max(s for s, w in enumerate(weights) if w > 0)
    n = last  # weights emitted for symbols 0..last-1
    if n > 128:
        return None  # direct form caps at 128 emitted weights (h=255)
    desc = bytearray([127 + n])
    for i in range(0, n, 2):
        hi = weights[i] << 4
        lo = weights[i + 1] if i + 1 < n else 0
        desc.append(hi | lo)
    total = sum(1 << (w - 1) for w in weights if w > 0)
    max_bits = (total - 1).bit_length()
    # canonical assignment: ascending weight, then symbol order —
    # the layout the decoder rebuilds from the weights
    table = {}
    cur = 0
    for w in range(1, max_bits + 1):
        nb = max_bits + 1 - w
        for sym, ws in enumerate(weights):
            if ws == w:
                table[sym] = (cur >> (max_bits - nb), nb)
                cur += 1 << (w - 1)
    return bytes(desc), table, max_bits


def _huffman_encode_stream(lits: bytes, table) -> bytes:
    """One backward Huffman bitstream (symbols encoded in reverse, so
    the decoder emits them forward)."""
    bw = _BitWriter()
    for b in reversed(lits):
        code, nb = table[b]
        bw.add(code, nb)
    return bw.close()


def _compress_literals(lits: bytes) -> bytes | None:
    """Compressed-literals section (type 2, direct tree description,
    1 or 4 streams), or None when raw is smaller/required."""
    rs = len(lits)
    if rs < 32 or rs >= (1 << 18):
        return None
    from collections import Counter

    freqs = dict(Counter(lits))
    built = _huffman_build_weights(freqs)
    if built is None:
        return None
    enc = _huffman_encode_desc_and_table(built)
    if enc is None:
        return None
    desc, table, _mb = enc
    if rs <= 1023:  # single stream, size_format 00
        stream = _huffman_encode_stream(lits, table)
        cs = len(desc) + len(stream)
        if cs > 1023:
            return None
        hdr = (2 | (0 << 2) | (rs << 4) | (cs << 14)).to_bytes(3, "little")
        out = hdr + desc + stream
    else:  # 4 streams, size_format 10 (14-bit) or 11 (18-bit)
        per = (rs + 3) // 4
        parts = [lits[0:per], lits[per : 2 * per],
                 lits[2 * per : 3 * per], lits[3 * per :]]
        streams = [_huffman_encode_stream(p, table) for p in parts]
        if any(len(s) > 0xFFFF for s in streams[:3]):
            return None  # must check BEFORE the 2-byte jump encoding
        jump = b"".join(len(s).to_bytes(2, "little") for s in streams[:3])
        payload = desc + jump + b"".join(streams)
        cs = len(payload)
        if rs < (1 << 14) and cs < (1 << 14):
            hdr = (2 | (2 << 2) | (rs << 4) | (cs << 18)).to_bytes(
                4, "little")
        elif cs < (1 << 18):
            hdr = (2 | (3 << 2) | (rs << 4) | (cs << 22)).to_bytes(
                5, "little")
        else:
            return None
        out = hdr + payload
    return out if len(out) < rs + 3 else None


def _lz_parse(chunk: bytes):
    """Greedy hash matcher -> (sequences [(ll, offset_value, ml)],
    literals bytes). Matches >= 4, offsets within the chunk."""
    n = len(chunk)
    seqs = []
    lits = bytearray()
    table: dict[bytes, int] = {}
    i = 0
    lit_start = 0
    while i + 4 <= n:
        key = chunk[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is not None and chunk[cand : cand + 4] == key:
            ml = 4
            while i + ml < n and chunk[cand + ml] == chunk[i + ml]:
                ml += 1
            ll = i - lit_start
            lits += chunk[lit_start:i]
            seqs.append((ll, (i - cand) + 3, ml))  # ov = offset + 3
            i += ml
            lit_start = i
            continue
        i += 1
    lits += chunk[lit_start:]
    return seqs, bytes(lits)


def _compress_block(chunk: bytes) -> bytes | None:
    """One compressed block body (literals + sequences sections with
    predefined FSE tables), or None when it wouldn't shrink."""
    seqs, lits = _lz_parse(chunk)
    if not seqs:
        return None
    comp_lits = _compress_literals(lits)
    if comp_lits is not None:
        body = bytearray(comp_lits)
    else:
        # raw literals, explicit size format
        nl = len(lits)
        if nl < (1 << 12):
            lit_hdr = bytes([(nl << 4 | 0x4) & 0xFF, nl >> 4])  # sf=01
        else:
            lit_hdr = bytes([(nl << 4 | 0xC) & 0xFF, (nl >> 4) & 0xFF,
                             nl >> 12])  # sf=11, 20-bit
        body = bytearray(lit_hdr)
        body += lits
    nseq = len(seqs)
    if nseq < 128:
        body.append(nseq)
    elif nseq < 0x7F00:
        body.append((nseq >> 8) + 128)
        body.append(nseq & 0xFF)
    else:
        return None  # would need the 3-byte form; chunks keep us under
    body.append(0)  # modes: predefined x3
    ct = _ctables()
    bw = _BitWriter()
    codes = [(_ll_code(ll), of.bit_length() - 1, _ml_code(ml))
             for ll, of, ml in seqs]
    if max(c[1] for c in codes) > 28:
        return None  # beyond the predefined offset distribution
    # official interleave: init states with the LAST sequence's codes,
    # write its extras, then for n-2..0 encode of/ml/ll and extras,
    # finally flush ml, of, ll (the decoder reads the exact reverse)
    lc, oc, mc = codes[-1]
    ll, ov, ml = seqs[-1]
    ll_s = _FseEnc(ct["ll"], lc)
    of_s = _FseEnc(ct["of"], oc)
    ml_s = _FseEnc(ct["ml"], mc)
    bw.add(ll - _LL_TABLE[lc][0], _LL_TABLE[lc][1])
    bw.add(ml - _ML_TABLE[mc][0], _ML_TABLE[mc][1])
    bw.add(ov - (1 << oc), oc)
    for i in range(nseq - 2, -1, -1):
        lc, oc, mc = codes[i]
        ll, ov, ml = seqs[i]
        of_s.encode(bw, oc)
        ml_s.encode(bw, mc)
        ll_s.encode(bw, lc)
        bw.add(ll - _LL_TABLE[lc][0], _LL_TABLE[lc][1])
        bw.add(ml - _ML_TABLE[mc][0], _ML_TABLE[mc][1])
        bw.add(ov - (1 << oc), oc)
    ml_s.flush(bw, _ML_DEFAULTS[1])
    of_s.flush(bw, _OF_DEFAULTS[1])
    ll_s.flush(bw, _LL_DEFAULTS[1])
    body += bw.close()
    if len(body) >= len(chunk) or len(body) > _RAW_BLOCK_MAX:
        return None
    return bytes(body)


def zstd_compress(src: bytes, level: int = 0) -> bytes:
    """Single-frame encoding with REAL compression: greedy LZ parse +
    predefined-FSE sequence coding + Huffman-coded literals where
    they shrink, falling back to store blocks where compression
    wouldn't. ``level`` accepted for API parity (one strategy).
    Output decodes with any conforming zstd implementation
    (cross-validated against zstd-jni in tests)."""
    del level
    out = bytearray(ZSTD_MAGIC.to_bytes(4, "little"))
    n = len(src)
    # single-segment + checksum; FCS field sized to the content
    if n < 256:
        fhd, fcs = 0x20 | 0x04, n.to_bytes(1, "little")
    elif n < 65536 + 256:
        fhd, fcs = 0x60 | 0x04, (n - 256).to_bytes(2, "little")
    else:
        fhd, fcs = 0xA0 | 0x04, n.to_bytes(4, "little")
    out.append(fhd)
    out += fcs
    pos = 0
    while True:
        chunk = src[pos : pos + _COMP_CHUNK]
        pos += len(chunk)
        last = 1 if pos >= n else 0
        comp = _compress_block(chunk) if chunk else None
        if comp is not None:
            out += ((len(comp) << 3) | (2 << 1) | last).to_bytes(3, "little")
            out += comp
        else:
            out += ((len(chunk) << 3) | last).to_bytes(3, "little")
            out += chunk
        if last:
            break
    out += (_xxh64(src) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)
