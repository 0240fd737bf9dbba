"""Symmetric encryption + IP anonymization (reference parity):

- encrypt / decrypt        src/stdlib/encrypt.rs (is_valid_algorithm
  :91-126, dispatch :129-175), src/stdlib/decrypt.rs. All AES modes
  the reference ships — CFB, OFB, CTR (LE default / BE), CBC with
  PKCS7 / ANSIX923 / ISO7816 / ISO10126 padding — plus AES-SIV and
  CHACHA20-POLY1305, and the extended-nonce pair XCHACHA20-POLY1305
  (HChaCha20 subkey derivation from the RFC 8439 core, hand-rolled)
  and XSALSA20-POLY1305 (NaCl secretbox: hand-rolled Salsa20/HSalsa20
  keystream + cryptography's Poly1305) — byte-exact against the
  reference's encrypt.rs:508-517 vectors.
- encrypt_ip / decrypt_ip  src/stdlib/encrypt_ip.rs, decrypt_ip.rs:
  the public IPCrypt algorithms — 'aes128' = ipcrypt-deterministic
  (one AES-128 block over the 16-byte address), 'pfx' =
  ipcrypt-pfx (prefix-preserving, bit-by-bit AES walk). Outputs are
  validated against the reference's example vectors in pytest.

All lowered as Arrow-batched pandas UDFs over ``cryptography``
primitives (crypto is per-row by nature; the batch transfer is the
part that must not be per-row). The ALGORITHM is validated driver-side
at plan-build time — mirroring the reference's resolve_constant
compile-time check (encrypt.rs:289-296) — so a typo fails the build,
not a task at runtime. Row-level failures (bad padding, bad IP)
become NULL, the error branch, matching VRL's fallible-call contract.

Conventions verified against reference test vectors (encrypt.rs:344+):
- CTR-LE = 64-bit little-endian counter in the FIRST 8 bytes of the
  block; CTR-BE = standard 128-bit big-endian counter.
- ISO10126 padding is deterministic in the reference (its vectors
  equal PKCS7's), so we pad with PKCS7 on encrypt; decrypt only
  trusts the final length byte, per the ISO10126 contract.
- AES-SIV's S2V component list is [b"", iv] (the RustCrypto aead
  nonce convention).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_CBC_PADDINGS = ("PKCS7", "ANSIX923", "ISO7816", "ISO10126")
_AES_SIZES = {"128": 16, "192": 24, "256": 32}

SUPPORTED_ALGORITHMS = tuple(
    [f"AES-{n}-{m}" for n in ("128", "192", "256") for m in ("CFB", "OFB", "CTR", "CTR-LE", "CTR-BE")]
    + [f"AES-{n}-CBC-{p}" for n in ("128", "192", "256") for p in _CBC_PADDINGS]
    + ["AES-128-SIV", "AES-256-SIV", "CHACHA20-POLY1305",
       "XCHACHA20-POLY1305", "XSALSA20-POLY1305"]
)


def _check_algorithm(algorithm: str, key: bytes, iv: bytes) -> str:
    """Compile-time validation (encrypt.rs:289-296): unknown algorithm
    or wrong key/iv length raises HERE, while the plan is being built."""
    alg = algorithm.upper()
    if alg not in SUPPORTED_ALGORITHMS:
        raise ValueError(f"Invalid algorithm: {algorithm}")
    if alg == "CHACHA20-POLY1305":
        want_key, want_iv = 32, 12
    elif alg in ("XCHACHA20-POLY1305", "XSALSA20-POLY1305"):
        want_key, want_iv = 32, 24
    elif alg.endswith("-SIV"):
        want_key, want_iv = 2 * _AES_SIZES[alg.split("-")[1]], 16
    else:
        want_key, want_iv = _AES_SIZES[alg.split("-")[1]], 16
    if len(key) != want_key:
        raise ValueError(
            f"Invalid key size. Expected {want_key} bytes. Found {len(key)} bytes"
        )
    if len(iv) != want_iv:
        raise ValueError(
            f"Invalid iv size. Expected {want_iv} bytes. Found {len(iv)} bytes"
        )
    return alg


def _ctr_keystream_xor(key: bytes, iv: bytes, data: bytes, little_endian: bool) -> bytes:
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    if not little_endian:
        c = Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor()
        return c.update(data)
    # 64-bit LE counter in the first 8 bytes (reference Ctr64LE)
    ecb = Cipher(algorithms.AES(key), modes.ECB()).encryptor()
    ctr0 = int.from_bytes(iv[:8], "little")
    tail = iv[8:]
    out = bytearray()
    for i in range(0, len(data), 16):
        block = ((ctr0 + i // 16) % (1 << 64)).to_bytes(8, "little") + tail
        ks = ecb.update(block)
        out += bytes(a ^ b for a, b in zip(data[i : i + 16], ks))
    return bytes(out)


# --- extended-nonce ChaCha / Salsa cores ------------------------------
# Pure-stdlib implementations of the PUBLIC constructions (RFC 8439
# quarter round; draft-irtf-cfrg-xchacha HChaCha20; Bernstein's
# Salsa20/HSalsa20 + the NaCl secretbox layout). Only the key/nonce
# derivation and the Salsa20 keystream are hand-rolled — the AEAD
# fast paths reuse `cryptography`'s ChaCha20Poly1305 and Poly1305.
# Byte-exactness is pinned against the reference's own encrypt test
# vectors (encrypt.rs:508-517) in tests/test_crypto.py.

_SIGMA = (0x61707865, 0x3320646E, 0x79622D32, 0x6B206574)


def _rotl32(x: int, n: int) -> int:
    return ((x << n) | (x >> (32 - n))) & 0xFFFFFFFF


def _chacha_rounds(state: list[int]) -> list[int]:
    """20 ChaCha rounds, NO final add (the HChaCha20 variant)."""
    x = list(state)

    def qr(a, b, c, d):
        x[a] = (x[a] + x[b]) & 0xFFFFFFFF
        x[d] = _rotl32(x[d] ^ x[a], 16)
        x[c] = (x[c] + x[d]) & 0xFFFFFFFF
        x[b] = _rotl32(x[b] ^ x[c], 12)
        x[a] = (x[a] + x[b]) & 0xFFFFFFFF
        x[d] = _rotl32(x[d] ^ x[a], 8)
        x[c] = (x[c] + x[d]) & 0xFFFFFFFF
        x[b] = _rotl32(x[b] ^ x[c], 7)

    for _ in range(10):
        qr(0, 4, 8, 12); qr(1, 5, 9, 13); qr(2, 6, 10, 14); qr(3, 7, 11, 15)
        qr(0, 5, 10, 15); qr(1, 6, 11, 12); qr(2, 7, 8, 13); qr(3, 4, 9, 14)
    return x


def _hchacha20(key: bytes, nonce16: bytes) -> bytes:
    import struct

    st = (list(_SIGMA) + list(struct.unpack("<8L", key))
          + list(struct.unpack("<4L", nonce16)))
    x = _chacha_rounds(st)
    return struct.pack("<8L", *(x[0:4] + x[12:16]))


def _salsa_rounds(state: list[int]) -> list[int]:
    """20 Salsa20 rounds, NO final add (the HSalsa20 variant)."""
    x = list(state)

    def qr(a, b, c, d):
        x[b] ^= _rotl32((x[a] + x[d]) & 0xFFFFFFFF, 7)
        x[c] ^= _rotl32((x[b] + x[a]) & 0xFFFFFFFF, 9)
        x[d] ^= _rotl32((x[c] + x[b]) & 0xFFFFFFFF, 13)
        x[a] ^= _rotl32((x[d] + x[c]) & 0xFFFFFFFF, 18)

    for _ in range(10):
        qr(0, 4, 8, 12); qr(5, 9, 13, 1); qr(10, 14, 2, 6); qr(15, 3, 7, 11)
        qr(0, 1, 2, 3); qr(5, 6, 7, 4); qr(10, 11, 8, 9); qr(15, 12, 13, 14)
    return x


def _hsalsa20(key: bytes, nonce16: bytes) -> bytes:
    import struct

    k = struct.unpack("<8L", key)
    n = struct.unpack("<4L", nonce16)
    st = [_SIGMA[0], k[0], k[1], k[2], k[3], _SIGMA[1], n[0], n[1],
          n[2], n[3], _SIGMA[2], k[4], k[5], k[6], k[7], _SIGMA[3]]
    x = _salsa_rounds(st)
    return struct.pack("<8L", *(x[i] for i in (0, 5, 10, 15, 6, 7, 8, 9)))


def _salsa20_keystream(key: bytes, nonce8: bytes, n_bytes: int) -> bytes:
    import struct

    k = struct.unpack("<8L", key)
    n = struct.unpack("<2L", nonce8)
    out = bytearray()
    for ctr in range(-(-n_bytes // 64)):
        st = [_SIGMA[0], k[0], k[1], k[2], k[3], _SIGMA[1], n[0], n[1],
              ctr & 0xFFFFFFFF, (ctr >> 32) & 0xFFFFFFFF,
              _SIGMA[2], k[4], k[5], k[6], k[7], _SIGMA[3]]
        x = _salsa_rounds(st)
        out += struct.pack(
            "<16L", *((a + b) & 0xFFFFFFFF for a, b in zip(x, st))
        )
    return bytes(out[:n_bytes])


def _xchacha_ctx(key: bytes, iv: bytes):
    """XChaCha20-Poly1305 = ChaCha20-Poly1305 under the HChaCha20
    subkey with nonce 0^4 || iv[16:24] (draft-irtf-cfrg-xchacha)."""
    from cryptography.hazmat.primitives.ciphers.aead import ChaCha20Poly1305

    return ChaCha20Poly1305(_hchacha20(key, iv[:16])), b"\x00" * 4 + iv[16:]


def _secretbox_encrypt_sub(pt: bytes, sub: bytes, nonce8: bytes) -> bytes:
    """NaCl secretbox under a pre-derived HSalsa20 subkey: tag ||
    ciphertext, with the Poly1305 one-time key taken from the first
    32 keystream bytes."""
    from cryptography.hazmat.primitives.poly1305 import Poly1305

    ks = _salsa20_keystream(sub, nonce8, 32 + len(pt))
    ct = bytes(a ^ b for a, b in zip(pt, ks[32:]))
    return Poly1305.generate_tag(ks[:32], ct) + ct


def _secretbox_decrypt_sub(boxed: bytes, sub: bytes, nonce8: bytes) -> bytes:
    from cryptography.hazmat.primitives.poly1305 import Poly1305

    if len(boxed) < 16:
        raise ValueError("secretbox too short")
    tag, ct = boxed[:16], boxed[16:]
    ks = _salsa20_keystream(sub, nonce8, 32 + len(ct))
    Poly1305.verify_tag(ks[:32], ct, tag)  # raises on mismatch
    return bytes(a ^ b for a, b in zip(ct, ks[32:]))


def _secretbox_encrypt(pt: bytes, key: bytes, iv: bytes) -> bytes:
    return _secretbox_encrypt_sub(pt, _hsalsa20(key, iv[:16]), iv[16:24])


def _secretbox_decrypt(boxed: bytes, key: bytes, iv: bytes) -> bytes:
    return _secretbox_decrypt_sub(boxed, _hsalsa20(key, iv[:16]), iv[16:24])


def _encrypt_one(pt: bytes, alg: str, key: bytes, iv: bytes) -> bytes:
    from cryptography.hazmat.primitives import padding as cpad
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
    from cryptography.hazmat.primitives.ciphers.aead import AESSIV, ChaCha20Poly1305

    if alg == "CHACHA20-POLY1305":
        return ChaCha20Poly1305(key).encrypt(iv, pt, None)
    if alg == "XCHACHA20-POLY1305":
        ctx, nonce = _xchacha_ctx(key, iv)
        return ctx.encrypt(nonce, pt, None)
    if alg == "XSALSA20-POLY1305":
        return _secretbox_encrypt(pt, key, iv)
    if alg.endswith("-SIV"):
        return AESSIV(key).encrypt(pt, [b"", iv])
    mode = alg.split("-", 2)[2]
    if mode == "CFB":
        c = Cipher(algorithms.AES(key), modes.CFB(iv)).encryptor()
        return c.update(pt) + c.finalize()
    if mode == "OFB":
        c = Cipher(algorithms.AES(key), modes.OFB(iv)).encryptor()
        return c.update(pt) + c.finalize()
    if mode in ("CTR", "CTR-LE"):
        return _ctr_keystream_xor(key, iv, pt, little_endian=True)
    if mode == "CTR-BE":
        return _ctr_keystream_xor(key, iv, pt, little_endian=False)
    # CBC-*
    pad = mode.split("-")[1]
    if pad == "PKCS7" or pad == "ISO10126":  # reference ISO10126 == PKCS7 bytes
        p = cpad.PKCS7(128).padder()
        padded = p.update(pt) + p.finalize()
    elif pad == "ANSIX923":
        p = cpad.ANSIX923(128).padder()
        padded = p.update(pt) + p.finalize()
    else:  # ISO7816: 0x80 marker then zeros
        n = 16 - len(pt) % 16
        padded = pt + b"\x80" + b"\x00" * (n - 1)
    c = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return c.update(padded) + c.finalize()


def _decrypt_one(ct: bytes, alg: str, key: bytes, iv: bytes) -> bytes | None:
    from cryptography.hazmat.primitives import padding as cpad
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
    from cryptography.hazmat.primitives.ciphers.aead import AESSIV, ChaCha20Poly1305

    try:
        if alg == "CHACHA20-POLY1305":
            return ChaCha20Poly1305(key).decrypt(iv, ct, None)
        if alg == "XCHACHA20-POLY1305":
            ctx, nonce = _xchacha_ctx(key, iv)
            return ctx.decrypt(nonce, ct, None)
        if alg == "XSALSA20-POLY1305":
            return _secretbox_decrypt(ct, key, iv)
        if alg.endswith("-SIV"):
            return AESSIV(key).decrypt(ct, [b"", iv])
        mode = alg.split("-", 2)[2]
        if mode == "CFB":
            c = Cipher(algorithms.AES(key), modes.CFB(iv)).decryptor()
            return c.update(ct) + c.finalize()
        if mode == "OFB":
            c = Cipher(algorithms.AES(key), modes.OFB(iv)).decryptor()
            return c.update(ct) + c.finalize()
        if mode in ("CTR", "CTR-LE"):
            return _ctr_keystream_xor(key, iv, ct, little_endian=True)
        if mode == "CTR-BE":
            return _ctr_keystream_xor(key, iv, ct, little_endian=False)
        pad = mode.split("-")[1]
        c = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
        padded = c.update(ct) + c.finalize()
        if not padded:
            return None
        if pad == "PKCS7":
            u = cpad.PKCS7(128).unpadder()
            return u.update(padded) + u.finalize()
        if pad == "ANSIX923":
            u = cpad.ANSIX923(128).unpadder()
            return u.update(padded) + u.finalize()
        if pad == "ISO7816":
            stripped = padded.rstrip(b"\x00")
            if not stripped.endswith(b"\x80"):
                return None
            return stripped[:-1]
        # ISO10126: only the final length byte is load-bearing
        n = padded[-1]
        if not 1 <= n <= 16:
            return None
        return padded[:-n]
    except Exception:
        return None  # error branch: bad tag / bad padding / bad length


def _batch_aead(alg: str, key: bytes):
    """AEAD contexts are key-only and stateless per call — build ONCE
    per Arrow batch instead of once per row (the per-row OpenSSL
    context construction was the whole bill: 3.1 s -> sub-second per
    100 k rows)."""
    from cryptography.hazmat.primitives.ciphers.aead import AESSIV, ChaCha20Poly1305

    if alg == "CHACHA20-POLY1305":
        return ChaCha20Poly1305(key)
    if alg.endswith("-SIV"):
        return AESSIV(key)
    return None


def encrypt(col: Column, algorithm: str, key: bytes, iv: bytes) -> Column:
    """encrypt(plaintext, algorithm, key, iv) -> ciphertext bytes.

    AES-CBC-PKCS7 (and ISO10126, byte-identical) lower to the JVM
    ``aes_encrypt`` expression — whole-stage codegen, no Python.
    Spark prepends the IV to its CBC output; the reference emits bare
    ciphertext, so the 16-byte prefix is stripped (verified byte-equal
    to the encrypt.rs vectors)."""
    alg = _check_algorithm(algorithm, key, iv)

    if alg.endswith(("-CBC-PKCS7", "-CBC-ISO10126")):
        from vrl_spark.functions.parse import bind

        jvm = F.aes_encrypt(
            col.cast("binary"), F.lit(key), F.lit("CBC"), F.lit("PKCS"), F.lit(iv)
        )
        return bind(jvm, lambda c: F.substring(c, F.lit(17), F.length(c) - 16))

    if alg in ("CHACHA20-POLY1305", "XCHACHA20-POLY1305") \
            or alg.endswith("-SIV"):
        is_siv = alg.endswith("-SIV")
        # extended nonce: derive the HChaCha20 subkey ONCE at plan
        # build (key and iv are plan constants); workers receive bytes
        if alg == "XCHACHA20-POLY1305":
            aead_key, aead_iv = _hchacha20(key, iv[:16]), b"\x00" * 4 + iv[16:]
        else:
            aead_key, aead_iv = key, iv

        @pandas_udf(T.BinaryType())
        def _enc_aead(s: pd.Series) -> pd.Series:
            ctx = _batch_aead("CHACHA20-POLY1305" if not is_siv else alg,
                              aead_key)
            if is_siv:
                return s.map(
                    lambda v: ctx.encrypt(bytes(v), [b"", iv]) if v is not None else None
                )
            return s.map(
                lambda v: ctx.encrypt(aead_iv, bytes(v), None) if v is not None else None
            )

        return _enc_aead(col.cast("binary"))

    if alg == "XSALSA20-POLY1305":
        sub, n8 = _hsalsa20(key, iv[:16]), iv[16:24]

        @pandas_udf(T.BinaryType())
        def _enc_box(s: pd.Series) -> pd.Series:
            return s.map(
                lambda v: _secretbox_encrypt_sub(bytes(v), sub, n8)
                if v is not None else None
            )

        return _enc_box(col.cast("binary"))

    @pandas_udf(T.BinaryType())
    def _enc(s: pd.Series) -> pd.Series:
        return s.map(lambda v: _encrypt_one(bytes(v), alg, key, iv) if v is not None else None)

    return _enc(col.cast("binary"))


def decrypt(col: Column, algorithm: str, key: bytes, iv: bytes) -> Column:
    """decrypt(ciphertext, algorithm, key, iv) -> plaintext bytes;
    NULL on authentication/padding failure (the error branch).
    AES-CBC-PKCS7 lowers to JVM ``try_aes_decrypt`` (IV re-prefixed,
    NULL on bad padding)."""
    alg = _check_algorithm(algorithm, key, iv)

    if alg.endswith("-CBC-PKCS7"):
        return F.try_aes_decrypt(
            F.concat(F.lit(iv).cast("binary"), col.cast("binary")),
            F.lit(key), F.lit("CBC"), F.lit("PKCS"),
        )

    if alg in ("CHACHA20-POLY1305", "XCHACHA20-POLY1305") \
            or alg.endswith("-SIV"):
        is_siv = alg.endswith("-SIV")
        if alg == "XCHACHA20-POLY1305":
            aead_key, aead_iv = _hchacha20(key, iv[:16]), b"\x00" * 4 + iv[16:]
        else:
            aead_key, aead_iv = key, iv

        @pandas_udf(T.BinaryType())
        def _dec_aead(s: pd.Series) -> pd.Series:
            ctx = _batch_aead("CHACHA20-POLY1305" if not is_siv else alg,
                              aead_key)

            def one(v):
                if v is None:
                    return None
                try:
                    if is_siv:
                        return ctx.decrypt(bytes(v), [b"", iv])
                    return ctx.decrypt(aead_iv, bytes(v), None)
                except Exception:
                    return None  # bad tag -> error branch

            return s.map(one)

        return _dec_aead(col.cast("binary"))

    if alg == "XSALSA20-POLY1305":
        sub, n8 = _hsalsa20(key, iv[:16]), iv[16:24]

        @pandas_udf(T.BinaryType())
        def _dec_box(s: pd.Series) -> pd.Series:
            def one(v):
                if v is None:
                    return None
                try:
                    return _secretbox_decrypt_sub(bytes(v), sub, n8)
                except Exception:
                    return None  # bad tag -> error branch

            return s.map(one)

        return _dec_box(col.cast("binary"))

    @pandas_udf(T.BinaryType())
    def _dec(s: pd.Series) -> pd.Series:
        return s.map(lambda v: _decrypt_one(bytes(v), alg, key, iv) if v is not None else None)

    return _dec(col.cast("binary"))


# ---------------------------------------------------------------------
# IPCrypt (encrypt_ip / decrypt_ip)
# ---------------------------------------------------------------------


def _ip16(ip: str):
    """(bytes16, was_ipv4) — IPv4 enters as its IPv4-mapped form."""
    import ipaddress

    a = ipaddress.ip_address(ip)
    if a.version == 4:
        return ipaddress.IPv6Address("::ffff:" + str(a)).packed, True
    return a.packed, False


def _fmt16(b: bytes, as_ipv4: bool) -> str:
    import ipaddress

    a6 = ipaddress.IPv6Address(bytes(b))
    if as_ipv4:
        v4 = a6.ipv4_mapped
        if v4 is not None:
            return str(v4)
    return str(a6)


def _ipcrypt_pfx(ip: str, e1, e2, forward: bool) -> str:
    """ipcrypt-pfx: bit-by-bit prefix-preserving walk. At each prefix
    length L the padded prefix block is (1 << L) | int(first L
    plaintext bits); the cipher bit is the LSB of byte 15 of
    AES_K1(block) XOR AES_K2(block). Verified against the reference's
    four example vectors (encrypt_ip.rs / decrypt_ip.rs examples).
    ``e1``/``e2`` are shared per-batch streaming ECB contexts."""
    b, was4 = _ip16(ip)
    start = 96 if was4 else 0
    src = bytearray(b)
    out = bytearray(16)
    out[:12] = src[:12] if was4 else out[:12]
    # plain = the progressively-known plaintext bits (decrypt recovers them)
    plain = bytearray(src) if forward else bytearray(b"\x00" * 16)
    if not forward:
        plain[:12] = src[:12] if was4 else plain[:12]

    def getbit(buf, i):
        return (buf[i // 8] >> (7 - i % 8)) & 1

    def setbit(buf, i, v):
        if v:
            buf[i // 8] |= 1 << (7 - i % 8)
        else:
            buf[i // 8] &= ~(1 << (7 - i % 8))

    for plen in range(start, 128):
        as_int = int.from_bytes(bytes(plain), "big")
        prefix = as_int >> (128 - plen) if plen else 0
        padded = ((1 << plen) | prefix).to_bytes(16, "big")
        x = bytes(a ^ c for a, c in zip(e1.update(padded), e2.update(padded)))
        cb = x[15] & 1
        if forward:
            setbit(out, plen, getbit(src, plen) ^ cb)
        else:
            pbit = getbit(src, plen) ^ cb
            setbit(plain, plen, pbit)
            setbit(out, plen, pbit)
    return _fmt16(bytes(out), as_ipv4=was4)


def _ip_udf(key: bytes, mode: str, forward: bool):
    mode = mode.lower()
    if mode == "aes128":
        if len(key) != 16:
            raise ValueError("aes128 mode requires a 16-byte key")
    elif mode == "pfx":
        if len(key) != 32:
            raise ValueError("pfx mode requires a 32-byte key")
    else:
        raise ValueError(f"Invalid mode '{mode}'. Must be 'aes128' or 'pfx'")

    @pandas_udf(T.StringType())
    def _f(s: pd.Series) -> pd.Series:
        from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

        # cipher contexts built ONCE per Arrow batch (ECB streaming is
        # stateless per 16-byte block, so sharing is sound)
        if mode == "aes128":
            # BATCHED: AES-ECB over a batch is one update() over the
            # concatenated 16-byte blocks — per-row update() calls
            # spent more time in FFI than in AES. Addresses parse and
            # format through _ip16/_fmt16's exact semantics, with the
            # common dotted-quad shapes short-circuited in Python
            # (same accept/reject set: ipaddress rejects leading
            # zeros, so the fast regex does too).
            c = Cipher(algorithms.AES(key), modes.ECB())
            op = c.encryptor() if forward else c.decryptor()
            import re as _re

            v4 = _re.compile(
                r"(0|[1-9][0-9]{0,2})\.(0|[1-9][0-9]{0,2})"
                r"\.(0|[1-9][0-9]{0,2})\.(0|[1-9][0-9]{0,2})\Z"
            )
            mapped_prefix = b"\x00" * 10 + b"\xff\xff"
            out: list = [None] * len(s)
            idxs: list[int] = []
            blocks: list[bytes] = []
            for i, v in enumerate(s):
                if v is None:
                    continue
                m = v4.match(v)
                if m is not None:
                    o = tuple(int(g) for g in m.groups())
                    if max(o) <= 255:
                        blocks.append(mapped_prefix + bytes(o))
                        idxs.append(i)
                        continue
                try:
                    b, _ = _ip16(v)
                except ValueError:
                    continue  # unparseable IP -> error branch (NULL)
                blocks.append(b)
                idxs.append(i)
            if blocks:
                enc = op.update(b"".join(blocks))
                for j, i in enumerate(idxs):
                    b = enc[16 * j: 16 * j + 16]
                    if b[:12] == mapped_prefix:
                        # str(IPv6Address(b).ipv4_mapped) == dotted quad
                        out[i] = f"{b[12]}.{b[13]}.{b[14]}.{b[15]}"
                    else:
                        out[i] = _fmt16(b, as_ipv4=True)
            return pd.Series(out, dtype=object)

        k1, k2 = key[:16], key[16:]
        if k1 == k2:
            raise ValueError("ipcrypt-pfx requires two distinct key halves")
        e1 = Cipher(algorithms.AES(k1), modes.ECB()).encryptor()
        e2 = Cipher(algorithms.AES(k2), modes.ECB()).encryptor()

        def one(v):
            if v is None:
                return None
            try:
                return _ipcrypt_pfx(v, e1, e2, forward)
            except ValueError:
                return None  # unparseable IP -> error branch

        return s.map(one)

    return _f


def encrypt_ip(col: Column, key: bytes, mode: str = "aes128") -> Column:
    """src/stdlib/encrypt_ip.rs — deterministic IP-to-IP encryption."""
    return _ip_udf(key, mode, forward=True)(col)


def decrypt_ip(col: Column, key: bytes, mode: str = "aes128") -> Column:
    """src/stdlib/decrypt_ip.rs — inverse of encrypt_ip."""
    return _ip_udf(key, mode, forward=False)(col)
