"""From-scratch MD5 (RFC 1321) and SHA-256 (FIPS 180-4).

Completes the engine's from-scratch digest family (SHA-1 lives in
``operators.gitpack``; the CRC family — CRC-32, CRC-32C, CRC-32/BZIP2,
CRC-64/XZ, FLAC's CRC-8/16 — in ``operators.bitio``; Adler-32 in
``operators.deflatecodec``; xxHash32 in ``operators.lz4codec`` and
xxHash64 in ``operators.zstdentropy``).
``hashlib`` — OpenSSL's independent implementation — is the pin in
``tests/test_hashes.py``, and the driver-checked query
``scratch_hash_audit`` pins OUR md5 against DuckDB's ``md5()`` (a
third implementation) on the documents corpus.

The MD5 sine table is computed from the spec's defining formula
``K[i] = floor(abs(sin(i+1)) * 2^32)`` rather than embedded, so the
constants cannot be transcribed wrong without the interop tests
catching the drift.
"""

from __future__ import annotations

import math
import struct

_M32 = 0xFFFFFFFF

# --- MD5 (RFC 1321) ---------------------------------------------------------

_MD5_K = [int(abs(math.sin(i + 1)) * (1 << 32)) & _M32 for i in range(64)]
_MD5_S = ([7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4
          + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4)


def _rotl(x: int, n: int) -> int:
    return ((x << n) | (x >> (32 - n))) & _M32


def md5(data: bytes) -> bytes:
    a0, b0, c0, d0 = (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476)
    msg = data + b"\x80"
    msg += b"\x00" * ((56 - len(msg) % 64) % 64)
    msg += struct.pack("<Q", len(data) * 8)
    for off in range(0, len(msg), 64):
        m = struct.unpack_from("<16I", msg, off)
        a, b, c, d = a0, b0, c0, d0
        for i in range(64):
            if i < 16:
                f = (b & c) | (~b & d)
                g = i
            elif i < 32:
                f = (d & b) | (~d & c)
                g = (5 * i + 1) % 16
            elif i < 48:
                f = b ^ c ^ d
                g = (3 * i + 5) % 16
            else:
                f = c ^ (b | (~d & _M32))
                g = (7 * i) % 16
            f = (f + a + _MD5_K[i] + m[g]) & _M32
            a, d, c = d, c, b
            b = (b + _rotl(f, _MD5_S[i])) & _M32
        a0 = (a0 + a) & _M32
        b0 = (b0 + b) & _M32
        c0 = (c0 + c) & _M32
        d0 = (d0 + d) & _M32
    return struct.pack("<4I", a0, b0, c0, d0)


def md5_hex(data: bytes) -> str:
    return md5(data).hex()


# --- SHA-256 (FIPS 180-4) ---------------------------------------------------

_SHA256_K = [
    0x428A2F98, 0x71374491, 0xB5C0FBCF, 0xE9B5DBA5, 0x3956C25B,
    0x59F111F1, 0x923F82A4, 0xAB1C5ED5, 0xD807AA98, 0x12835B01,
    0x243185BE, 0x550C7DC3, 0x72BE5D74, 0x80DEB1FE, 0x9BDC06A7,
    0xC19BF174, 0xE49B69C1, 0xEFBE4786, 0x0FC19DC6, 0x240CA1CC,
    0x2DE92C6F, 0x4A7484AA, 0x5CB0A9DC, 0x76F988DA, 0x983E5152,
    0xA831C66D, 0xB00327C8, 0xBF597FC7, 0xC6E00BF3, 0xD5A79147,
    0x06CA6351, 0x14292967, 0x27B70A85, 0x2E1B2138, 0x4D2C6DFC,
    0x53380D13, 0x650A7354, 0x766A0ABB, 0x81C2C92E, 0x92722C85,
    0xA2BFE8A1, 0xA81A664B, 0xC24B8B70, 0xC76C51A3, 0xD192E819,
    0xD6990624, 0xF40E3585, 0x106AA070, 0x19A4C116, 0x1E376C08,
    0x2748774C, 0x34B0BCB5, 0x391C0CB3, 0x4ED8AA4A, 0x5B9CCA4F,
    0x682E6FF3, 0x748F82EE, 0x78A5636F, 0x84C87814, 0x8CC70208,
    0x90BEFFFA, 0xA4506CEB, 0xBEF9A3F7, 0xC67178F2,
]


def _rotr(x: int, n: int) -> int:
    return ((x >> n) | (x << (32 - n))) & _M32


def sha256(data: bytes) -> bytes:
    h = [0x6A09E667, 0xBB67AE85, 0x3C6EF372, 0xA54FF53A,
         0x510E527F, 0x9B05688C, 0x1F83D9AB, 0x5BE0CD19]
    msg = data + b"\x80"
    msg += b"\x00" * ((56 - len(msg) % 64) % 64)
    msg += struct.pack(">Q", len(data) * 8)
    for off in range(0, len(msg), 64):
        w = list(struct.unpack_from(">16I", msg, off))
        for i in range(16, 64):
            s0 = _rotr(w[i - 15], 7) ^ _rotr(w[i - 15], 18) \
                ^ (w[i - 15] >> 3)
            s1 = _rotr(w[i - 2], 17) ^ _rotr(w[i - 2], 19) \
                ^ (w[i - 2] >> 10)
            w.append((w[i - 16] + s0 + w[i - 7] + s1) & _M32)
        a, b, c, d, e, f, g, hh = h
        for i in range(64):
            s1 = _rotr(e, 6) ^ _rotr(e, 11) ^ _rotr(e, 25)
            ch = (e & f) ^ (~e & g)
            t1 = (hh + s1 + ch + _SHA256_K[i] + w[i]) & _M32
            s0 = _rotr(a, 2) ^ _rotr(a, 13) ^ _rotr(a, 22)
            maj = (a & b) ^ (a & c) ^ (b & c)
            t2 = (s0 + maj) & _M32
            hh, g, f, e, d, c, b, a = (g, f, e, (d + t1) & _M32,
                                       c, b, a, (t1 + t2) & _M32)
        h = [(x + y) & _M32
             for x, y in zip(h, (a, b, c, d, e, f, g, hh))]
    return struct.pack(">8I", *h)


def sha256_hex(data: bytes) -> str:
    return sha256(data).hex()


# --- HMAC (RFC 2104) and PBKDF2 (RFC 2898) over our SHA-256 ---------------

def hmac_sha256(key: bytes, msg: bytes) -> bytes:
    """RFC 2104 with our SHA-256: the keyed digest behind the engine's
    pseudonymization surface (a keyed hash is what makes FK tokens
    non-invertible without the secret, unlike plain sha)."""
    if len(key) > 64:
        key = sha256(key)
    key = key + b"\x00" * (64 - len(key))
    ipad = bytes(b ^ 0x36 for b in key)
    opad = bytes(b ^ 0x5C for b in key)
    return sha256(opad + sha256(ipad + msg))


def pbkdf2_hmac_sha256(password: bytes, salt: bytes, iterations: int,
                       dklen: int = 32) -> bytes:
    """RFC 2898 PBKDF2-HMAC-SHA256 (key stretching for the envelope-
    encryption seam). Pinned against hashlib.pbkdf2_hmac."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    out = bytearray()
    block = 1
    while len(out) < dklen:
        u = hmac_sha256(password, salt + block.to_bytes(4, "big"))
        acc = bytearray(u)
        for _ in range(iterations - 1):
            u = hmac_sha256(password, u)
            for i in range(32):
                acc[i] ^= u[i]
        out += acc
        block += 1
    return bytes(out[:dklen])
