"""PDF standard security handler (encrypted PDFs, ISO 32000-1 §7.6).

Real crawl corpora are full of encrypted-but-openable PDFs: documents
whose OWNER password restricts editing while the USER password is empty,
so every conforming reader (and the reference, via PyMuPDF's transparent
decryption in ``fitz.open`` — reference utils/file_handlers.py:262-303)
opens them without prompting. This module is the from-scratch stand-in:

- RC4 (V=1 40-bit, V=2 ≤128-bit) and AES-128-CBC (V=4 /AESV2) stream
  decryption with the per-object key of Algorithm 1 (MD5 over
  file key + 3-byte obj num + 2-byte gen, + ``sAlT`` for AES).
- File-key derivation for revisions 2/3/4 (Algorithm 2: padded password +
  /O + little-endian signed /P + file ID, with the 50-fold MD5 hardening
  for R≥3) and the empty-user-password check of Algorithm 6.
- AES-256 (V=5, R5/R6 /AESV3) — the scheme every current PDF producer
  emits. The R6 SHA-2 hardening loop is reconstructed from the spec
  (see the integrity note above :func:`hash_r6`); it fails CLOSED (the
  U-hash check rejects, never mis-decrypts) if any detail is off.

Primitive integrity: MD5 comes from hashlib; RC4 and AES are implemented
here from the algorithm definitions (the AES S-box is GENERATED from the
GF(2^8) multiplicative inverse + affine map, not transcribed) and locked
against published known-answer vectors (FIPS-197 appendix examples, the
classic RC4 test vector) in tests/test_pdf_crypt.py. The key-derivation
helpers are shared by the generator's writer — same pattern as the OCR
font table (shared spec constants, independent document structure on
each side).

Password-PROTECTED documents (non-empty user password) fail the
Algorithm 6 check and surface as ``None`` from :func:`make_handler`;
the kernel then emits the reference's corrupt/protected literal, which
is exactly what the reference does when PyMuPDF refuses the document.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as _np

# §7.6.3.3 padding string (Algorithm 2 step a) — spec constant.
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypt == decrypt)."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# --- AES (FIPS-197), tables generated from the field definition ----------

def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


def _build_tables():
    # exp/log over GF(2^8) with generator 3 (x+1): g*a = a ^ xtime(a)
    exp = [0] * 510
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= _xtime(x)
    for i in range(255, 510):
        exp[i] = exp[i - 255]

    def inv(a: int) -> int:
        return 0 if a == 0 else exp[255 - log[a]]

    def affine(b: int) -> int:
        r = 0
        for i in range(8):
            bit = (
                (b >> i)
                ^ (b >> ((i + 4) % 8))
                ^ (b >> ((i + 5) % 8))
                ^ (b >> ((i + 6) % 8))
                ^ (b >> ((i + 7) % 8))
                ^ (0x63 >> i)
            ) & 1
            r |= bit << i
        return r

    sbox = [affine(inv(a)) for a in range(256)]
    inv_sbox = [0] * 256
    for a, s in enumerate(sbox):
        inv_sbox[s] = a

    def gmul(a: int, b: int) -> int:
        if a == 0 or b == 0:
            return 0
        return exp[log[a] + log[b]]

    return sbox, inv_sbox, gmul


_SBOX, _INV_SBOX, _GMUL = _build_tables()
# MixColumns multiplication tables (forward 2,3; inverse 9,11,13,14)
_MUL = {c: [_GMUL(c, x) for x in range(256)] for c in (2, 3, 9, 11, 13, 14)}


def _build_enc_ttables():
    """Combined SubBytes+ShiftRows+MixColumns lookup tables over packed
    32-bit column words (byte 0 = MSB) — the classic table-driven form.
    ~10× the per-block speed of the byte-wise loop; the R6 password
    hardening runs thousands of sequential block encryptions per
    document, so this is a hot path, not a micro-optimization."""
    t0, t1, t2, t3 = [0] * 256, [0] * 256, [0] * 256, [0] * 256
    for x in range(256):
        s = _SBOX[x]
        s2, s3 = _MUL[2][s], _MUL[3][s]
        t0[x] = (s2 << 24) | (s << 16) | (s << 8) | s3
        t1[x] = (s3 << 24) | (s2 << 16) | (s << 8) | s
        t2[x] = (s << 24) | (s3 << 16) | (s2 << 8) | s
        t3[x] = (s << 24) | (s << 16) | (s3 << 8) | s2
    return t0, t1, t2, t3


_T0, _T1, _T2, _T3 = _build_enc_ttables()


def _expand_key(key: bytes) -> list[list[int]]:
    """Key schedule → list of 4-byte words (Nb*(Nr+1) words)."""
    nk = len(key) // 4
    nr = {4: 10, 6: 12, 8: 14}[nk]
    words = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(words[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= rcon
            rcon = _xtime(rcon)
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        words.append([a ^ b for a, b in zip(words[i - nk], t)])
    return words


def _packed_round_keys(words) -> list[int]:
    """Key-schedule words → packed 32-bit ints (byte 0 = MSB), one per
    column, matching the T-table state convention."""
    return [
        (w[0] << 24) | (w[1] << 16) | (w[2] << 8) | w[3] for w in words
    ]


def _encrypt_words(rk: list[int], nr: int, w0: int, w1: int, w2: int, w3: int):
    """One block over packed column words (T-table rounds)."""
    t0, t1, t2, t3 = _T0, _T1, _T2, _T3
    sb = _SBOX
    w0 ^= rk[0]
    w1 ^= rk[1]
    w2 ^= rk[2]
    w3 ^= rk[3]
    k = 4
    for _ in range(nr - 1):
        n0 = t0[w0 >> 24] ^ t1[(w1 >> 16) & 255] ^ t2[(w2 >> 8) & 255] ^ t3[w3 & 255] ^ rk[k]
        n1 = t0[w1 >> 24] ^ t1[(w2 >> 16) & 255] ^ t2[(w3 >> 8) & 255] ^ t3[w0 & 255] ^ rk[k + 1]
        n2 = t0[w2 >> 24] ^ t1[(w3 >> 16) & 255] ^ t2[(w0 >> 8) & 255] ^ t3[w1 & 255] ^ rk[k + 2]
        n3 = t0[w3 >> 24] ^ t1[(w0 >> 16) & 255] ^ t2[(w1 >> 8) & 255] ^ t3[w2 & 255] ^ rk[k + 3]
        w0, w1, w2, w3 = n0, n1, n2, n3
        k += 4
    # final round: Sub+Shift only
    n0 = (sb[w0 >> 24] << 24) | (sb[(w1 >> 16) & 255] << 16) | (sb[(w2 >> 8) & 255] << 8) | sb[w3 & 255]
    n1 = (sb[w1 >> 24] << 24) | (sb[(w2 >> 16) & 255] << 16) | (sb[(w3 >> 8) & 255] << 8) | sb[w0 & 255]
    n2 = (sb[w2 >> 24] << 24) | (sb[(w3 >> 16) & 255] << 16) | (sb[(w0 >> 8) & 255] << 8) | sb[w1 & 255]
    n3 = (sb[w3 >> 24] << 24) | (sb[(w0 >> 16) & 255] << 16) | (sb[(w1 >> 8) & 255] << 8) | sb[w2 & 255]
    return n0 ^ rk[k], n1 ^ rk[k + 1], n2 ^ rk[k + 2], n3 ^ rk[k + 3]


def _aes_encrypt_block(words, nr: int, block: bytes) -> bytes:
    rk = _packed_round_keys(words)
    w = struct.unpack(">4I", block)
    return struct.pack(">4I", *_encrypt_words(rk, nr, *w))


def aes_encrypt_block(key: bytes, block: bytes) -> bytes:
    return _aes_encrypt_block(_expand_key(key), {16: 10, 24: 12, 32: 14}[len(key)], block)


def _cbc_encrypt_raw(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC over block-aligned data, packed-int pipeline (the chaining is
    inherently sequential — T-tables make each block cheap)."""
    nr = {16: 10, 24: 12, 32: 14}[len(key)]
    rk = _packed_round_keys(_expand_key(key))
    p = struct.unpack(">%dI" % (len(data) // 4), data)
    v0, v1, v2, v3 = struct.unpack(">4I", iv)
    out = []
    for i in range(0, len(p), 4):
        v0, v1, v2, v3 = _encrypt_words(
            rk, nr, p[i] ^ v0, p[i + 1] ^ v1, p[i + 2] ^ v2, p[i + 3] ^ v3
        )
        out.extend((v0, v1, v2, v3))
    return struct.pack(">%dI" % len(out), *out)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PKCS#7-padded CBC; returns iv + ciphertext (the PDF stream layout)."""
    pad = 16 - (len(data) % 16)
    return iv + _cbc_encrypt_raw(key, iv, data + bytes([pad]) * pad)


def aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC over block-aligned data (no padding, no IV prefix) — the
    shape the V=5 UE/OE values and the R6 hardening loop use."""
    return _cbc_encrypt_raw(key, iv, data)


# numpy form of the inverse cipher: CBC DECRYPTION is parallel across
# blocks (P_i = D(C_i) ^ C_{i-1}), so whole streams decrypt as one
# vectorized pass — this is the extraction-side hot path.
_INV_SBOX_NP = _np.array(_INV_SBOX, dtype=_np.uint8)
_M9_NP = _np.array(_MUL[9], dtype=_np.uint8)
_M11_NP = _np.array(_MUL[11], dtype=_np.uint8)
_M13_NP = _np.array(_MUL[13], dtype=_np.uint8)
_M14_NP = _np.array(_MUL[14], dtype=_np.uint8)
# output position 4c+r reads input 4*((c-r)%4)+r (InvShiftRows)
_INV_SHIFT_IDX = _np.array(
    [4 * ((c - r) % 4) + r for c in range(4) for r in range(4)]
)


def _aes_decrypt_blocks_np(key: bytes, blocks: "_np.ndarray") -> "_np.ndarray":
    """Inverse cipher over an (N, 16) uint8 matrix of blocks."""
    nr = {16: 10, 24: 12, 32: 14}[len(key)]
    words = _expand_key(key)
    rkb = [
        _np.array(
            [words[4 * rnd + c][r] for c in range(4) for r in range(4)],
            dtype=_np.uint8,
        )
        for rnd in range(nr + 1)
    ]
    s = blocks ^ rkb[nr]
    for rnd in range(nr - 1, -1, -1):
        s = _INV_SBOX_NP[s[:, _INV_SHIFT_IDX]]
        s ^= rkb[rnd]
        if rnd:
            a = s.reshape(-1, 4, 4)
            a0, a1, a2, a3 = a[:, :, 0], a[:, :, 1], a[:, :, 2], a[:, :, 3]
            s = _np.stack(
                [
                    _M14_NP[a0] ^ _M11_NP[a1] ^ _M13_NP[a2] ^ _M9_NP[a3],
                    _M9_NP[a0] ^ _M14_NP[a1] ^ _M11_NP[a2] ^ _M13_NP[a3],
                    _M13_NP[a0] ^ _M9_NP[a1] ^ _M14_NP[a2] ^ _M11_NP[a3],
                    _M11_NP[a0] ^ _M13_NP[a1] ^ _M9_NP[a2] ^ _M14_NP[a3],
                ],
                axis=2,
            ).reshape(-1, 16)
    return s


def aes_decrypt_block(key: bytes, block: bytes) -> bytes:
    """One block through the numpy inverse cipher (the V=5 /Perms check)."""
    blocks = _np.frombuffer(block, dtype=_np.uint8).reshape(1, 16)
    return _aes_decrypt_blocks_np(key, blocks).tobytes()


def aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    c = _np.frombuffer(data, dtype=_np.uint8).reshape(-1, 16)
    p = _aes_decrypt_blocks_np(key, c)
    prev = _np.vstack([_np.frombuffer(iv, dtype=_np.uint8), c[:-1]])
    return (p ^ prev).tobytes()


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes | None:
    """PDF AES stream: first 16 bytes are the IV; PKCS#7 padding stripped.
    Returns None on malformed input (truncated / bad padding) — contained,
    never raises."""
    if len(data) < 32 or len(data) % 16:
        return None
    out = aes_cbc_decrypt_nopad(key, data[:16], data[16:])
    pad = out[-1] if out else 0
    if not 1 <= pad <= 16 or len(out) < pad:
        return None
    return out[:-pad]


# --- V=5 / R6 (AES-256, ISO 32000-2 §7.6.4.3.4) ---------------------------
#
# INTEGRITY NOTE: unlike the arbitrary QM-coder state table (kept out of
# the JPEG kernel for exactly this reason), the R6 password hardening is
# an ALGORITHM reconstructed here from the spec: SHA-256 over
# password+salt+udata, then ≥64 rounds of {K1 = (pwd+K+udata)×64;
# E = AES-128-CBC(K[:16], iv=K[16:32], K1); K = SHA-{256,384,512}[sum
# (E[:16]) mod 3](E)} until round ≥ 64 and E[-1] ≤ round−32. It is
# validated self-consistently (our writer ↔ our reader, plus the /Perms
# "adb" structural tag) — real-file conformance cannot be cross-checked
# in this sandbox, so a misremembered detail here would reject real R6
# files (never mis-decrypt: the U-hash check fails closed).


def hash_r6(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """Algorithm 2.B — the revision-6 password hash (R5: plain SHA-256)."""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _v5_file_key(enc: dict) -> bytes | None:
    """Empty-user-password open for V=5 (R5/R6). Returns the 32-byte file
    key or None (password required / malformed)."""
    u = enc.get("/U")
    ue = enc.get("/UE")
    r = enc.get("/R", 6)
    if not isinstance(u, bytes) or len(u) < 48:
        return None
    if not isinstance(ue, bytes) or len(ue) != 32:
        return None
    vsalt, ksalt = u[32:40], u[40:48]
    if r == 5:  # deprecated Adobe extension: no hardening loop
        valid = hashlib.sha256(b"" + vsalt).digest()
        ik = hashlib.sha256(b"" + ksalt).digest()
    else:
        valid = hash_r6(b"", vsalt)
        ik = hash_r6(b"", ksalt)
    if valid != u[:32]:
        return None
    return aes_cbc_decrypt_nopad(ik, b"\x00" * 16, ue)


def v5_perms_blob(file_key: bytes, p: int, encrypt_metadata: bool = True) -> bytes:
    """The /Perms value: AES-256-ECB of P(4,LE) + FFFFFFFF + T/F + 'adb'
    + 4 filler bytes (writer side; the reader checks the 'adb' tag)."""
    blk = (
        struct.pack("<i", p)
        + b"\xff\xff\xff\xff"
        + (b"T" if encrypt_metadata else b"F")
        + b"adb"
        + b"utes"
    )
    return aes_encrypt_block(file_key, blk)


# --- standard security handler (Algorithms 1-6) ---------------------------

def compute_file_key(
    password: bytes,
    o_entry: bytes,
    p: int,
    file_id: bytes,
    r: int,
    keylen: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key."""
    h = hashlib.md5()
    h.update((password + PAD)[:32])
    h.update(o_entry[:32])
    h.update(struct.pack("<i", p))
    h.update(file_id)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:keylen]).digest()
    return key[:keylen]


def compute_o_entry(owner_pwd: bytes, user_pwd: bytes, r: int, keylen: int) -> bytes:
    """Algorithm 3: the /O value."""
    h = hashlib.md5((owner_pwd + PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    rc4key = h[:keylen]
    o = rc4(rc4key, (user_pwd + PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in rc4key), o)
    return o


def compute_u_entry(file_key: bytes, file_id: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / Algorithm 5 (R≥3): the /U value."""
    if r == 2:
        return rc4(file_key, PAD)
    h = hashlib.md5(PAD + file_id).digest()
    u = rc4(file_key, h)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in file_key), u)
    return u + b"\x00" * 16  # padded to 32 (spec: arbitrary padding)


def object_key(file_key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1: the per-object key."""
    h = hashlib.md5(
        file_key
        + (num & 0xFFFFFF).to_bytes(3, "little")
        + (gen & 0xFFFF).to_bytes(2, "little")
        + (b"sAlT" if aes else b"")
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


class UnsupportedEncryption:
    """Sentinel for /Encrypt dicts this handler cannot open (non-Standard
    filters, crypt-filter methods other than V2/AESV2/AESV3, or a
    non-empty user password). The kernel maps it to the reference's
    corrupt/protected literal — exactly PyMuPDF's refusal behavior."""

    __slots__ = ("reason",)

    def __init__(self, reason: str):
        self.reason = reason


class StdDecryptor:
    """Decrypts strings/streams of an opened document (empty user pwd).

    ``v5=True`` (AES-256): the file key is used directly for every object
    (ISO 32000-2 drops the per-object MD5 derivation of Algorithm 1)."""

    __slots__ = ("file_key", "aes", "gens", "v5")

    def __init__(
        self,
        file_key: bytes,
        aes: bool,
        gens: dict[int, int] | None = None,
        v5: bool = False,
    ):
        self.file_key = file_key
        self.aes = aes
        self.gens = gens or {}
        self.v5 = v5

    def _key(self, num: int) -> bytes:
        if self.v5:
            return self.file_key
        return object_key(self.file_key, num, self.gens.get(num, 0), self.aes)

    def decrypt(self, num: int, data: bytes) -> bytes | None:
        key = self._key(num)
        if self.aes:
            return aes_cbc_decrypt(key, data)
        return rc4(key, data)

    def encrypt(self, num: int, data: bytes, iv: bytes = b"") -> bytes:
        """Writer-side inverse (generator fixtures)."""
        key = self._key(num)
        if self.aes:
            return aes_cbc_encrypt(key, (iv or b"\x00" * 16)[:16], data)
        return rc4(key, data)


def make_handler(
    enc: dict, file_id: bytes, gens: dict[int, int] | None = None
) -> StdDecryptor | UnsupportedEncryption:
    """Build a decryptor from a parsed /Encrypt dict + first file ID.

    Returns :class:`UnsupportedEncryption` for anything outside the
    supported envelope — never raises, never guesses.
    """
    try:
        if enc.get("/Filter") != "/Standard":
            return UnsupportedEncryption(f"non-standard filter {enc.get('/Filter')}")
        v = enc.get("/V", 0)
        r = enc.get("/R", 2)
        o_entry = enc.get("/O")
        u_entry = enc.get("/U")
        p = enc.get("/P", -1)
        if not isinstance(o_entry, bytes) or not isinstance(u_entry, bytes):
            return UnsupportedEncryption("missing /O or /U")
        if not isinstance(p, int):
            return UnsupportedEncryption("bad /P")
        if v == 5 and r in (5, 6):
            cf = enc.get("/CF", {})
            stmf = enc.get("/StmF", "/Identity")
            cfd = cf.get(stmf) if isinstance(cf, dict) else None
            cfm = cfd.get("/CFM") if isinstance(cfd, dict) else None
            if cfm != "/AESV3":
                return UnsupportedEncryption(f"V=5 with CFM {cfm}")
            file_key = _v5_file_key(enc)
            if file_key is None:
                return UnsupportedEncryption(
                    "password required (empty user pwd rejected)"
                )
            # structural sanity on the recovered key: /Perms decrypts to
            # the spec's 'adb' tag (fails closed on a bad key)
            perms = enc.get("/Perms")
            if isinstance(perms, bytes) and len(perms) == 16:
                if aes_decrypt_block(file_key, perms)[9:12] != b"adb":
                    return UnsupportedEncryption("bad /Perms check")
            return StdDecryptor(file_key, aes=True, gens=gens, v5=True)
        aes = False
        if v in (1, 2) and r in (2, 3):
            keylen = (enc.get("/Length", 40) // 8) if v == 2 else 5
        elif v == 4 and r == 4:
            cf = enc.get("/CF", {})
            stmf = enc.get("/StmF", "/Identity")
            # /StmF names a crypt filter in /CF (usually /StdCF)
            cfd = cf.get(stmf) if isinstance(cf, dict) else None
            if not isinstance(cfd, dict):
                return UnsupportedEncryption(f"no crypt filter for {stmf}")
            cfm = cfd.get("/CFM")
            if cfm == "/AESV2":
                aes = True
            elif cfm != "/V2":
                return UnsupportedEncryption(f"unsupported CFM {cfm}")
            keylen = enc.get("/Length", 128) // 8
        else:
            return UnsupportedEncryption(f"unsupported V={v} R={r}")
        if not 5 <= keylen <= 16:
            return UnsupportedEncryption(f"bad key length {keylen * 8}")
        em = enc.get("/EncryptMetadata", True)
        key = compute_file_key(b"", o_entry, p, file_id, r, keylen, em)
        # Algorithm 6: does the empty user password open this document?
        want = compute_u_entry(key, file_id, r)
        got = u_entry[:16] if r >= 3 else u_entry[:32]
        if got != (want[:16] if r >= 3 else want[:32]):
            return UnsupportedEncryption("password required (empty user pwd rejected)")
        return StdDecryptor(key, aes, gens)
    except Exception as e:  # malformed dict → contained
        return UnsupportedEncryption(f"malformed /Encrypt: {e}")
