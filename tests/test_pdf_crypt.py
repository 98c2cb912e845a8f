"""Encrypted-PDF tests (standard security handler, kernels/pdf_crypt.py).

The crypto primitives are locked against PUBLISHED known-answer vectors
(FIPS-197 appendix C blocks, the classic RC4 vectors) so the generated
S-box and both cipher directions are checked against the real algorithms,
not just against our own writer. Document-level tests then assert
byte-identical extraction vs the unencrypted twin for every supported
mode (the invariant real crawls need: encryption must be transparent,
exactly as PyMuPDF makes it for the reference)."""

from __future__ import annotations

import random

import pytest

from universal_text_extractor_spark.kernels.pdf_crypt import (
    StdDecryptor,
    UnsupportedEncryption,
    aes_cbc_decrypt,
    aes_cbc_encrypt,
    aes_decrypt_block,
    aes_encrypt_block,
    compute_file_key,
    compute_o_entry,
    compute_u_entry,
    make_handler,
    rc4,
)
from universal_text_extractor_spark.kernels.options import ExtractOptions
from universal_text_extractor_spark.kernels.pdf_kernel import (
    CORRUPT_LITERAL,
    extract_pdf,
)
from universal_text_extractor_spark.sources.pages_gen import _pdf_doc_pages

MODES = ("rc4-40", "rc4-128", "aesv2", "aes256")


def test_rc4_known_answer_vectors():
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Wiki", b"pedia").hex() == "1021bf0420"
    assert rc4(b"Secret", b"Attack at dawn").hex() == "45a01f645fc35b383552544b9bf5"
    # symmetric
    assert rc4(b"Key", rc4(b"Key", b"roundtrip")) == b"roundtrip"


def test_aes_fips197_vectors():
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    # Appendix C.1 (AES-128)
    ct = aes_encrypt_block(bytes(range(16)), pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert aes_decrypt_block(bytes(range(16)), ct) == pt
    # Appendix C.2 (AES-192)
    ct = aes_encrypt_block(bytes(range(24)), pt)
    assert ct.hex() == "dda97ca4864cdfe06eaf70a0ec0d7191"
    assert aes_decrypt_block(bytes(range(24)), ct) == pt
    # Appendix C.3 (AES-256)
    ct = aes_encrypt_block(bytes(range(32)), pt)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert aes_decrypt_block(bytes(range(32)), ct) == pt


def test_aes_cbc_roundtrip_and_containment():
    key = bytes(range(16))
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes((i * 7) & 0xFF for i in range(n))
        enc = aes_cbc_encrypt(key, b"\x5a" * 16, data)
        assert enc[:16] == b"\x5a" * 16 and len(enc) % 16 == 0
        assert aes_cbc_decrypt(key, enc) == data
    # malformed inputs are contained, never raised
    assert aes_cbc_decrypt(key, b"") is None
    assert aes_cbc_decrypt(key, b"x" * 17) is None
    assert aes_cbc_decrypt(key, b"\x00" * 16) is None  # IV only, no block


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("flate", [True, False])
def test_encrypted_pdf_extracts_byte_identical(mode, flate):
    plain = extract_pdf(_pdf_doc_pages(random.Random(11), 3, flate))
    enc = extract_pdf(_pdf_doc_pages(random.Random(11), 3, flate, encrypt=mode))
    assert enc[0] == plain[0]
    assert "PDF is encrypted; opened with empty user password" in enc[2]


def test_encrypted_scanned_pdf_ocr():
    """OCR must work THROUGH decryption (image XObject stream is
    enciphered too)."""
    lines = [["HELLO WORLD", "SECOND LINE"]]
    ocr = ExtractOptions(use_ocr=True)
    ref = extract_pdf(
        _pdf_doc_pages(random.Random(5), 0, True, scan_lines=lines), ocr
    )
    enc = extract_pdf(
        _pdf_doc_pages(random.Random(5), 0, True, scan_lines=lines, encrypt="aesv2"),
        ocr,
    )
    assert enc[0] == ref[0]
    assert "HELLO WORLD" in enc[0] and "(OCR)" in enc[0]


def test_password_protected_pdf_is_refused():
    """Non-empty user password fails Algorithm 6 → the reference's
    corrupt/protected literal (PyMuPDF refusal behavior)."""
    doc = _pdf_doc_pages(
        random.Random(11), 2, True, encrypt="rc4-128", user_password=b"hunter2"
    )
    text, ocr, logs = extract_pdf(doc)
    assert text == CORRUPT_LITERAL
    assert any("password required" in l for l in logs)


def test_unsupported_encryption_schemes_are_refused():
    # V=5 without its crypt filter dict → refused, not guessed
    h = make_handler({"/Filter": "/Standard", "/V": 5, "/R": 6,
                      "/O": b"\x00" * 48, "/U": b"\x00" * 48, "/P": -44}, b"")
    assert isinstance(h, UnsupportedEncryption)
    # V=5 with AESV3 but a garbage /U → fails the R6 hash check CLOSED
    h = make_handler(
        {"/Filter": "/Standard", "/V": 5, "/R": 6, "/O": b"\x00" * 48,
         "/U": b"\x00" * 48, "/UE": b"\x00" * 32, "/P": -44,
         "/CF": {"/StdCF": {"/CFM": "/AESV3", "/Length": 32}},
         "/StmF": "/StdCF"},
        b"",
    )
    assert isinstance(h, UnsupportedEncryption)
    # non-standard handler
    h = make_handler({"/Filter": "/Custom", "/O": b"", "/U": b"", "/P": -1}, b"")
    assert isinstance(h, UnsupportedEncryption)
    # V=4 with an unknown crypt filter method
    h = make_handler(
        {"/Filter": "/Standard", "/V": 4, "/R": 4, "/O": b"\x00" * 32,
         "/U": b"\x00" * 32, "/P": -44,
         "/CF": {"/StdCF": {"/CFM": "/AESV3"}}, "/StmF": "/StdCF"},
        b"",
    )
    assert isinstance(h, UnsupportedEncryption)
    # malformed dict never raises
    h = make_handler({"/Filter": "/Standard", "/V": "x"}, b"")
    assert isinstance(h, UnsupportedEncryption)


def test_encrypted_pdf_corruption_contained():
    """Flipping bytes anywhere in an encrypted document (incl. inside the
    O/U entries and the ciphertext) must never crash — the kernel returns
    a string (the corrupt literal or partial text) for every cut/flip."""
    good = _pdf_doc_pages(random.Random(7), 2, True, encrypt="aesv2")
    for cut in (len(good) // 4, len(good) // 2, len(good) - 10):
        t = extract_pdf(good[:cut])[0]
        assert isinstance(t, str)
    b = bytearray(good)
    for pos in range(50, len(b), max(1, len(b) // 40)):
        mut = bytearray(good)
        mut[pos] ^= 0xA5
        t = extract_pdf(bytes(mut))[0]
        assert isinstance(t, str)


def test_per_object_keys_differ():
    """Two streams enciphered under the same file key must use different
    per-object keys (Algorithm 1 salts with the object number)."""
    h = StdDecryptor(b"\x01" * 16, aes=False)
    c1 = h.encrypt(1, b"same plaintext bytes")
    c2 = h.encrypt(2, b"same plaintext bytes")
    assert c1 != c2
    assert h.decrypt(1, c1) == b"same plaintext bytes"
    assert h.decrypt(2, c2) == b"same plaintext bytes"


def test_file_key_derivation_is_r_sensitive():
    """R2 (no MD5 hardening) and R3 (50× MD5) must derive different keys
    from identical inputs — guards the revision branch in Algorithm 2."""
    o = compute_o_entry(b"owner", b"", 2, 5)
    k2 = compute_file_key(b"", o, -44, b"idid", 2, 5)
    k3 = compute_file_key(b"", o, -44, b"idid", 3, 5)
    assert k2 != k3
    u2 = compute_u_entry(k2, b"idid", 2)
    u3 = compute_u_entry(k3, b"idid", 3)
    assert len(u2) == 32 and len(u3) == 32 and u2 != u3


@pytest.mark.parametrize("mode", ["rc4-128", "aesv2"])
def test_encrypted_objstm_pdf(mode):
    """The modern encrypted shape: 1.5+ ObjStm layout + encryption. The
    ObjStm container is enciphered under its own object number, embedded
    objects are not separately encrypted, the xref STREAM is plaintext."""
    ref = extract_pdf(_pdf_doc_pages(random.Random(11), 3, True))
    enc = extract_pdf(
        _pdf_doc_pages(random.Random(11), 3, True, objstm=True, encrypt=mode)
    )
    assert enc[0] == ref[0]
    assert "PDF is encrypted; opened with empty user password" in enc[2]
    # corruption containment on the combined layout
    good = _pdf_doc_pages(random.Random(7), 2, True, objstm=True, encrypt=mode)
    for cut in (len(good) // 3, len(good) - 15):
        assert isinstance(extract_pdf(good[:cut])[0], str)


def test_aes256_objstm_and_password():
    """V=5/R6: modern layout round-trip + fail-closed password check."""
    ref = extract_pdf(_pdf_doc_pages(random.Random(11), 3, True))
    enc = extract_pdf(
        _pdf_doc_pages(random.Random(11), 3, True, objstm=True, encrypt="aes256")
    )
    assert enc[0] == ref[0]
    doc = _pdf_doc_pages(
        random.Random(11), 2, True, encrypt="aes256", user_password=b"pw"
    )
    text, _, logs = extract_pdf(doc)
    assert text == CORRUPT_LITERAL
    assert any("password required" in l for l in logs)


def test_hash_r6_structure():
    """The R6 hardening must be salt- and udata-sensitive and 32 bytes."""
    from universal_text_extractor_spark.kernels.pdf_crypt import hash_r6

    a = hash_r6(b"", b"saltsalt")
    assert len(a) == 32
    assert a != hash_r6(b"", b"SALTSALT")
    assert a != hash_r6(b"", b"saltsalt", b"udata")
    assert a == hash_r6(b"", b"saltsalt")  # deterministic


def _minimal_pdf_with_string(s: bytes) -> bytes:
    """Hand-built unencrypted PDF whose single page shows ``s`` in a
    literal string (uncompressed content stream)."""
    content = b"BT /F1 12 Tf 72 720 Td (" + s + b") Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n0\n%%EOF\n"
    return bytes(out)


def test_encrypt_marker_in_page_string_is_not_encryption():
    """ADVICE r3 (medium): '/Encrypt N G R' bytes inside page CONTENT must
    not flip the document to encrypted — only trailer-context /Encrypt
    counts (classic trailer dict or /Type /XRef dict). The reference
    (PyMuPDF) extracts such documents fine."""
    pdf = _minimal_pdf_with_string(b"see /Encrypt 1 0 R marker in prose")
    text = extract_pdf(pdf)[0]
    assert text != CORRUPT_LITERAL
    assert "see /Encrypt 1 0 R marker in prose" in text


def test_id_marker_in_payload_does_not_poison_file_key():
    """ADVICE r3 (low): an '/ID [<hex>]'-looking sequence outside the
    trailer must not corrupt the file id used for key derivation — an
    openable encrypted PDF stays openable."""
    enc = _pdf_doc_pages(random.Random(11), 2, True, encrypt="rc4-128")
    want = extract_pdf(enc)[0]
    assert want != CORRUPT_LITERAL
    # append a junk top-level object whose string carries both decoys;
    # the object scan parses it, but trailer-scoped lookup ignores it
    tampered = enc + (
        b"\n99 0 obj\n(decoy /ID [<00112233445566778899aabbccddeeff>]"
        b" and /Encrypt 99 0 R)\nendobj\n"
    )
    assert extract_pdf(tampered)[0] == want


def test_encrypted_pdf_with_damaged_trailer_still_decrypts():
    """ADVICE r4 (low): an encrypted PDF whose trailer KEYWORD is damaged
    (so no trailer-context dict parses at all) must not be treated as
    plaintext — the whole-payload fallback scan resolves the /Encrypt
    object, checks it structurally looks like a crypt dict, and decrypts
    with the regex-recovered /ID."""
    enc = _pdf_doc_pages(random.Random(11), 2, True, encrypt="rc4-128")
    want = extract_pdf(enc)[0]
    assert want != CORRUPT_LITERAL
    damaged = enc.replace(b"trailer", b"tr@iler")
    assert damaged != enc  # the fixture really is classic-trailer
    assert extract_pdf(damaged)[0] == want


def test_damaged_trailer_plus_encrypt_decoy_stays_plaintext():
    """The r4 false-positive class stays closed under the fallback: a
    PLAINTEXT document with a damaged trailer and an '/Encrypt 1 0 R'
    decoy in page prose resolves to the Catalog dict — structurally not
    a crypt dict — so extraction proceeds as plaintext."""
    pdf = _minimal_pdf_with_string(b"see /Encrypt 1 0 R marker in prose")
    damaged = pdf.replace(b"trailer", b"tr@iler")
    text = extract_pdf(damaged)[0]
    assert text != CORRUPT_LITERAL
    assert "see /Encrypt 1 0 R marker in prose" in text


def test_damaged_trailer_plus_stream_dict_decoy_stays_plaintext():
    """r5 review finding: virtually every ordinary stream dict carries
    ``/Filter /FlateDecode``, so a damaged-trailer decoy that resolves to
    ONE of those must not pass the fallback's structural gate (a bare
    /Filter is not an encryption-dict marker — only /Filter /Standard,
    /O+/U, or /V+/R are). Before the gate was tightened this document
    came back as the corrupt literal despite being plaintext."""
    import zlib

    pdf = _minimal_pdf_with_string(b"prose mentions /Encrypt 5 0 R here")
    blob = zlib.compress(b"unrelated flate stream payload")
    decoy = (
        b"5 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(blob)).encode()
        + b" >>\nstream\n"
        + blob
        + b"\nendstream\nendobj\n"
    )
    tampered = pdf.replace(b"trailer", decoy + b"tr@iler")
    text = extract_pdf(tampered)[0]
    assert text != CORRUPT_LITERAL
    assert "prose mentions /Encrypt 5 0 R here" in text


def test_incremental_update_extracts_latest_revision():
    """r5 review batch 4: an appended revision (signed docs, annotation
    saves) redefines an object after the previous %%EOF — the LATER
    definition must win, like xref-based readers resolve it. Pure
    first-wins extracted the stale pre-update content. Within one
    revision first-wins still guards against 'N 0 obj' byte patterns
    inside stream data."""
    pdf = _minimal_pdf_with_string(b"original text before the update")
    new_content = b"BT /F1 12 Tf 72 720 Td (updated text after signing) Tj ET"
    update = (
        b"4 0 obj\n<< /Length "
        + str(len(new_content)).encode()
        + b" >>\nstream\n"
        + new_content
        + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n0\n%%EOF\n"
    )
    text = extract_pdf(pdf + update)[0]
    assert "updated text after signing" in text
    assert "original text before the update" not in text
