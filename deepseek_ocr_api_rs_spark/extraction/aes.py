"""AES-128/192/256 in CBC and ECB modes (FIPS-197), run by OpenSSL.

Serves PDF encrypted streams (extraction/pdf_real.py) and their fixture
writer. The AES-256 Algorithm 2.B hash runs ≥64 CBC passes of 2-5 KB: a
pure-Python cipher spent about 1 s per document there, libcrypto a few ms.
libcrypto is reached through the stdlib's ``_hashlib``, which has already
mapped it: no third-party package, no ``ldconfig`` lookup, no added memory
but the ctypes glue. Each call uses a fresh context; threads share nothing.
"""

from __future__ import annotations

import _hashlib
import ctypes

_lib = ctypes.CDLL(_hashlib.__file__)
_p, _s, _i = ctypes.c_void_p, ctypes.c_char_p, ctypes.c_int


def _bind(name: str, restype, *argtypes):
    fn = getattr(_lib, name)
    fn.restype, fn.argtypes = restype, list(argtypes)
    return fn


_ctx_new = _bind("EVP_CIPHER_CTX_new", _p)
_ctx_free = _bind("EVP_CIPHER_CTX_free", None, _p)
_init = _bind("EVP_CipherInit_ex", _i, _p, _p, _p, _s, _s, _i)
_set_padding = _bind("EVP_CIPHER_CTX_set_padding", _i, _p, _i)
_update = _bind("EVP_CipherUpdate", _i, _p, _s, ctypes.POINTER(_i), _s, _i)
_CIPHERS = {
    (mode, n): _bind(f"EVP_aes_{n * 8}_{mode}", _p)()
    for mode in ("cbc", "ecb")
    for n in (16, 24, 32)
}


def _crypt(mode: str, key: bytes, iv: bytes | None, data: bytes, enc: int) -> bytes:
    """One unpadded AES pass over ``data`` (enc=1 encrypts, 0 decrypts)."""
    cipher = _CIPHERS.get((mode, len(key)))
    if cipher is None or (iv is not None and len(iv) != 16):
        raise ValueError("AES needs a 16, 24 or 32-byte key and a 16-byte IV")
    data = bytes(data)
    out, n = ctypes.create_string_buffer(len(data) + 16), _i(0)
    ctx = _ctx_new()
    try:
        ok = ctx and (
            _init(ctx, cipher, None, bytes(key), iv and bytes(iv), enc)
            and _set_padding(ctx, 0)
            and _update(ctx, out, ctypes.byref(n), data, len(data))
        )
    finally:
        _ctx_free(ctx)
    if not ok:
        raise ValueError("OpenSSL AES call failed")
    return out.raw[: n.value]


def cbc_decrypt(key: bytes, iv_and_data: bytes) -> bytes | None:
    """PDF AESV2/AESV3 layout: the 16-byte IV prefixes the ciphertext;
    PKCS#7 padding stripped tolerantly (malformed padding → None)."""
    if len(iv_and_data) < 32 or len(iv_and_data) % 16:
        return None
    out = _crypt("cbc", key, iv_and_data[:16], iv_and_data[16:], 0)
    pad = out[-1]
    if not (1 <= pad <= 16) or out[-pad:] != bytes([pad]) * pad:
        return None
    return out[:-pad]


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Fixture-side inverse: PKCS#7 pad, prefix the IV (PDF layout)."""
    pad = 16 - len(data) % 16
    return iv + _crypt("cbc", key, iv, data + bytes([pad]) * pad, 1)


def cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC, no padding, no IV prefix: the Algorithm 2.B step and the
    /UE //OE file-key wrap, both on exact 16-byte multiples."""
    if len(data) % 16:
        raise ValueError("nopad CBC needs a 16-byte multiple")
    return _crypt("cbc", key, iv, data, 1)


def cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes | None:
    """Inverse of ``cbc_encrypt_nopad``; None on a partial or empty input."""
    if len(data) % 16 or not data:
        return None
    return _crypt("cbc", key, iv, data, 0)


def ecb_encrypt_block(key: bytes, block: bytes) -> bytes:
    """Single-block ECB — the /Perms entry of the V5 encrypt dict."""
    return _crypt("ecb", key, None, block, 1)


def ecb_decrypt_block(key: bytes, block: bytes) -> bytes:
    return _crypt("ecb", key, None, block, 0)
