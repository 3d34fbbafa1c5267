"""Pure-Python BLAKE3 (hash / keyed_hash / derive_key modes).

Implemented from the public BLAKE3 specification ("BLAKE3: one function,
fast everywhere", Jean-Philippe Aumasson et al., 2020 — the paper and
the reference-implementation pseudocode in its §2 and §5 are public).
Exists so sensor-UUID identity (reference src/datamodel/sensor.rs:74-80
uses ``blake3::derive_key`` + keyed BLAKE3) is byte-exact with no
compiled dependency; it is the only BLAKE3 the engine uses
(datamodel/sensor.py).

Driver-side only: UUID assignment happens on small per-batch sensor
dimensions (≤ thousands of short strings per micro-batch), never in a
per-row hot path — values/samples are keyed by the already-computed
``sensor_id``. Throughput of this implementation (~MB/s) is therefore
irrelevant to query performance; correctness and zero dependencies are
the point.
"""

from __future__ import annotations

import struct

_MASK = 0xFFFFFFFF
_IV = (
    0x6A09E667, 0xBB67AE85, 0x3C6EF372, 0xA54FF53A,
    0x510E527F, 0x9B05688C, 0x1F83D9AB, 0x5BE0CD19,
)
# Flag bits (spec §2.3).
_CHUNK_START = 1 << 0
_CHUNK_END = 1 << 1
_PARENT = 1 << 2
_ROOT = 1 << 3
_KEYED_HASH = 1 << 4
_DERIVE_KEY_CONTEXT = 1 << 5
_DERIVE_KEY_MATERIAL = 1 << 6

_CHUNK_LEN = 1024
_BLOCK_LEN = 64

# One application of the message permutation (spec table 2).
_PERM = (2, 6, 3, 10, 7, 0, 4, 13, 1, 11, 12, 5, 9, 14, 15, 8)


def _compress(
    cv: tuple, block: tuple, counter: int, block_len: int, flags: int
) -> list:
    """The BLAKE3 compression function: returns all 16 output words
    (callers take the first 8 for chaining values, all 16 for XOF
    output)."""
    v = [
        cv[0], cv[1], cv[2], cv[3], cv[4], cv[5], cv[6], cv[7],
        _IV[0], _IV[1], _IV[2], _IV[3],
        counter & _MASK, (counter >> 32) & _MASK, block_len, flags,
    ]
    m = block

    for rnd in range(7):
        # Columns then diagonals — the G function inlined for speed
        # (pure Python; function-call overhead dominates otherwise).
        for a, b, c, d, x, y in (
            (0, 4, 8, 12, m[0], m[1]),
            (1, 5, 9, 13, m[2], m[3]),
            (2, 6, 10, 14, m[4], m[5]),
            (3, 7, 11, 15, m[6], m[7]),
            (0, 5, 10, 15, m[8], m[9]),
            (1, 6, 11, 12, m[10], m[11]),
            (2, 7, 8, 13, m[12], m[13]),
            (3, 4, 9, 14, m[14], m[15]),
        ):
            va = (v[a] + v[b] + x) & _MASK
            vd = v[d] ^ va
            vd = ((vd >> 16) | (vd << 16)) & _MASK
            vc = (v[c] + vd) & _MASK
            vb = v[b] ^ vc
            vb = ((vb >> 12) | (vb << 20)) & _MASK
            va = (va + vb + y) & _MASK
            vd ^= va
            vd = ((vd >> 8) | (vd << 24)) & _MASK
            vc = (vc + vd) & _MASK
            vb ^= vc
            vb = ((vb >> 7) | (vb << 25)) & _MASK
            v[a], v[b], v[c], v[d] = va, vb, vc, vd
        if rnd < 6:
            m = tuple(m[p] for p in _PERM)

    return [
        v[0] ^ v[8], v[1] ^ v[9], v[2] ^ v[10], v[3] ^ v[11],
        v[4] ^ v[12], v[5] ^ v[13], v[6] ^ v[14], v[7] ^ v[15],
        v[8] ^ cv[0], v[9] ^ cv[1], v[10] ^ cv[2], v[11] ^ cv[3],
        v[12] ^ cv[4], v[13] ^ cv[5], v[14] ^ cv[6], v[15] ^ cv[7],
    ]


def _words(data: bytes) -> tuple:
    """Little-endian 32-bit words, zero-padded to a full 64-byte block."""
    if len(data) < _BLOCK_LEN:
        data = data + b"\x00" * (_BLOCK_LEN - len(data))
    return struct.unpack("<16I", data)


def _chunk_output(
    key: tuple, chunk: bytes, chunk_counter: int, flags: int
) -> tuple:
    """Process one ≤1024-byte chunk; returns the pre-finalization state
    of its LAST block as (input_cv, block_words, block_len, flags) so
    the caller can decide whether that block is the root."""
    blocks = [chunk[i : i + _BLOCK_LEN] for i in range(0, len(chunk), _BLOCK_LEN)]
    if not blocks:  # empty input: a single empty block
        blocks = [b""]
    cv = key
    for i, raw in enumerate(blocks[:-1]):
        f = flags | (_CHUNK_START if i == 0 else 0)
        cv = tuple(_compress(cv, _words(raw), chunk_counter, _BLOCK_LEN, f)[:8])
    last = blocks[-1]
    f = flags | (_CHUNK_START if len(blocks) == 1 else 0) | _CHUNK_END
    return (cv, _words(last), len(last), f, chunk_counter)


def _root_bytes(
    cv: tuple, block: tuple, block_len: int, flags: int, out_len: int
) -> bytes:
    """XOF output: re-compress the root node with an incrementing
    output-block counter (spec §2.6)."""
    out = bytearray()
    counter = 0
    while len(out) < out_len:
        words = _compress(cv, block, counter, block_len, flags | _ROOT)
        out += struct.pack("<16I", *words)
        counter += 1
    return bytes(out[:out_len])


def _hash_all(data: bytes, key: tuple, flags: int, out_len: int) -> bytes:
    """Full tree hash: chunks → binary parent merge → root output.

    The parent merge uses the standard left-subtree-is-a-full-power-of-two
    rule via a chaining-value stack keyed on the chunk counter's trailing
    ones (spec §5.1.2)."""
    n_chunks = max(1, (len(data) + _CHUNK_LEN - 1) // _CHUNK_LEN)

    if n_chunks == 1:
        cv, block, block_len, f, _ = _chunk_output(key, data, 0, flags)
        return _root_bytes(cv, block, block_len, f, out_len)

    # Multi-chunk: the first n-1 chunks finalize to 8-word CVs and merge
    # eagerly (one completed subtree per trailing one-bit of the chunk
    # count — spec §5.1.2); the LAST chunk stays an output node, parents
    # are merged down the stack, and the final merge is kept
    # un-compressed as the root node for XOF output.
    stack: list[tuple] = []
    for idx in range(n_chunks - 1):
        chunk = data[idx * _CHUNK_LEN : (idx + 1) * _CHUNK_LEN]
        cv, block, block_len, f, counter = _chunk_output(key, chunk, idx, flags)
        new_cv = tuple(_compress(cv, block, counter, block_len, f)[:8])
        total = idx + 1
        while total & 1 == 0:
            left = stack.pop()
            new_cv = tuple(
                _compress(key, left + new_cv, 0, _BLOCK_LEN, flags | _PARENT)[:8]
            )
            total >>= 1
        stack.append(new_cv)

    last = data[(n_chunks - 1) * _CHUNK_LEN :]
    cv, block, block_len, f, counter = _chunk_output(
        key, last, n_chunks - 1, flags
    )
    cur = tuple(_compress(cv, block, counter, block_len, f)[:8])
    while len(stack) > 1:
        left = stack.pop()
        cur = tuple(
            _compress(key, left + cur, 0, _BLOCK_LEN, flags | _PARENT)[:8]
        )
    return _root_bytes(key, stack[0] + cur, _BLOCK_LEN, flags | _PARENT, out_len)


def blake3_hash(data: bytes, out_len: int = 32) -> bytes:
    """Default (unkeyed) BLAKE3."""
    return _hash_all(data, _IV, 0, out_len)


def blake3_keyed(key: bytes, data: bytes, out_len: int = 32) -> bytes:
    """Keyed BLAKE3 (MAC mode) — 32-byte key."""
    if len(key) != 32:
        raise ValueError("blake3 key must be exactly 32 bytes")
    return _hash_all(data, struct.unpack("<8I", key), _KEYED_HASH, out_len)


def blake3_derive_key(context: str, key_material: bytes, out_len: int = 32) -> bytes:
    """KDF mode: hash the context string (DERIVE_KEY_CONTEXT) into a
    context key, then hash the key material keyed by it
    (DERIVE_KEY_MATERIAL) — matches ``blake3::derive_key``."""
    ctx_key = _hash_all(context.encode(), _IV, _DERIVE_KEY_CONTEXT, 32)
    return _hash_all(
        key_material, struct.unpack("<8I", ctx_key), _DERIVE_KEY_MATERIAL, out_len
    )
