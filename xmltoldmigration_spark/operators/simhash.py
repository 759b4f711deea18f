"""SimHash fingerprinting — vectorized pandas UDF (Arrow batches).

64-bit simhash: each token hashes to 64 bits; each bit position accumulates
+1/-1 weighted by token frequency; the sign of each accumulator is the
fingerprint bit. Near-duplicate texts land within small hamming distance.

Python is unavoidable here (bitwise majority vote has no built-in Spark
expression), but the hot loop moves NO per-token Python objects:

- ASCII batches (the common corpus; asserted per-batch, with the legacy
  split()-based path as the general-unicode fallback) take a byte-domain
  pass: all texts concatenate into ONE buffer, token boundaries come from
  a vectorized whitespace mask, and token hashes are computed by a
  numpy-vectorized SipHash-2-4 + splitmix64 over (buffer, offsets,
  lengths) — bit-identical to ``pandas.util.hash_array`` on the token
  strings (pandas' exact object-string hash, verified element-wise in
  tests) without ever materializing a token as a Python string.
- bit votes: a (tokens x 64) uint8 matrix from ``np.unpackbits`` (8x less
  memory traffic than the previous uint64 shift matrix) segment-summed
  per document with ``np.add.reduceat`` in the narrowest safe dtype.

Documents are processed in sub-chunks of ~256k tokens so the bit matrix
stays bounded (~16 MB uint8) regardless of Arrow batch size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BIT_POSITIONS = np.arange(64, dtype=np.uint64)
_CHUNK_TOKENS = 1 << 18  # ~256k tokens per reduceat pass

# ---------------------------------------------------------------- hashing
# pandas.util.hash_array(object strings) = splitmix64(siphash24(utf8 bytes,
# key=b"0123456789123456")) — pandas/core/util/hashing.py:_hash_ndarray
# (the trailing xor/multiply redistribution) over _libs.hashing's siphash.
_SIP_K0 = np.uint64(int.from_bytes(b"01234567", "little"))
_SIP_K1 = np.uint64(int.from_bytes(b"89123456", "little"))
_SIP_IV = (
    np.uint64(0x736F6D6570736575),
    np.uint64(0x646F72616E646F6D),
    np.uint64(0x6C7967656E657261),
    np.uint64(0x7465646279746573),
)


def _rotl(x: np.ndarray, b: int) -> np.ndarray:
    b = np.uint64(b)
    return (x << b) | (x >> np.uint64(64 - b))


def _sipround(v0, v1, v2, v3):
    v0 = v0 + v1
    v1 = _rotl(v1, 13) ^ v0
    v0 = _rotl(v0, 32)
    v2 = v2 + v3
    v3 = _rotl(v3, 16) ^ v2
    v0 = v0 + v3
    v3 = _rotl(v3, 21) ^ v0
    v2 = v2 + v1
    v1 = _rotl(v1, 17) ^ v2
    v2 = _rotl(v2, 32)
    return v0, v1, v2, v3


def _pd_hash_tokens(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``pd.util.hash_array``-compatible uint64 hash of byte slices of `buf`.

    Vectorized over a single concatenated uint8 buffer + (start, length)
    pairs: tokens are grouped by word count and each group runs the
    SipHash-2-4 rounds as whole-array uint64 ops — no per-token Python
    string is ever created.  Bit-identity with pandas is pinned by
    tests/test_scalar_properties.py::test_simhash_byte_hash_matches_pandas.
    """
    out = np.empty(len(starts), dtype=np.uint64)
    if not len(starts):
        return out
    n_full = lens // 8  # full 8-byte words; the final word carries tail+len
    for nf in np.unique(n_full):
        g = np.flatnonzero(n_full == nf)
        st, ln = starts[g], lens[g]
        total = int(nf) * 8 + 8
        # gather (n, total) bytes; indices past the token are clamped into
        # the buffer then zeroed by the length mask
        idx = st[:, None].astype(np.int64) + np.arange(total, dtype=np.int64)
        np.minimum(idx, len(buf) - 1, out=idx)
        raw = buf[idx]
        raw[np.arange(total)[None, :] >= ln[:, None]] = 0
        words = raw.view("<u8")  # (n, nf+1); fancy indexing made raw contiguous
        words[:, -1] |= (ln.astype(np.uint64) & np.uint64(0xFF)) << np.uint64(56)
        v0 = np.full(len(g), _SIP_IV[0] ^ _SIP_K0, dtype=np.uint64)
        v1 = np.full(len(g), _SIP_IV[1] ^ _SIP_K1, dtype=np.uint64)
        v2 = np.full(len(g), _SIP_IV[2] ^ _SIP_K0, dtype=np.uint64)
        v3 = np.full(len(g), _SIP_IV[3] ^ _SIP_K1, dtype=np.uint64)
        for w in range(int(nf) + 1):
            m = words[:, w]
            v3 = v3 ^ m
            v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
            v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
            v0 = v0 ^ m
        v2 = v2 ^ np.uint64(0xFF)
        for _ in range(4):
            v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
        h = v0 ^ v1 ^ v2 ^ v3
        # splitmix64 redistribution (pandas _hash_ndarray tail)
        h ^= h >> np.uint64(30)
        h *= np.uint64(0xBF58476D1CE4E5B9)
        h ^= h >> np.uint64(27)
        h *= np.uint64(0x94D049BB133111EB)
        h ^= h >> np.uint64(31)
        out[g] = h
    return out


# ------------------------------------------------------------------ votes


def _vote(hashes: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """uint64 fingerprints from per-token hashes segment-grouped by doc.

    lengths: per-doc token counts (all > 0, summing to len(hashes)).
    """
    # (tokens x 64) uint8 bit matrix: unpackbits of the little-endian
    # bytes puts bit b in column b — same layout as (hashes >> b) & 1
    bits = np.unpackbits(hashes[:, None].view(np.uint8), axis=1, bitorder="little")
    # narrowest dtype whose per-doc segment sum can't overflow
    sum_dtype = np.int16 if int(lengths.max()) < (1 << 15) else np.int32
    offsets = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    ones = np.add.reduceat(bits.astype(sum_dtype), offsets, axis=0).astype(np.int64)
    # majority vote: acc = 2*ones - n > 0  <=>  ones > n/2
    fp_bits = (2 * ones > lengths[:, None]).astype(np.uint64)
    return (fp_bits << _BIT_POSITIONS).sum(axis=1, dtype=np.uint64)


def _simhash_chunk(flat_tokens: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """uint64 fingerprints for one chunk of documents (object-array path).

    flat_tokens: object array of all tokens, concatenated doc-by-doc.
    lengths: per-doc token counts (all > 0, summing to len(flat_tokens)).
    """
    hashes = pd.util.hash_array(flat_tokens)  # uint64, one cython pass
    return _vote(hashes, lengths)


def _simhash_values(token_lists: "pd.Series") -> np.ndarray:
    """uint64 simhash per entry of a Series of token lists (empty -> 0).

    General-unicode fallback: builds per-token Python objects.  ASCII
    batches take _simhash_ascii instead (same results, no object churn).
    """
    lengths = np.array([len(t) for t in token_lists], dtype=np.int64)
    out = np.zeros(len(lengths), dtype=np.uint64)
    nz_idx = np.nonzero(lengths > 0)[0]
    # sub-chunk by document so the bit matrix stays ~_CHUNK_TOKENS x 64
    start = 0
    while start < len(nz_idx):
        end = start
        tok_budget = 0
        while end < len(nz_idx) and (tok_budget == 0 or tok_budget + lengths[nz_idx[end]] <= _CHUNK_TOKENS):
            tok_budget += lengths[nz_idx[end]]
            end += 1
        idx = nz_idx[start:end]
        flat = np.array(
            [tok for i in idx for tok in token_lists.iloc[i]], dtype=object
        )
        out[idx] = _simhash_chunk(flat, lengths[idx])
        start = end
    return out


# Python str.split() whitespace, ASCII range: \t\n\v\f\r, space, and the
# C0 separators \x1c-\x1f (str.isspace() is True for them)
_ASCII_WS = np.zeros(256, dtype=bool)
_ASCII_WS[[9, 10, 11, 12, 13, 32, 28, 29, 30, 31]] = True


def _simhash_ascii(vals: list[str]) -> np.ndarray:
    """uint64 simhash per ASCII text — the zero-object byte-domain path.

    One encode of the '\\n'-joined batch, vectorized token boundaries,
    vectorized pandas-compatible hashing over (buffer, offsets): per-token
    work is a handful of whole-array numpy ops, and the only per-doc
    Python cost is the len() in the boundary cumsum.
    """
    n_docs = len(vals)
    out = np.zeros(n_docs, dtype=np.uint64)
    if not n_docs:
        return out
    buf = np.frombuffer(("\n".join(vals) + "\n").encode("ascii"), dtype=np.uint8)
    doc_ends = np.cumsum(
        np.fromiter((len(v) + 1 for v in vals), dtype=np.int64, count=n_docs)
    )
    ws = _ASCII_WS[buf]
    nonws = ~ws
    starts = np.flatnonzero(nonws & np.concatenate(([True], ws[:-1])))
    if not len(starts):
        return out
    # a token ends at i iff nonws[i] and ws[i+1]; the buffer's final byte
    # is the appended '\n' (ws), so position N-1 is never a token byte
    ends = np.flatnonzero(nonws[:-1] & ws[1:])
    lens = ends - starts + 1
    hashes = _pd_hash_tokens(buf, starts, lens)
    # tokens are position-ordered, so each doc's hashes are one contiguous
    # slice; vote in ~_CHUNK_TOKENS sub-chunks, never splitting a doc
    counts = np.bincount(
        np.searchsorted(doc_ends, starts, side="right"), minlength=n_docs
    )
    tok_offsets = np.concatenate(([0], np.cumsum(counts)))
    nz = np.flatnonzero(counts)
    start = 0
    while start < len(nz):
        end = start
        budget = 0
        while end < len(nz) and (budget == 0 or budget + counts[nz[end]] <= _CHUNK_TOKENS):
            budget += counts[nz[end]]
            end += 1
        docs = nz[start:end]
        lo, hi = tok_offsets[docs[0]], tok_offsets[docs[-1] + 1]
        out[docs] = _vote(hashes[lo:hi], counts[docs])
        start = end
    return out


def _simhash_from_texts(texts: "pd.Series") -> np.ndarray:
    """Dispatch: byte-domain path for all-ASCII batches (byte offsets ==
    char offsets, so the vectorized tokenizer equals str.split()), legacy
    object path otherwise.  NUL-bearing batches also take the object path:
    pandas' object-string hash stops at NUL, the byte-domain hash does not.
    The two paths agree on every batch routed here (pinned by
    test_simhash_ascii_path_equals_split_path)."""
    vals = texts.fillna("").tolist()
    if all(v.isascii() and "\x00" not in v for v in vals):
        return _simhash_ascii(vals)
    return _simhash_values(pd.Series(vals).str.split())


def simhash64(text: str) -> int:
    """Deterministic 64-bit simhash of a whitespace-tokenized text."""
    return int(_simhash_from_texts(pd.Series([text or ""]))[0])


@F.pandas_udf(T.StringType())
def _simhash_hex(texts: pd.Series) -> pd.Series:
    vals = _simhash_from_texts(texts)
    return pd.Series([format(int(v), "016x") for v in vals], index=texts.index)


def with_simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash_hex") -> DataFrame:
    return df.withColumn(out_col, _simhash_hex(F.col(text_col)))


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")
