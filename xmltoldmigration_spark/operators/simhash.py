"""SimHash fingerprinting — vectorized pandas UDF (Arrow batches).

64-bit simhash: each token hashes to 64 bits; each bit position accumulates
+1/-1 weighted by token frequency; the sign of each accumulator is the
fingerprint bit. Near-duplicate texts land within small hamming distance.

Python is unavoidable here (bitwise majority vote has no built-in Spark
expression), so each Arrow batch takes one vectorized pass:

- tokens: ``str.split()`` once per document; each sub-chunk's token lists
  flatten into one object array through ``itertools.chain``.
- token hashes: ``pandas.util.hash_array`` (pandas' C SipHash-2-4 plus a
  splitmix64 finish), one call per sub-chunk.
- bit votes: a (tokens x 64) uint8 matrix from ``np.unpackbits`` (8x less
  memory traffic than a uint64 shift matrix) segment-summed per document
  with ``np.add.reduceat`` in the narrowest safe dtype.

Documents are processed in sub-chunks of ~256k tokens so the bit matrix
stays bounded (~16 MB uint8) regardless of Arrow batch size; a document
longer than that forms a sub-chunk on its own.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BIT_POSITIONS = np.arange(64, dtype=np.uint64)
_CHUNK_TOKENS = 1 << 18  # ~256k tokens per reduceat pass


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


def _simhash_from_texts(texts: "pd.Series") -> np.ndarray:
    """uint64 simhash per text; null, empty and whitespace-only texts -> 0."""
    token_lists = [t.split() for t in texts.fillna("").tolist()]
    lengths = np.fromiter(map(len, token_lists), dtype=np.int64, count=len(token_lists))
    out = np.zeros(len(lengths), dtype=np.uint64)
    nz = np.flatnonzero(lengths)
    # sub-chunk by document so the bit matrix stays ~_CHUNK_TOKENS x 64
    start = 0
    while start < len(nz):
        end, budget = start, 0
        while end < len(nz) and (budget == 0 or budget + lengths[nz[end]] <= _CHUNK_TOKENS):
            budget += lengths[nz[end]]
            end += 1
        docs = nz[start:end]
        flat = np.fromiter(
            itertools.chain.from_iterable(token_lists[i] for i in docs),
            dtype=object,
            count=budget,
        )
        # categorize=False: pandas' factorize compares object strings up to
        # the first NUL, so "\x00" and "\x000" in one batch would share
        # a hash; each token is hashed on its own instead (same values)
        out[docs] = _vote(pd.util.hash_array(flat, categorize=False), lengths[docs])
        start = end
    return out


def simhash64(text: str) -> int:
    """Deterministic 64-bit simhash of a whitespace-tokenized text."""
    return int(_simhash_from_texts(pd.Series([text or ""]))[0])


@F.pandas_udf(T.StringType())
def simhash_hex(texts: pd.Series) -> pd.Series:
    """Column UDF: simhash64 of each text as 16 lowercase hex digits."""
    vals = _simhash_from_texts(texts)
    return pd.Series([format(int(v), "016x") for v in vals], index=texts.index)
