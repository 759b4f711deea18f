"""Property-based robustness for the scalar layer (hypothesis).

At 10^12-file scale the parse stage WILL see garbage; every scalar
function must be total (no uncaught exceptions) and, where meaningful,
idempotent.  Record-level failures degrade to error rows, never task
failures."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from xmltoldmigration_spark.functions import lang as L
from xmltoldmigration_spark.functions import text as T

any_text = st.text(max_size=80)


@settings(max_examples=300, deadline=None)
@given(any_text)
def test_normalize_string_total_and_stable(s):
    # not strictly idempotent (the reference's wrapping-quote strip makes
    # `' "'` -> `'"'` -> `''`, CommonMigration.java:723-727) but must
    # stabilize and never raise
    a = T.normalize_string(s)
    b = T.normalize_string(a)
    assert T.normalize_string(b) == b


@settings(max_examples=300, deadline=None)
@given(any_text)
def test_parse_dates_total(s):
    for prop, lex, dt in T.parse_dates(s):
        assert prop in ("onYear", "notBefore", "notAfter", "eventWhen")
        assert isinstance(lex, str)


@settings(max_examples=300, deadline=None)
@given(any_text)
def test_ewts_functions_total(s):
    L.add_ewts_shad(s)
    L.normalize_ewts(s)
    L.ewts_has_warnings(s)
    L.is_likely_english(s)
    L.guess_lang(s)
    L.normalize_tibetan(s)


@settings(max_examples=200, deadline=None)
@given(any_text, any_text)
def test_bcp47_total(lang, enc):
    tag = L.get_bcp47(lang, enc, "en")
    assert tag is None or isinstance(tag, str)


@settings(max_examples=200, deadline=None)
@given(any_text)
def test_qcdate_total(s):
    from xmltoldmigration_spark.kg.migrators.imagegroup import qcdate_to_xsd

    r = qcdate_to_xsd(s)
    assert r is None or (isinstance(r[0], str) and r[1].startswith("http"))


@settings(max_examples=200, deadline=None)
@given(any_text)
def test_urls_total(s):
    T.normalize_tol_url(s)
    T.rid_from_tbrc_url(s)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=9999), min_size=1, max_size=30, unique=True))
def test_image_list_roundtrip_property(nums):
    from xmltoldmigration_spark.functions.imagelist import (
        encode_image_list,
        get_image_nums,
    )

    nums = sorted(nums)
    src = "|".join(f"IMG{n:04d}.tif" for n in nums)
    rle, total, missing, _ = encode_image_list(src)
    assert total == len(nums)
    decoded = get_image_nums(rle, missing)
    # every encoded image decodes to its ordinal position among pages
    assert set(decoded) == {f"img{n:04d}.tif" for n in nums}


# ---------------------------------------------------------------- simhash

# every ASCII code point (str.split() whitespace, C0 separators, NUL)
# plus no-break space, ideographic space and the Tibetan tsheg
_SIMHASH_ALPHABET = [chr(c) for c in range(128)] + ["\u00a0", "\u3000", "\u0f0b"]


@given(st.lists(st.text(alphabet=_SIMHASH_ALPHABET, max_size=80), max_size=40))
@example(["\x08\r\x08\x00"])
@example(["\x00", "\x000"])
@example(["h\u00e9llo w\u00f6rld", "plain ascii doc", "\u00a0nbsp separated\u2003em"])
@settings(max_examples=80, deadline=None)
def test_simhash_deterministic_and_batch_consistent(texts):
    import pandas as pd

    from xmltoldmigration_spark.operators.simhash import _simhash_from_texts, simhash64

    batch = _simhash_from_texts(pd.Series(texts, dtype=object))
    assert len(batch) == len(texts)
    for t, v in zip(texts, batch):
        assert simhash64(t) == int(v)
        assert simhash64(t) == simhash64(t)


def test_simhash_sub_chunks_match_per_text(monkeypatch):
    """A 3-token budget splits the batch into several sub-chunks; a doc
    longer than the budget must form a sub-chunk on its own, and empty
    docs are skipped, without changing any fingerprint."""
    import pandas as pd

    from xmltoldmigration_spark.operators import simhash

    texts = ["", "a", "b c", "   ", "d e f g h i j", "", "k l", "m", "n o", None, "p"]
    expected = [simhash.simhash64(t) for t in texts]
    chunks = []
    vote = simhash._vote

    def spy(hashes, lengths):
        chunks.append(lengths.tolist())
        return vote(hashes, lengths)

    monkeypatch.setattr(simhash, "_CHUNK_TOKENS", 3)
    monkeypatch.setattr(simhash, "_vote", spy)
    batch = simhash._simhash_from_texts(pd.Series(texts, dtype=object))
    assert chunks == [[1, 2], [7], [2, 1], [2, 1]]
    assert [int(v) for v in batch] == expected
    assert expected[0] == expected[3] == expected[9] == 0


def test_simhash_locality():
    from xmltoldmigration_spark.operators.simhash import hamming64, simhash64

    base = "the quick brown fox jumps over the lazy dog " * 30
    near = base + "one extra token"
    far = "completely different material about parquet row groups " * 30
    assert hamming64(simhash64(base), simhash64(near)) <= 6
    assert hamming64(simhash64(base), simhash64(far)) >= 20


# ---------------------------------------------------------------- rkts ttl

@given(st.integers(min_value=0, max_value=3))
@settings(max_examples=10, deadline=None)
def test_rkts_routing_pure(i):
    from xmltoldmigration_spark.kg.transfers import rkts

    ttl = ('@prefix bdr: <http://purl.bdrc.io/resource/> .\n'
           '@prefix bdo: <http://purl.bdrc.io/ontology/core/> .\n'
           f'bdr:X{i} a bdo:Work .\n')
    rid = rkts.EDITION_RIDS[i]
    rows = rkts.triples_for_file(f"{rid}_00{i}.ttl", ttl, False)
    assert rows and all(r[0] == "triple" and r[1] == rid for r in rows)
    rows_split = rkts.triples_for_file(f"{rid}_00{i}.ttl", ttl, True)
    assert all(r[1] == "O" + rid[2:] for r in rows_split)
    # WA0R abstract gains exactly 4 admin sidecar triples
    wa_rows = rkts.triples_for_file(f"WA0RT{i:04d}.ttl", ttl, False)
    adm = "http://purl.bdrc.io/ontology/admin/"
    assert sum(1 for r in wa_rows if r[2].startswith("http://purl.bdrc.io/admindata/")
               or r[3].startswith(adm)) >= 3
