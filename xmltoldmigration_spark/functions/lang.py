"""Language tagging + Tibetan/EWTS text functions.

Reconstructs the behavior of the public bdrc-libraries LangStrings /
EwtsConverter surface used by the reference (pom.xml:188-192) from its
observable behavior: the MigrationTest scalar assertions
(MigrationTest.java:123-159) and the golden-corpus (lang, encoding) ->
BCP-47 pairs.  Covers C2-C5, C20 of SURVEY.md §2.3.
"""

from __future__ import annotations

import re
import unicodedata

# (lang, encoding) -> BCP-47 tag. "" = attribute absent/empty.
_LANG_ENC = {
    ("tibetan", "extendedWylie"): "bo-x-ewts",
    ("tibetan", "native"): "bo",
    ("tibetan", ""): "bo-x-ewts",
    ("tibetan", "tbrcPhonetic"): "bo-x-phon-en-m-tbrc",
    ("tibetan", "alternatePhonetic"): "bo-x-phon-en",
    ("tibetan", "syllables"): "bo-x-syx",
    ("tibetan", "rma"): "bo-x-rma",
    ("english", ""): "en",
    ("english", "native"): "en",
    ("english", "UTF-8"): "en",
    # phonetic renderings of Tibetan carry lang="english" in the XML but
    # are tagged as Tibetan phonetics (TopicTest.xml -> TopicTest.ttl)
    ("english", "tbrcPhonetic"): "bo-x-phon-en-m-tbrc",
    ("english", "alternatePhonetic"): "bo-x-phon-en",
    ("english", "extendedWylie"): "bo-x-ewts",
    ("chinese", "native"): "zh",
    ("chinese", ""): "zh",
    ("chinese", "pinyin"): "zh-latn-pinyin",
    ("chinese", "transliteration"): "zh-x-wade",
    ("sanskrit", ""): "sa",
    ("sanskrit", "native"): "sa",
    ("sanskrit", "withDiacritics"): "sa-x-iast",
    ("sanskrit", "transliteration"): "sa-x-iast",
    ("sanskrit", "rma"): "sa-x-rma",
    ("sanskrit", "extendedWylie"): "sa-x-ewts",
    ("pāli", "kmfemc"): "pi-x-kmfemc",
    ("pali", "kmfemc"): "pi-x-kmfemc",
    ("pāli", "withDiacritics"): "pi-x-iast",
    ("pali", "withDiacritics"): "pi-x-iast",
    ("pāli", "native"): "pi-x-iast",
    ("pali", "native"): "pi-x-iast",
    ("pāli", "km"): "pi-khmr",
    ("pali", "km"): "pi-khmr",
    ("pāli", ""): "pi",
    ("pali", ""): "pi",
    ("khmer", ""): "km",
    ("khmer", "km"): "km",
    ("khmer", "native"): "km",
    ("mongolian", ""): "mn",
    ("french", ""): "fr",
    ("japanese", ""): "ja",
    ("korean", ""): "ko",
    ("hindi", ""): "hi",
    ("nepali", ""): "ne",
    ("russian", ""): "ru",
    ("german", ""): "de",
}

_PINYIN_DIACRITICS = set("āáǎàēéěèīíǐìōóǒòūúǔùǖǘǚǜĀÁǍÀĒÉĚÈĪÍǏÌŌÓǑÒŪÚǓÙǕǗǙǛ")

# Discriminating character pairs for simplified vs traditional Chinese:
# only characters whose simplified and traditional forms DIFFER count as
# evidence; shared characters are ignored. zh-hans wins ties (matching
# the golden corpus distribution).
_TRAD_ONLY = set("範經國學說龍門書館圖舊歷臺灣東蓮覺義會續興乾點錄馬爾縣誌熱欽廣傳釋導讀無雲論語譯註釋蔵釋迦")
_SIMP_ONLY = set("范经国学说龙门书馆图旧历台湾东莲觉义会续兴点录马尔县志热钦广传释导读无云论语译注")


def has_pinyin_diacritics(s: str) -> bool:
    return any(c in _PINYIN_DIACRITICS for c in s)


def is_deva(s: str) -> bool:
    return any("ऀ" <= c <= "ॿ" for c in s)


def is_hani(s: str) -> bool:
    return any("一" <= c <= "鿿" for c in s)


def guess_zh_script(s: str, trad_chars: set) -> str:
    """zh-hans vs zh-hant via the reference's traditional-only char list
    (tclist.txt, loaded by CommonMigration.getTcList:214-226; the
    authority's `trad_chars`) with a small built-in fallback set."""
    trad_chars = trad_chars or _TRAD_ONLY
    trad = sum(1 for c in s if c in trad_chars)
    if trad_chars is not _TRAD_ONLY:
        return "zh-hant" if trad > 0 else "zh-hans"
    simp = sum(1 for c in s if c in _SIMP_ONLY)
    return "zh-hant" if trad > simp else "zh-hans"


def get_bcp47(lang: str, encoding: str, dflt: str | None = None) -> str | None:
    """XML lang/encoding attributes -> BCP-47 tag (C2).

    Mirrors LangStrings.getBCP47 as pinned by MigrationTest.testGetLiteral
    (tibetan+extendedWylie -> bo-x-ewts, pāli+kmfemc -> pi-x-kmfemc, ...).
    """
    lang = (lang or "").strip()
    encoding = (encoding or "").strip()
    if not lang:
        return dflt
    tag = _LANG_ENC.get((lang.lower(), encoding))
    if tag is None:
        tag = _LANG_ENC.get((lang.lower(), ""))
    return tag if tag is not None else dflt


_DEPRECATED_TIB = {
    "ཷ": "ྲཱྀ",  # no canonical decomposition in NFD
    "ཹ": "ླཱྀ",
}


def normalize_tibetan(s: str) -> str:
    """NFD + expand deprecated codepoints 0F77/0F79 (C5).

    0F73/0F75/0F81 decompose canonically under NFD; 0F77/0F79 only have
    compatibility decompositions, replaced explicitly
    (EtextBodyMigration.java:39-49).
    """
    s = unicodedata.normalize("NFD", s)
    for k, v in _DEPRECATED_TIB.items():
        s = s.replace(k, v)
    return s


def is_combining(c: str) -> bool:
    return unicodedata.combining(c) != 0


def add_ewts_shad(s: str | None) -> str | None:
    """Append terminal shad per Tibetan phonology (CommonMigration.java:2043-2065)."""
    if s is None:
        return s
    s = re.sub(r"[ _/]+$", "", s)
    n = len(s)
    if n < 2:
        return s
    last = s[n - 1]
    finalidx = n - 1
    if last in "aieo":
        last = s[n - 2]
        finalidx = n - 2
    if n > 2 and last == "g" and s[finalidx - 1] == "n":
        return s + " /"
    if (
        last == "g"
        or last == "k"
        or (n == 3 and last == "h" and s[finalidx - 1] == "s")
        or (n > 3 and last == "h" and s[finalidx - 1] == "s" and s[finalidx - 2] != "t")
    ):
        return s
    if not ("A" <= last <= "Z" or "a" <= last <= "z"):
        return s
    return s + "/"


def normalize_ewts(s: str) -> str:
    return add_ewts_shad(s.replace("’", "'"))


# EWTS alphabet: letters with Wylie meaning + punctuation the converter
# accepts.  f/q/v/x (and most non-ASCII) have no EWTS reading -> warning.
_EWTS_INVALID = re.compile(r"[fqvxFQV]|[^\x00-\x7f’]")

_ENGLISH_WORDS = frozenset(
    "the of and a an in on to by with from for at or not no vol volume"
    " written work text see also page edition impressions of printed".split()
)


def ewts_has_warnings(s: str) -> bool:
    """Approximate 'EwtsConverter.toUnicode produced warnings' (C3).

    The real converter warns on characters/structures with no EWTS
    reading; the dominant real-world causes are English text and stray
    non-ASCII, which this predicate captures.
    """
    if _EWTS_INVALID.search(s):
        return True
    words = re.findall(r"[a-zA-Z']+", s.lower())
    english = sum(1 for w in words if w in _ENGLISH_WORDS)
    return english >= 2 or (english >= 1 and len(words) <= 2)


def is_likely_english(s: str) -> bool:
    """Port of the LangStrings isLikelyEnglish heuristic's observable effect."""
    words = re.findall(r"[a-zA-Z']+", s.lower())
    if not words:
        return False
    english = sum(1 for w in words if w in _ENGLISH_WORDS or re.search(r"[fqvx]", w))
    return english * 3 >= len(words)


def guess_lang(src: str) -> str:
    """EwtsFixer.guessLang (helpers/EwtsFixer.java:47-54)."""
    if not src:
        return "en"
    c = ord(src[0])
    if 0x0F00 <= c <= 0x0FFF:
        return "bo"
    if c >= 0x2E00:
        return "zh"
    return "en"
