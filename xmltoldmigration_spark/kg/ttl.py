"""Minimal Turtle reader for the reference golden corpus.

rdflib is not available in this environment, and the golden files
(/root/reference/src/test/ttl/*.ttl) are machine-written Jena TTL with a
constrained grammar: @prefix headers, dotted statement blocks with ';'
predicate lists and ',' object lists, prefixed names or <IRI>s, and
literals with optional @lang / ^^datatype.  No blank nodes, no
triple-quoted strings, no collections (verified over the whole corpus).

Returns triples in the engine's tuple shape:
    (subject, predicate, o_kind, o_value, o_lang, o_datatype)
"""

from __future__ import annotations

import re

from xmltoldmigration_spark.kg.model import RDF, XSD

_TOKEN = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<iriref><[^>]*>)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<atprefix>@prefix|@base)
  | (?P<langtag>@[a-zA-Z][a-zA-Z0-9-]*)
  | (?P<dtmark>\^\^)
  | (?P<kw>true\b|false\b)
  | (?P<pname>[A-Za-z_][\w.-]*:[\w./#-]*|:[\w./#-]*|a\b)
  | (?P<number>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<punct>[;,.\[\]])
  | (?P<ws>\s+)
    """,
    re.VERBOSE,
)

_STRING_ESCAPES = {
    "t": "\t",
    "b": "\b",
    "n": "\n",
    "r": "\r",
    "f": "\f",
    '"': '"',
    "'": "'",
    "\\": "\\",
}


def _unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            if n == "u":
                out.append(chr(int(s[i + 2 : i + 6], 16)))
                i += 6
                continue
            if n == "U":
                out.append(chr(int(s[i + 2 : i + 10], 16)))
                i += 10
                continue
            out.append(_STRING_ESCAPES.get(n, n))
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _tokenize(text: str):
    pos = 0
    n = len(text)
    while pos < n:
        m = _TOKEN.match(text, pos)
        if m is None:
            raise ValueError(f"ttl: cannot tokenize at {pos}: {text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        # 'true'/'false'/'a' can also lex as pname; disambiguate on value
        yield kind, m.group()


class _Parser:
    def __init__(self, text: str):
        self.toks = list(_tokenize(text))
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.triples: list[tuple] = []

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expand(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise ValueError(f"ttl: unknown prefix {pfx!r} in {pname!r}")
        return self.prefixes[pfx] + local

    def parse(self):
        while self.i < len(self.toks):
            kind, val = self.peek()
            if kind == "atprefix":
                self.next()
                _, pname = self.next()
                _, iriref = self.next()
                k2, dot = self.next()
                if dot != ".":
                    raise ValueError("ttl: malformed @prefix")
                self.prefixes[pname.rstrip(":")] = iriref[1:-1]
                continue
            self.parse_statement()
        return self.triples

    def parse_node(self):
        """Returns ('iri', value) or ('lit', value, lang, datatype)."""
        kind, val = self.next()
        if kind == "iriref":
            return ("iri", val[1:-1], None, None)
        if kind == "pname":
            if val == "a":
                return ("iri", RDF + "type", None, None)
            return ("iri", self.expand(val), None, None)
        if kind == "kw":
            return ("lit", val, None, XSD + "boolean")
        if kind == "number":
            if "." in val or "e" in val or "E" in val:
                return ("lit", val, None, XSD + "decimal")
            return ("lit", val, None, XSD + "integer")
        if kind == "string":
            value = _unescape(val[1:-1])
            nkind, nval = self.peek()
            if nkind == "langtag":
                self.next()
                return ("lit", value, nval[1:], None)
            if nkind == "dtmark":
                self.next()
                dkind, dval = self.next()
                dt = dval[1:-1] if dkind == "iriref" else self.expand(dval)
                return ("lit", value, None, dt)
            return ("lit", value, None, None)
        raise ValueError(f"ttl: unexpected token {kind} {val!r}")

    def parse_statement(self):
        skind, sval, _, _ = self.parse_node()
        if skind != "iri":
            raise ValueError("ttl: subject must be an IRI")
        while True:
            pkind, pval, _, _ = self.parse_node()
            while True:
                o = self.parse_node()
                self.triples.append((sval, pval, o[0], o[1], o[2], o[3]))
                k, v = self.peek()
                if k == "punct" and v == ",":
                    self.next()
                    continue
                break
            k, v = self.next()
            if v == ";":
                # Jena sometimes writes "; ." — tolerate trailing separators
                k2, v2 = self.peek()
                if k2 == "punct" and v2 == ".":
                    self.next()
                    return
                continue
            if v == ".":
                return
            raise ValueError(f"ttl: expected ; or . got {v!r}")


def parse_ttl(text: str) -> list[tuple]:
    """Parse a Turtle document -> [(s, p, o_kind, o_value, o_lang, o_dt)]."""
    return _Parser(text).parse()


def parse_ttl_file(path: str) -> list[tuple]:
    with open(path, encoding="utf-8") as f:
        return parse_ttl(f.read())
