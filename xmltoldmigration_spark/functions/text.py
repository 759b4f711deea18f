"""String/URL/date scalar transforms (SURVEY.md §2.3 C1, C6-C10, C16).

Semantics pinned by MigrationTest.java:123-209 and the cited reference
lines; implementations are fresh Python.
"""

from __future__ import annotations

import hashlib
import re

# C1 — CommonMigration.normalizeString (CommonMigration.java:721-734):
# Java \s with UNICODE_CHARACTER_CLASS + \p{Cntrl} + U+180E.
_WS = re.compile("[\\u180E\\s\\x00-\\x1f\\x7f-\\x9f]+")


def normalize_string(s: str, keep_spaces: bool = False) -> str:
    if s.startswith('"'):
        s = re.sub(r'^"|"$', "", s)
    if keep_spaces:
        return s.strip()
    return _WS.sub(" ", s).strip()


# C10 — md5 minting (OutlineMigration.getMd5:492-503, %032X = uppercase)
def md5_hex(s: str, nchars: int = 6) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest().upper()[:nchars]


def dst_shard(base_name: str) -> str:
    """Output sharding: first 2 hex chars of md5, lowercase
    (MigrationApp.getDstFileName:133-147)."""
    return hashlib.md5(base_name.encode("utf-8")).hexdigest()[:2]


# C9 — URL normalization (CommonMigration.java:806-839)
def rid_from_tbrc_url(url: str) -> str:
    i = url.find("RID=")
    res = url
    if i > 0:
        res = res[i + 4 :]
    else:
        i = res.find("-")
        return res[i + 1 :]
    i = res.find("$")
    if i > 0:
        res = res[:i]
    i = res.find("#")
    if i > 0:
        res = res[:i]
    i = res.find("|")
    if i >= 0:
        res = res[i + 1 :]
    return res


# C6 — EDTF date parsing (CommonMigration.addDates:306-396).
EDTF_DT = "http://id.loc.gov/datatypes/edtf"
XSD_GYEAR = "http://www.w3.org/2001/XMLSchema#gYear"


def pad_edtf_zeros(edtf: str) -> str:
    return re.sub(r"(^|[^\dX])([\dX]{3})([^\dX]|$)", r"\g<1>0\g<2>\g<3>", edtf)


def year_lex(s: str) -> str:
    """int-parse + zero-pad to 4 (CommonMigration.yearLit:291-299); raises ValueError."""
    return "%04d" % int(s)


def parse_dates(date_str: str | None) -> list[tuple[str, str, str | None]]:
    """Normalize a messy date string into dated-event properties.

    Returns [(prop_local, lexical, datatype)] with prop in
    onYear/notBefore/notAfter/eventWhen; mirrors CommonMigration.addDates.
    """
    if not date_str:
        return []
    s = normalize_string(date_str)
    s = s.replace(" ", "").replace("[", "").replace("]", "").replace("u", "X")
    if len(s) < 3:
        return []
    if s.startswith("c."):
        s = s[2:].strip() + "~"
    if s.endswith("?"):
        if len(s) < 5 and s.startswith("1"):
            s = s.replace("?", "X").replace("-", "X")
        else:
            s = s[:-1]
    if len(s) > 1 and s[1] == ".":  # b. / d.
        s = s[2:].strip()
    if s.endswith(".000000"):
        s = s[:-7]
    out: list[tuple[str, str, str | None]] = []
    try:
        out.append(("onYear", year_lex(s), XSD_GYEAR))
        return out
    except ValueError:
        pass
    keepdate = "?" in s or "~" in s
    if keepdate:
        try:
            out.append(("onYear", year_lex(s[:-1]), XSD_GYEAR))
            out.append(("eventWhen", s, EDTF_DT))
            return out
        except ValueError:
            out = []
    slashidx = s.find("/")
    if slashidx == -1:
        slashidx = s.find("-")
        if slashidx == 0:
            slashidx = -1
    if slashidx != -1:
        first, second = s[:slashidx], s[slashidx + 1 :]
        if keepdate:
            out.append(
                ("eventWhen", pad_edtf_zeros(first) + "/" + pad_edtf_zeros(second), EDTF_DT)
            )
        try:
            out.append(("notBefore", year_lex(first.replace("X", "0")), XSD_GYEAR))
        except ValueError:
            pass
        try:
            out.append(("notAfter", year_lex(second.replace("X", "9")), XSD_GYEAR))
        except ValueError:
            pass
        return out
    if "X" in s:
        try:
            out.append(("notBefore", year_lex(s.replace("X", "0")), XSD_GYEAR))
        except ValueError:
            pass
        try:
            out.append(("notAfter", year_lex(s.replace("X", "9")), XSD_GYEAR))
        except ValueError:
            pass
        if keepdate:
            out.append(("eventWhen", pad_edtf_zeros(s), EDTF_DT))
        return out
    out.append(("eventWhen", s, EDTF_DT))
    return out


# C7 — literalFromXsdDate (CommonMigration.java:865-881)
XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"
XSD_DATETIME = "http://www.w3.org/2001/XMLSchema#dateTime"

_ISO_DT = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2}(?:\.\d+)?)(Z|[+-]\d{2}:\d{2})?$"
)


def xsd_date_literal(s: str) -> tuple[str, str]:
    """-> (lexical, datatype); raises ValueError on junk.

    Jena's XSDDateTime keeps the original lexical form for valid input;
    d/m/yy slash dates become ISO dates (CommonMigration.java:865-881).
    """
    if "/" in s:
        parts = s.split("/")
        if len(parts) == 3:
            yr = ("20" + parts[2]) if len(parts[2]) == 2 else parts[2]
            mo = parts[1].zfill(2)
            dy = parts[0].zfill(2)
            s = f"{yr}-{mo}-{dy}"
        if not re.match(r"^\d{4}-\d{2}-\d{2}$", s):
            raise ValueError(f"bad xsd:date {s!r}")
        return s, XSD_DATE
    m = _ISO_DT.match(s)
    if not m:
        raise ValueError(f"bad xsd:dateTime {s!r}")
    import datetime as _dt

    sec = m.group(6).split(".")[0]
    # Jena rejects impossible dates (e.g. Feb 30) with a
    # DatatypeFormatException -> the reference drops the logDate
    _dt.datetime(
        int(m.group(1)), int(m.group(2)), int(m.group(3)),
        int(m.group(4)), int(m.group(5)), min(int(sec), 59),
    )
    # Jena's XSDDateTime lexical form trims trailing zeros in the
    # fractional seconds (".810Z" -> ".81Z", WorkTestFPL golden)
    if "." in m.group(6):
        whole, frac = m.group(6).split(".")
        frac = frac.rstrip("0")
        canon_sec = whole + ("." + frac if frac else "")
        s = s[: m.start(6)] + canon_sec + (m.group(7) or "")
    return s, XSD_DATETIME


def datetime_to_utc_lex(s: str) -> str:
    """Jena prints XSDDateTime lexical in UTC; normalize +hh:mm offsets."""
    m = _ISO_DT.match(s)
    if not m or m.group(7) in (None, "Z"):
        return s
    import datetime as _dt

    frac = ""
    sec = m.group(6)
    if "." in sec:
        sec, frac = sec.split(".")
        frac = "." + frac
    base = _dt.datetime(
        int(m.group(1)), int(m.group(2)), int(m.group(3)),
        int(m.group(4)), int(m.group(5)), int(sec),
    )
    sign = 1 if m.group(7)[0] == "+" else -1
    hh, mm = int(m.group(7)[1:3]), int(m.group(7)[4:6])
    base -= sign * _dt.timedelta(hours=hh, minutes=mm)
    return base.strftime("%Y-%m-%dT%H:%M:%S") + frac + "Z"


# C16 — isEmptyPubValue (PubinfoMigration.java:754-760)
_EMPTY_PUB = re.compile(r"^\s*\[?\s*(s[\.]?\s?[nl]|n\.?\s?d)\.?\s*\]?\s*$")


def is_empty_pub_value(s: str) -> bool:
    return bool(_EMPTY_PUB.match(s))
