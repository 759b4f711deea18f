"""Triple-set comparison against the reference golden corpus.

The reference's own oracle is Jena graph isomorphism
(MigrationHelpers.isSimilarTo, MigrationHelpers.java:643-645): facet-node
IRIs are minted by the external bdrc-libraries artifact whose hash recipe
is not in the repo, so byte-equal IRIs are out of reach by design
(SURVEY.md §7.3).  We replicate the isomorphism check with color
refinement: hash-named facet nodes are canonicalized by their content
signature on BOTH sides, then triple sets are compared for
precision/recall (BASELINE.json: P/R >= 0.95).

Environment metadata rows (adm:facetIndex, adm:gitPath, adm:gitRepo,
adm:graphId — git-working-dir artifacts of the reference run) are
excluded per FIXTURES.md §A.2.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

from xmltoldmigration_spark.kg.model import ADM

# facet prefixes with 8-20 uppercase-hex suffixes are canonicalized;
# LGIM…/LGIGS… (md5-of-content log ids, OutlineMigration.getMd5) and
# outline part RIDs (workId_md5[0:6]) are reproducible and kept verbatim.
_FACET_RE = re.compile(
    r"^(?:http://purl\.bdrc\.io/(?:resource/(?:NM|EV|NT|CR|CL|TT|ID|VL|CM|EL|EP|ER|LH|MF)"
    r"|admindata/LG|resource-nc/auth/SO)|http://www\.w3\.org/2006/vcard/ns#VA)[0-9A-F]{8,20}$"
)

_EXCLUDED_PREDICATES = frozenset(
    ADM + p for p in ("facetIndex", "gitPath", "gitRepo", "graphId")
)


def is_facet(iri: str) -> bool:
    return bool(_FACET_RE.match(iri))


def _prefix_of(iri: str) -> str:
    local = iri.rsplit("/", 1)[-1]
    return local[:2]


def canonicalize(triples: list[tuple], rounds: int = 4) -> frozenset:
    """Rename facet nodes by content signature (color refinement).

    triples: iterable of (s, p, o_kind, o_value, o_lang, o_dt).
    Returns a frozenset of renamed triples with metadata rows dropped.
    """
    triples = [t for t in triples if t[1] not in _EXCLUDED_PREDICATES]
    facets = {t[0] for t in triples if is_facet(t[0])}
    facets |= {t[3] for t in triples if t[2] == "iri" and is_facet(t[3])}
    color = {n: _prefix_of(n) for n in facets}

    for _ in range(rounds):
        nxt = {}
        for n in facets:
            out_sig = sorted(
                (
                    t[1],
                    t[2],
                    color.get(t[3], t[3]) if t[2] == "iri" else t[3],
                    t[4] or "",
                    t[5] or "",
                )
                for t in triples
                if t[0] == n
            )
            in_sig = sorted(
                (color.get(t[0], t[0]), t[1]) for t in triples if t[2] == "iri" and t[3] == n
            )
            nxt[n] = hashlib.md5(
                repr((color[n], out_sig, in_sig)).encode()
            ).hexdigest()[:16].upper()
        color = nxt

    def rename(v, kind="iri"):
        if kind == "iri" and v in color:
            return "facet:" + _prefix_of(v) + color[v]
        return v

    return frozenset(
        (
            rename(t[0]),
            t[1],
            t[2],
            rename(t[3], t[2]),
            t[4],
            t[5],
        )
        for t in triples
    )


@dataclass
class PRResult:
    precision: float
    recall: float
    ours: int
    golden: int
    matched: int
    missing: list  # in golden, not in ours
    extra: list  # in ours, not in golden


def precision_recall(ours: list[tuple], golden: list[tuple]) -> PRResult:
    a = canonicalize(ours)
    b = canonicalize(golden)
    inter = a & b
    return PRResult(
        precision=len(inter) / len(a) if a else 1.0,
        recall=len(inter) / len(b) if b else 1.0,
        ours=len(a),
        golden=len(b),
        matched=len(inter),
        missing=sorted(b - a),
        extra=sorted(a - b),
    )
